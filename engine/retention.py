"""Retention: expire old buckets per tier (the third leg of the north star
"rollup + downsample + RETENTION engine", BASELINE.json:6).

Policy model (TSDB-standard): each tier keeps a trailing window of event
time — finer tiers short, coarser tiers long (e.g. 1m for 7 days, 1h for 90,
1d forever). Expiry is by BUCKET END: a bucket is expired when
``(bucket + 1) * tier_seconds <= now_t - retain_seconds``.

Scale shape: expiry never scans-and-rewrites the whole table.
  1. One aggregate per tier finds, per part_hash partition, the oldest and
     newest bucket (column-pruned scan of two small columns).
  2. Partitions entirely expired are dropped at the MANIFEST level
     (``drop_partitions`` — a metadata-only commit, like Iceberg's
     dropPartition); zero data rewritten.
  3. Only partitions STRADDLING the cutoff are rewritten (filtered
     overwrite). Tiers are partitioned by part_hash(doc_id), not by
     time, so every partition spans the whole time range: a cutoff inside
     the docs' ranges makes nearly every partition a straddler, and this
     step rewrites most of the tier (O(partitions), not O(1)).
Old snapshots still contain the expired rows (time travel unaffected);
physical deletion happens when old snapshots are vacuumed, exactly the
Iceberg expire-snapshots model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat
from engine.schema import TIER_SECONDS
from engine.skew import in_sql, sql_int


def expired_cutoff_bucket(tier: str, now_t: int, retain_seconds: int) -> int:
    """First RETAINED bucket for *tier*: buckets strictly below are expired.

    Bucket b covers [b*B, (b+1)*B); it is expired iff its end is at or
    before now_t - retain_seconds.
    """
    b = TIER_SECONDS[tier]
    horizon = now_t - retain_seconds
    # smallest b with (b+1)*B > horizon  <=>  b >= ceil((horizon - B + 1)/B)
    return max(0, -(-(horizon - b + 1) // b))


def apply_retention(
    fmt: ParquetManifestFormat,
    policy: dict[str, int],
    now_t: int,
) -> dict:
    """Expire buckets older than each tier's retention window.

    *policy* maps tier -> retain_seconds (tiers absent from the policy are
    kept forever). Returns per-tier metrics:
    ``{tier: {cutoff_bucket, dropped_partitions, rewritten_partitions,
    rows_dropped}}``.
    """
    metrics: dict = {}
    for tier, retain_seconds in policy.items():
        if tier not in TIER_SECONDS:
            raise ValueError(f"unknown tier {tier!r}; one of {sorted(TIER_SECONDS)}")
        table = f"rollup_{tier}"
        cutoff = expired_cutoff_bucket(tier, now_t, retain_seconds)
        m = {
            "cutoff_bucket": cutoff,
            "dropped_partitions": 0,
            "rewritten_partitions": 0,
            "rows_dropped": 0,
        }
        metrics[tier] = m
        if cutoff == 0 or fmt.current_snapshot(table) == 0:
            continue
        df = fmt.read(table)
        # (1) per-partition bucket range — column-pruned, tiny result
        ranges = (
            df.groupBy("part_hash")
            .agg(
                F.min("bucket").alias("bmin"),
                F.max("bucket").alias("bmax"),
                F.sum(F.when(F.col("bucket") < cutoff, 1).otherwise(0)).alias("n_exp"),
            )
            .collect()
        )
        fully = [int(r["part_hash"]) for r in ranges if r["bmax"] < cutoff]
        straddle = [
            int(r["part_hash"])
            for r in ranges
            if r["bmin"] < cutoff <= r["bmax"]
        ]
        m["rows_dropped"] = int(sum(r["n_exp"] for r in ranges))
        # per-partition expiry detail so the expiry commit can be recorded
        # in lineage (jobs/retention.py): {part_hash: rows expired}
        m["expired_by_partition"] = {
            int(r["part_hash"]): int(r["n_exp"])
            for r in ranges
            if int(r["n_exp"]) > 0
        }
        # (2) metadata-only drop of fully-expired partitions
        if fully:
            fmt.drop_partitions(table, fully)
            m["dropped_partitions"] = len(fully)
        # (3) rewrite only the straddlers, keeping retained rows
        if straddle:
            keep = df.where(f"{in_sql('part_hash', straddle)} AND bucket >= {sql_int(cutoff)}")
            fmt.overwrite_partitions(keep, table)
            m["rewritten_partitions"] = len(straddle)
    return metrics
