"""Q1-Q4: the downsample read path (SURVEY.md §2.8; BASELINE.json:6
"answers downsample queries (resolution pick, tier fallback, anomaly-flag
filter) as pure DataFrame/SQL operators with no per-row Python").

Everything here returns an UNEXECUTED DataFrame — the caller picks the
action. No Python kernels anywhere on this path, with one deliberate
exception: serve_raw_points (Q5) decodes compression payloads in one
mapInArrow pass (engine/compression.py::decode_raw_points) after Catalyst
has pruned the scan.

Planning is driver work whose cost is counted in py4j round trips, so it
is kept independent of the partitions, docs and snap dirs a read covers:
each filter is one SQL string built from validated values
(engine/skew.py: in_sql, doc_buckets_filter), the cascade is fixed SQL
text (engine/rollup.py), and a snapshot's scan is resolved once per
format instance (engine/io.py::read_at).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from engine.io import ParquetManifestFormat
from engine.lineage import committed_partition_snapshots
from engine.rollup import cascade
from engine.schema import DEFAULT_N_BUCKETS, TIER_ORDER, TIER_SECONDS
from engine.skew import doc_buckets_filter, in_sql, sql_int, with_part_hash


def resolution_pick(resolution_seconds: int) -> str:
    """Q1: coarsest tier whose bucket width still DIVIDES the requested
    resolution, so served buckets always align with the requested grid
    (e.g. 5400 s -> '1m', not '1h': 3600 does not divide 5400) — driver-side
    dict lookup, no data touched. If no tier divides (resolutions finer than
    60 s or off-grid), we return '1m' and the caller decides whether to
    serve raw points instead."""
    best = "1m"
    for tier in TIER_ORDER:  # finest -> coarsest
        if resolution_seconds % TIER_SECONDS[tier] == 0:
            best = tier
    return best


def anomaly_filter(rollup: DataFrame) -> DataFrame:
    """Q3: only buckets containing at least one flagged point."""
    return rollup.where("anom_cnt > 0")


def range_filter(rollup: DataFrame, tier: str, t0: int | None, t1: int | None) -> DataFrame:
    """Q4: positional time-range slice [t0, t1) in raw steps. The predicate
    is on the bucket column — sargable, so it prunes row groups (and, with
    bucket-range partitioning on a cluster, whole partitions). Both
    bounds are one SQL predicate of int literals (engine/skew.py::sql_int:
    a non-int bound raises TypeError)."""
    b = TIER_SECONDS[tier]
    bounds = []
    if t0 is not None:
        bounds.append(f"bucket >= {sql_int(t0 // b)}")
    if t1 is not None:
        bounds.append(f"bucket <= {sql_int((t1 - 1) // b)}")
    return rollup.where(" AND ".join(bounds)) if bounds else rollup


def tier_fallback(
    spark: SparkSession,
    fmt: ParquetManifestFormat,
    tier: str,
    checkpoint_epoch: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
    doc_ids: list[str] | None = None,
) -> DataFrame:
    """Q2: serve a tier from committed partitions, filling holes on the fly
    by cascading the next finer committed tier.

    The committed set comes from lineage (the only source of truth — data
    files without lineage rows are invisible, see engine/lineage.py state
    machine). Each partition is read AT ITS OWN recorded output snapshot
    (lineage carries output_snapshot_id), so querying epoch E after a later
    epoch has overwritten the same part_hash partitions still serves
    epoch-E data — the epoch -> snapshot mapping is durable, not "whatever
    is current". The lineage table is tiny: the partition sets are computed
    driver-side and pushed into IN-list filters, which prune part_hash
    partitions on the scan.

    ``doc_ids`` prunes every scan further, the finer-tier hole fill
    included, to the hash buckets of those docs (engine/skew.py::
    doc_buckets_filter): part_hash is a pure function of doc_id, so the
    other buckets cannot hold their rows. Rows of other docs that share a
    bucket are still returned; the caller filters on doc_id.

    *n_buckets* must be the bucket count the tiers were written with.
    run_rollup records lineage for every bucket 0..N-1, empty ones
    included, so a part_hash >= *n_buckets* in the lineage of the tier (or
    of the finer tier that fills its holes) means the count is too small,
    and this raises rather than prune to the wrong buckets. Too large a
    count leaves buckets committed in neither tier, which raises too.
    """
    doc_filter = doc_buckets_filter(doc_ids, n_buckets) if doc_ids else None

    def _committed(t: str) -> dict[int, int]:
        done = committed_partition_snapshots(fmt.warehouse, t, checkpoint_epoch)
        over = sorted(p for p in done if p >= n_buckets)
        if over:
            raise ValueError(
                f"tier {t}: lineage holds part_hash {over[:5]} >= n_buckets="
                f"{n_buckets}; pass the bucket count the tier was written with"
            )
        return done

    def _scan_committed(t: str, snap_by_part: dict[int, int]) -> DataFrame:
        """Union of per-snapshot scans, each pruned to the partitions that
        lineage pinned to that snapshot (snapshot -1 = legacy row, current)
        and to the requested docs' buckets."""
        by_snap: dict[int, list[int]] = {}
        for p, s in snap_by_part.items():
            by_snap.setdefault(s, []).append(int(p))
        table = f"rollup_{t}"
        pieces = []
        for s in sorted(by_snap):
            df = fmt.read_at(table, s) if s >= 0 else fmt.read(table)
            conds = []
            if len(by_snap[s]) < n_buckets:  # else the IN list prunes nothing
                conds.append(in_sql("part_hash", sorted(by_snap[s])))
            if doc_filter is not None:
                conds.append(doc_filter)
            if conds:
                df = df.where(" AND ".join(conds))
            pieces.append(df)
        out = pieces[0]
        for df in pieces[1:]:
            out = out.unionByName(df)
        return out

    done = _committed(tier)
    holes = [p for p in range(n_buckets) if p not in done]
    parts: list[DataFrame] = []
    if done:
        parts.append(_scan_committed(tier, done))
    if holes:
        idx = TIER_ORDER.index(tier)
        if idx == 0:
            raise ValueError(
                f"tier {tier} has uncommitted partitions {holes[:5]}... and no finer tier to fall back to"
            )
        finer = TIER_ORDER[idx - 1]
        finer_done = _committed(finer)
        missing = [p for p in holes if p not in finer_done]
        if missing:
            raise ValueError(
                f"partitions {missing[:5]}... committed in neither {tier} nor {finer}"
            )
        fine_df = _scan_committed(finer, {p: finer_done[p] for p in holes})
        on_the_fly = cascade(fine_df.drop("part_hash"), finer, tier)
        parts.append(with_part_hash(on_the_fly, n_buckets))
    if not parts:
        raise ValueError(f"tier {tier}: nothing committed for epoch {checkpoint_epoch}")
    out = parts[0]
    for p in parts[1:]:
        # on-the-fly cascades carry no ts_dod/v_gorilla payload columns —
        # they backfill as NULL (frames cannot be merged by re-aggregation)
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def serve_raw_points(
    rollup_1m: DataFrame,
    t0: int | None = None,
    t1: int | None = None,
    doc_ids: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Q5 (round 4): serve RAW points from the 1m tier's compression
    payloads — the finer-than-any-tier read path (resolution_pick returns
    '1m' for off-grid resolutions "and the caller decides whether to serve
    raw points instead"; this is that path, without re-reading the 100 TB
    token table).

    Bucket and doc_id pruning happen FIRST, on the sargable scan columns
    (row-group / partition pruning, as range_filter); only the surviving
    payloads reach Python. One mapInArrow pass (decode_raw_points) decodes
    each row's ts_dod and v_gorilla once, through the vectorized transposed
    decoders (engine/compression.py::*_decompress_many), and emits flat
    (doc_id, t, v) rows already trimmed to the exact [t0, t1), t in raw
    steps.

    Every Python task pays a fixed worker set-up cost (~0.2 CPU-s with
    PySpark 4.1 on Python 3.11), far above the decode itself for a
    dashboard-sized read, so the Python stage is sized by data, not by scan
    splits: a REBALANCE hint before the pass lets AQE coalesce a small read
    into one task while a bulk export still fans out at the advisory
    partition size (the shape of the rebalanced tier writes in
    engine/io.py).

    ``on_error='null'`` quarantines corrupt payloads, and rows whose two
    frames disagree on the point count, instead of failing the scan (their
    buckets simply yield no rows, so a 1m row with cnt > 0 and no served
    point marks one).
    """
    from engine.compression import decode_raw_points

    df = range_filter(rollup_1m, "1m", t0, t1)
    if doc_ids:
        df = df.where(in_sql("doc_id", doc_ids))
    payloads = df.where("cnt > 0").hint("rebalance")
    return decode_raw_points(payloads, t0, t1, on_error)


def downsample(
    spark: SparkSession,
    fmt: ParquetManifestFormat,
    checkpoint_epoch: int,
    doc_ids: list[str] | None = None,
    t0: int | None = None,
    t1: int | None = None,
    resolution_seconds: int = 3600,
    anomalies_only: bool = False,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Q1+Q2+Q3+Q4 composed: the engine's flagship read query.

    ``doc_ids`` both prunes the tier scans to those docs' hash buckets
    (tier_fallback, which also raises if *n_buckets* is smaller than the
    tiers' bucket count) and filters rows on doc_id."""
    tier = resolution_pick(resolution_seconds)
    df = tier_fallback(spark, fmt, tier, checkpoint_epoch, n_buckets, doc_ids)
    df = range_filter(df, tier, t0, t1)
    if doc_ids:
        df = df.where(in_sql("doc_id", doc_ids))
    if anomalies_only:
        df = anomaly_filter(df)
    return df.selectExpr(
        "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
        "vmean", "anom_cnt", "first_v", "last_v",
    )
