"""A2/A4: tier cascade and mergeable sketches (SURVEY.md §2.4;
BASELINE.json:6 "continuous aggregates (min/max/mean/count ...) at
cascading retention tiers raw -> 1m -> 1h -> 1d").

Every written tier is built by engine/fused.py, straight from the raw
series. The cascade re-aggregates min/max/sum/cnt of a finer tier, never
means, so vmean cascades exactly: cascade(1m -> 1h) equals the 1h rollup
taken directly over the points (tests/test_parity.py, against
engine/oracle.py) — which is also why the kernel may emit the coarse
tiers directly. It serves two places where only a finer tier exists:
engine/query.py::tier_fallback fills a coarse tier's uncommitted
partitions from the finer one at read time, and jobs/rollup.py's merge
mode carries the coarse rows of docs outside the batch from the current
1m view. Each cascade level aggregates an already-reduced input (60x/24x
smaller). The distinct-user sketch cascade carries the aggregate that
does not re-aggregate exactly: HLL registers merge, distinct counts do
not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.schema import EPOCH0_EPOCH_SECONDS, TIER_SECONDS


def _bucket_ts(bucket_col, bucket_seconds: int):
    return F.timestamp_seconds(
        F.lit(EPOCH0_EPOCH_SECONDS) + bucket_col * F.lit(bucket_seconds)
    )


def cascade(rollup_fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """A2: re-aggregate a finer tier into a coarser one (1m->1h, 1h->1d).

    Exact because only min/max/sum/cnt cascade; vmean is recomputed from the
    cascaded vsum/cnt. first_v/last_v chain via min_by/max_by on the fine
    bucket id (null-bucket-stat rows ignored through the null ordering key).
    """
    bf, bc = TIER_SECONDS[fine_tier], TIER_SECONDS[coarse_tier]
    if bc % bf != 0 or bc <= bf:
        raise ValueError(f"cannot cascade {fine_tier} -> {coarse_tier}")
    ratio = bc // bf
    bucket_if_data = F.when(F.col("first_v").isNotNull(), F.col("bucket"))
    out = (
        rollup_fine.groupBy(
            "doc_id", F.expr(f"bucket DIV {ratio}").alias("bucket")
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
            F.sum("anom_cnt").alias("anom_cnt"),
            F.min_by("first_v", bucket_if_data).alias("first_v"),
            F.max_by("last_v", bucket_if_data).alias("last_v"),
        )
        .withColumn("vmean", F.col("vsum") / F.nullif(F.col("cnt"), F.lit(0)))
        .withColumn("bucket_ts", _bucket_ts(F.col("bucket"), bc))
    )
    return out.select(
        "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
        "vmean", "anom_cnt", "first_v", "last_v",
    )


def distinct_user_cascade(events: DataFrame, lg_k: int = 12) -> DataFrame:
    """Mergeable-sketch COUNT DISTINCT cascade (round 6): per event_type
    per HOUR, the approximate distinct-user count computed the only way
    a tier cascade can compute it at 100 TB — DataSketches HLL sketches
    built at MINUTE granularity (`hll_sketch_agg`, Spark 4's Apache
    DataSketches integration) and union-merged upward
    (`hll_union_agg`), never re-scanning raw events. Exact COUNT
    DISTINCT does not re-aggregate (distinct users per hour is not the
    sum of distinct users per minute), which is why the A2 cascade
    cannot carry it exactly; the sketch IS the mergeable carrier — the
    same register-maxima algebra whatever the merge tree shape, so the
    minute->hour union yields the IDENTICAL estimate to sketching the
    hour directly (pinned in pytest, along with the rsd error bound vs
    exact). lg_k=12 -> 4096 registers, ~1.6% rsd, ~4 KB per (type,
    minute) sketch. 100 TB shape: one (type, minute) exchange with
    map-side partial sketches, then a (type, hour) re-agg of
    minutes-sized sketch rows."""
    minute = F.expr("unix_timestamp(ts) DIV 60")
    msk = (
        events.groupBy(
            "event_type", minute.alias("_m")
        ).agg(
            F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("_sk"),
            F.count("*").cast("long").alias("_n"),
        )
    )
    return (
        msk.groupBy(
            "event_type", F.expr("_m DIV 60").alias("hour")
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk"))
            .cast("long")
            .alias("approx_users"),
            F.sum("_n").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_minutes"),
        )
        .orderBy("event_type", "hour")
    )
