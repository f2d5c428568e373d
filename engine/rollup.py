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
from engine.skew import sql_int


def cascade(rollup_fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """A2: re-aggregate a finer tier into a coarser one (1m->1h, 1h->1d).

    Exact because only min/max/sum/cnt cascade; vmean is recomputed from the
    cascaded vsum/cnt. first_v/last_v chain via min_by/max_by on the fine
    bucket id (null-bucket-stat rows ignored through the null ordering key).

    Every expression is fixed SQL text over code constants, parsed once by
    the JVM: a Column tree would cost the driver a gateway round trip per
    node. The aggregate lists the output columns in order, bucket_ts and
    vmean included, so no projection follows it.
    """
    bf, bc = TIER_SECONDS[fine_tier], TIER_SECONDS[coarse_tier]
    if bc % bf != 0 or bc <= bf:
        raise ValueError(f"cannot cascade {fine_tier} -> {coarse_tier}")
    coarse = f"bucket DIV {sql_int(bc // bf)}"
    data_bucket = "CASE WHEN first_v IS NOT NULL THEN bucket END"
    aggs = (
        f"timestamp_seconds({sql_int(EPOCH0_EPOCH_SECONDS)} + ({coarse}) * {sql_int(bc)}) AS bucket_ts",
        "sum(cnt) AS cnt",
        "min(vmin) AS vmin",
        "max(vmax) AS vmax",
        "sum(vsum) AS vsum",
        "sum(vsum) / nullif(sum(cnt), 0) AS vmean",
        "sum(anom_cnt) AS anom_cnt",
        f"min_by(first_v, {data_bucket}) AS first_v",
        f"max_by(last_v, {data_bucket}) AS last_v",
    )
    return rollup_fine.groupBy("doc_id", F.expr(f"{coarse} AS bucket")).agg(
        *[F.expr(a) for a in aggs]
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
