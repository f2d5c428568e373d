"""Pinned constants and fixed schemas (SURVEY.md §1, §2.1; BASELINE.json:15).

Nothing here is inferred at runtime: the input schema is validated against
TOKENS_SCHEMA and the engine fails fast on drift (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Pinned time model (SURVEY.md §1.2). Token position t maps to a timestamp
# ts = EPOCH0 + t * STEP_SECONDS. This makes the retention tiers well-defined
# over positional token streams: 1m bucket = 60 steps, 1h = 3600, 1d = 86400.
# ---------------------------------------------------------------------------
EPOCH0_UTC = "2024-01-01T00:00:00Z"
EPOCH0_EPOCH_SECONDS = 1704067200  # == unix epoch seconds of EPOCH0_UTC
STEP_SECONDS = 1

# Retention tiers (BASELINE.json:6 "raw -> 1m -> 1h -> 1d").
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "1h", "1d"]  # finest -> coarsest

# Pinned detector defaults (SURVEY.md §2.1 PINNED SPEC, as amended §2.1a).
# w=30, NOT the survey's provisional 5: with an inclusive trailing window the
# maximum attainable z-score over w samples is (w-1)/sqrt(w) — 1.79 at w=5,
# so `score > 3` could never fire and detect() would be vacuous. w=30 gives a
# 5.29 ceiling; k=3 detections are possible and spikes of +10 sigma fire.
DEFAULT_WINDOW = 30  # trailing rolling window length w (inclusive of current)
DEFAULT_K = 3.0  # threshold: is_anom = score > k (strict)

# Gap-fill policies (G1; semantics pinned in engine/oracle.py's docstring).
GAP_POLICIES = ("ffill", "zero", "linear")

# Default bucket count for bucket-by-doc_id partitioning (K1). On a real
# cluster this would be the Iceberg bucket(N, doc_id) transform width; in the
# sandbox it is the part_hash modulus. Power of two, sized so a 10^12-sequence
# table yields partitions small enough for per-partition lineage/commit.
DEFAULT_N_BUCKETS = 64

# ---------------------------------------------------------------------------
# Input table: pre-tokenized training sequences (BASELINE.json:15, verbatim).
# ---------------------------------------------------------------------------
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# Long/narrow internal relation (SURVEY.md §1.2).
POINTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("t", T.LongType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)

# Rollup tier output (SURVEY.md §1.3 / FIXTURES.md F2).
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("bucket_ts", T.TimestampType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("vmin", T.IntegerType(), True),
        T.StructField("vmax", T.IntegerType(), True),
        T.StructField("vsum", T.LongType(), True),
        T.StructField("vmean", T.DoubleType(), True),
        T.StructField("anom_cnt", T.LongType(), False),
        T.StructField("first_v", T.IntegerType(), True),
        T.StructField("last_v", T.IntegerType(), True),
        T.StructField("ts_dod", T.BinaryType(), True),
        T.StructField("v_gorilla", T.BinaryType(), True),
    ]
)

def assert_tokens_schema(df) -> None:
    """Fail fast if *df* does not carry the pinned input schema (S1).

    Nullability is not compared (parquet round-trips relax it); names, order
    and types are exact.
    """
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in TOKENS_SCHEMA.fields]
    if got != want:
        raise ValueError(
            f"token table schema drift: got {got}, expected {want} "
            "(BASELINE.json:15 pins doc_id:string, tokens:array<int32>, "
            "n_tok:int32, source:string)"
        )
