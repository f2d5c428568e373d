"""K1-K2: partitioning and skew control (SURVEY.md §2.6; graft axes A).

K1 bucket-by-doc_id: every tier row belongs to one series, so tiers are
written partitioned by ``part_hash = pmod(xxhash64(doc_id), N)``: writes
are partition-aligned for per-partition lineage commits, and doc-scoped
reads prune to their docs' buckets. On a real cluster this is the Iceberg
``bucket(N, doc_id)`` transform; on the parquet manifest format it is an
explicit column + ``partitionBy``.

K2 salted repartition: skew lives on ``source`` (~70% one corpus,
FIXTURES.md F1), NOT on doc_id (high cardinality). Any source-keyed stage
(e.g. per-source quality stats) composes ``(source, salt)`` where
``salt = pmod(xxhash64(doc_id), salt_n)``; per-series work stays keyed on
doc_id which is finer than source, so salting never breaks series locality
(SURVEY.md §7 risk register). AQE skew-join splitting covers joins; this
covers the groupBy/window cases AQE does not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.schema import DEFAULT_N_BUCKETS


def part_hash_col(n_buckets: int = DEFAULT_N_BUCKETS, doc_id: Column | None = None) -> Column:
    """K1: the bucket of *doc_id* (default: the ``doc_id`` column) — the one
    definition of the hash that writers and pruning readers share."""
    if doc_id is None:
        doc_id = F.col("doc_id")
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets)).cast("long")


def doc_buckets_filter(doc_ids: list[str], n_buckets: int = DEFAULT_N_BUCKETS) -> Column:
    """``part_hash IN (<bucket of each doc>)`` over doc_id literals. Each
    bucket is part_hash_col of a literal, which Catalyst constant-folds, so
    the scan gets a literal partition filter and reads only those docs'
    ``part_hash`` dirs (Iceberg's bucket-transform pruning)."""
    return F.col("part_hash").isin([part_hash_col(n_buckets, F.lit(d)) for d in doc_ids])


def with_part_hash(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """K1: attach the stable bucket id for doc_id co-location."""
    return df.withColumn("part_hash", part_hash_col(n_buckets))


def salt_repartition(df: DataFrame, salt_n: int = 16) -> DataFrame:
    """K2: break hot-``source`` skew by fanning each source over salt_n
    sub-partitions. Downstream per-source aggregates must aggregate the
    salted partials and then re-aggregate by source (two-phase agg)."""
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_n)).cast("int")
    )
    return salted.repartition(F.col("source"), F.col("salt"))


def salted_source_stats(tokens_df: DataFrame, salt_n: int = 16) -> DataFrame:
    """K2 demo/query: per-source doc & token counts via two-phase salted agg.

    Phase 1 aggregates (source, salt) partials — hot sources spread over
    salt_n reducers; phase 2 combines salt_n tiny rows per source. Same
    result as a direct groupBy('source'), without the straggler.
    """
    partial = (
        salt_repartition(tokens_df, salt_n)
        .groupBy("source", "salt")
        .agg(
            F.count("*").alias("_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("_toks"),
        )
    )
    return (
        partial.groupBy("source")
        .agg(F.sum("_docs").alias("docs"), F.sum("_toks").alias("toks"))
    )
