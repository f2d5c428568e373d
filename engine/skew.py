"""K1-K2: partitioning and skew control (SURVEY.md §2.6; graft axes A).

K1 bucket-by-doc_id: every tier row belongs to one series, so tiers are
written partitioned by ``part_hash = pmod(xxhash64(doc_id), N)``: writes
are partition-aligned for per-partition lineage commits, and doc-scoped
reads prune to their docs' buckets. On a real cluster this is the Iceberg
``bucket(N, doc_id)`` transform; on the parquet manifest format it is an
explicit column + ``partitionBy``.

K2 salting: skew lives on ``source`` (~70% one corpus, FIXTURES.md F1),
NOT on doc_id (high cardinality). A source-keyed stage aggregates
``(source, salt)`` partials, ``salt = pmod(xxhash64(doc_id), salt_n)``, then
re-aggregates by source; the queries spell that inline
(``__spark_entry__.py::q_salted_source_stats``). Per-series work stays keyed
on doc_id, which is finer than source, so salting never breaks series
locality (SURVEY.md §7 risk register). AQE skew-join splitting covers joins;
this covers the groupBy/window cases AQE does not.
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
