"""K1-K2: partitioning and skew control (SURVEY.md §2.6; graft axes A).

K1 bucket-by-doc_id: every tier row belongs to one series, so tiers are
written partitioned by ``part_hash = pmod(xxhash64(doc_id), N)``: writes
are partition-aligned for per-partition lineage commits, and doc-scoped
reads prune to their docs' buckets. On a real cluster this is the Iceberg
``bucket(N, doc_id)`` transform; on the parquet manifest format it is an
explicit column + ``partitionBy``.

Predicates on partition and doc columns are SQL text built from validated
values only: ints through ``sql_int``, strings as the hex of their UTF-8
bytes through ``sql_str``. A whole IN-list then plans as one parse on the
JVM; a Column tree costs the driver a gateway round trip per literal and
per node (an ``isin`` of 60 ints: ~300).

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


def sql_int(value: int) -> str:
    """*value* as SQL integer text. Anything but an ``int`` (a ``bool``, a
    float, a string, a numpy scalar) raises TypeError, so no other text
    reaches SQL through here."""
    if isinstance(value, bool) or not isinstance(value, int):
        raise TypeError(f"not an int: {value!r}")
    return str(int(value))


def sql_str(value: str) -> str:
    """*value* as a SQL string literal spelled from its UTF-8 bytes in hex,
    ``CAST(X'<hex>' AS STRING)``: only ``[0-9a-f]`` of the value reaches
    SQL text, whatever quotes, backslashes or comment markers it holds.
    Catalyst folds the cast to the plain string literal."""
    if not isinstance(value, str):
        raise TypeError(f"not a str: {value!r}")
    return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"


def in_sql(col: str, values) -> str:
    """``<col> IN (<values>)`` as one SQL predicate: str values through
    sql_str, everything else through sql_int. *col* is a column name from
    code. Planning it is one parse, whatever the list's length; an
    ``isin`` Column costs a gateway round trip per element. An empty list
    is ``false``, as an empty ``isin``."""
    if not col.isidentifier():
        raise ValueError(f"not a column name: {col!r}")
    lits = [sql_str(v) if isinstance(v, str) else sql_int(v) for v in values]
    return f"{col} IN ({', '.join(lits)})" if lits else "false"


def _part_hash_sql(doc_id_sql: str, n_buckets: int) -> str:
    return f"pmod(xxhash64({doc_id_sql}), {sql_int(n_buckets)})"


def part_hash_col(n_buckets: int = DEFAULT_N_BUCKETS) -> Column:
    """K1: the bucket of the ``doc_id`` column, a bigint — the one
    definition of the hash that writers and pruning readers share."""
    return F.expr(_part_hash_sql("doc_id", n_buckets))


def doc_buckets_filter(doc_ids: list[str], n_buckets: int = DEFAULT_N_BUCKETS) -> str:
    """``part_hash IN (<bucket of each doc>)`` as SQL text: part_hash_col's
    template over each doc id literal, which Catalyst constant-folds, so
    the scan gets a literal partition filter and reads only those docs'
    ``part_hash`` dirs (Iceberg's bucket-transform pruning)."""
    buckets = ", ".join(_part_hash_sql(sql_str(d), n_buckets) for d in doc_ids)
    return f"part_hash IN ({buckets})"


def with_part_hash(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """K1: attach the stable bucket id for doc_id co-location."""
    return df.withColumn("part_hash", part_hash_col(n_buckets))
