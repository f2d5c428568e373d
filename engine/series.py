"""Shape operators: explode, gap-fill, reassemble (SURVEY.md §2.3).

All pure Catalyst expressions — no Python kernels (BASELINE.json:15).

Pinned gap-fill semantics (G1; engine convention per SURVEY.md §1.2, the
empty reference mount has no opinion — SURVEY.md §0.1):

  - a "gap" is a NULL slot inside ``tokens``; ``n_tok`` is the full logical
    length and ``len(tokens) == n_tok`` (validated at scan, S1).
  - policy ``ffill`` (default): v[t] := last non-null v at position <= t;
    leading nulls stay null.
  - policy ``zero``: v[t] := 0 where null.
  - policy ``linear``: interior nulls linearly interpolated IN EXACT INTEGER
    ARITHMETIC with floor rounding:
        fill(t) = floor((prev_v*(next_t - t) + next_v*(t - prev_t))
                        / (next_t - prev_t))
    leading nulls stay null, trailing nulls forward-fill. Integer floor
    keeps the token domain int32 and makes Spark and the pandas oracle
    bit-identical (no float interpolation drift).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from engine.schema import GAP_POLICIES


def _floor_div(num: Column, den: Column) -> Column:
    """Exact floor division, entirely in longs.

    ``num - pmod(num, den)`` removes the non-negative floor remainder, so the
    subsequent integral ``div`` (which truncates toward zero) divides an
    exactly-divisible value — truncation == floor, no double round-trip
    (``floor(a/b)`` and ``x / y`` both route through double and lose
    precision past 2^53, reachable with int32 values times long gaps in
    linear gap-fill)."""
    return F.call_function("div", num - F.pmod(num, den), den)


def explode_series(tokens_df: DataFrame) -> DataFrame:
    """P2: token table -> points(doc_id, t, v), one row per array slot.

    ``posexplode_outer`` keeps null slots (the gaps) AND emits a (null, null)
    row for empty arrays; the latter is dropped — an empty doc contributes no
    points, and reassembly (P3) restores its empty array via the doc list.
    """
    return (
        tokens_df.select(
            "doc_id", F.posexplode_outer("tokens").alias("t", "v")
        )
        .where(F.col("t").isNotNull())
        .select("doc_id", F.col("t").cast("long").alias("t"), "v")
    )


def _series_window() -> Window:
    return Window.partitionBy("doc_id").orderBy("t")


def gap_fill(points: DataFrame, policy: str = "ffill") -> DataFrame:
    """G1: repair null v before statistics. See module docstring for the
    pinned per-policy semantics. Output keeps the points schema with
    ``v`` replaced by the filled value (still int).

    Scale: one window per doc_id — the same doc_id-keyed shuffle that the
    downstream rolling stats (R1-R4) and rollup (A1) reuse, so gap-fill adds
    no extra wide boundary to the pipeline (SURVEY.md §3.1).
    """
    if policy not in GAP_POLICIES:
        raise ValueError(f"unknown gap-fill policy {policy!r}; one of {GAP_POLICIES}")

    if policy == "zero":
        return points.withColumn("v", F.coalesce("v", F.lit(0)))

    w_back = _series_window().rowsBetween(Window.unboundedPreceding, 0)
    if policy == "ffill":
        return points.withColumn(
            "v", F.last("v", ignorenulls=True).over(w_back)
        )

    # linear
    w_fwd = _series_window().rowsBetween(0, Window.unboundedFollowing)
    t_if_v = F.when(F.col("v").isNotNull(), F.col("t"))
    prev_v = F.last("v", ignorenulls=True).over(w_back).cast("long")
    prev_t = F.last(t_if_v, ignorenulls=True).over(w_back)
    next_v = F.first("v", ignorenulls=True).over(w_fwd).cast("long")
    next_t = F.first(t_if_v, ignorenulls=True).over(w_fwd)
    interp = _floor_div(
        prev_v * (next_t - F.col("t")) + next_v * (F.col("t") - prev_t),
        next_t - prev_t,
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v").cast("long"))
        .when(prev_v.isNull(), F.lit(None).cast("long"))
        .when(next_v.isNull(), prev_v)
        .otherwise(interp)
    )
    return points.withColumn("v", filled.cast("int"))


def reassemble_tokens(points: DataFrame, docs: DataFrame | None = None) -> DataFrame:
    """P3: inverse of P2 — points -> (doc_id, tokens array ordered by t).

    Order-safe: sorts (t, v) structs, never a bare ``collect_list(v)``
    (collect_list order is not guaranteed after a shuffle). If *docs* (any df
    with a doc_id column) is given, docs with zero points come back with an
    empty array rather than disappearing.
    """
    assembled = points.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "v"))), lambda s: s["v"]
        ).alias("tokens")
    )
    if docs is None:
        return assembled
    return (
        docs.select("doc_id")
        .distinct()
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tokens", F.array().cast("array<int>")).alias("tokens"),
        )
    )
