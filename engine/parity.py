"""R5: per-row token-array equality verification as a first-class operator
(SURVEY.md §2.0; BASELINE.json:15 "per-row invariant vs the reference:
token-array equality").

A production user validating a migrated table wants the violations, not a
test assertion: ``token_eq_check`` returns a DataFrame of disagreeing rows
(empty == tables agree). The parity pytest suite builds on it (tokens
served back from the 1m payloads vs the oracle's gap-filled arrays), so
the test gate and the production check are the same code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_eq_check(
    df: DataFrame,
    oracle_df: DataFrame,
    key: str = "doc_id",
    col: str = "tokens",
) -> DataFrame:
    """R5: compare *df* against *oracle_df* per row; return violations.

    Output: ``(key, expected, got, reason)`` with reason one of
    ``missing_in_got`` / ``missing_in_expected`` / ``differs``; empty when
    every key exists on both sides with a null-safe-equal array.

    Distributed shape: ONE full-outer equi-join on the key; the array
    comparison is Spark's native null-safe equality (``<=>``, which is
    structural on arrays — inner nulls compare equal to inner nulls), so
    there is no Python in the plan and the check runs at table scale.
    Presence markers distinguish a missing row from a present-but-NULL
    array (``<=>`` alone would call NULL == NULL a match).
    """
    got = df.select(key, F.col(col).alias("got"), F.lit(True).alias("_g"))
    want = oracle_df.select(
        key, F.col(col).alias("expected"), F.lit(True).alias("_w")
    )
    j = got.join(want, [key], "full_outer")
    reason = (
        F.when(F.col("_g").isNull(), F.lit("missing_in_got"))
        .when(F.col("_w").isNull(), F.lit("missing_in_expected"))
        .otherwise(F.lit("differs"))
    )
    return (
        j.where(
            ~F.col("got").eqNullSafe(F.col("expected"))
            | F.col("_g").isNull()
            | F.col("_w").isNull()
        )
        .select(key, "expected", "got", reason.alias("reason"))
    )
