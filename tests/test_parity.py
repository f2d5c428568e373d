"""The BASELINE.json:15 gate: Spark pipeline vs pandas oracle, per-row
equality (token-array equality for arrays, exact ints/bools, bit-exact
doubles — see FLOAT_POLICY below).

FLOAT_POLICY: every double column (ma, sd, score, vmean) is asserted
BIT-EXACT (0 ulp): both sides compute from exact integer sums with an
identical correctly-rounded float op sequence (engine/stats.py docstring;
SURVEY.md §2.1 floating-point note). assert_float_col reports ulp distance
on failure so any future relaxation is a conscious, documented choice — it
is never silently loosened here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine import oracle
from engine.rollup import cascade, rollup_from_points
from engine.schema import DEFAULT_K, DEFAULT_WINDOW
from engine.series import explode_series, gap_fill, reassemble_tokens
from engine.stats import detect, detect_indices

W, K = DEFAULT_WINDOW, DEFAULT_K


def assert_float_col(name: str, got: pd.Series, want: pd.Series, max_ulp: int = 0):
    g = got.to_numpy(dtype=np.float64)
    w = want.to_numpy(dtype=np.float64)
    nan_match = np.isnan(g) == np.isnan(w)
    assert nan_match.all(), f"{name}: NULL mask differs at rows {np.where(~nan_match)[0][:10]}"
    mask = ~np.isnan(g)
    if not mask.any():
        return
    exact = g[mask] == w[mask]
    if exact.all():
        return
    # report ulp distance before failing so a conscious relaxation is possible
    gi = g[mask].view(np.int64)
    wi = w[mask].view(np.int64)
    ulp = np.abs(gi - wi)
    bad = ~exact
    assert ulp[bad].max() <= max_ulp, (
        f"{name}: {bad.sum()} mismatches, max ulp distance {ulp[bad].max()}, "
        f"examples got={g[mask][bad][:5]} want={w[mask][bad][:5]}"
    )


def test_oracle_matches_pandas_rolling():
    """Semantic anchor (SURVEY.md §2.1): the oracle's exact-integer-sum
    kernel agrees with pandas rolling(w).mean()/.std(ddof=1) to float
    tolerance — the bit-exact formula is the same statistic."""
    import random

    rng = random.Random(7)
    vals = [rng.randrange(50000) for _ in range(500)]
    got = oracle.rolling_stats_series(vals, W, K)
    s = pd.Series([float(v) for v in vals])
    pma = s.rolling(W).mean().to_numpy()
    psd = s.rolling(W).std().to_numpy()
    m = ~np.isnan(pma)
    assert np.allclose(got["ma"].to_numpy()[m], pma[m], rtol=1e-9)
    m = ~np.isnan(psd)
    assert np.allclose(got["sd"].to_numpy()[m], psd[m], rtol=1e-9)


def spark_pipeline(tokens_df, policy="ffill", exact_mode="decimal"):
    # the fixture includes doc_negmax (int32 extremes), which the fast long
    # carrier rejects by design (ANSI overflow) -> decimal mode here; the
    # long path is pinned bit-identical in test_long_mode_matches_decimal
    pts = gap_fill(explode_series(tokens_df), policy)
    return detect(pts, W, K, exact_mode)


# ---------------------------------------------------------------------------


def _oracle_tokens_df(spark, pdf):
    """Oracle pandas frame (doc_id, tokens list) -> Spark df for R5."""
    return spark.createDataFrame(
        [(d, t) for d, t in zip(pdf["doc_id"], pdf["tokens"])],
        "doc_id string, tokens array<int>",
    )


def test_gap_fill_ffill_token_array_equality(spark, tokens_df, token_rows, ora):
    """R5 through the first-class operator (engine/parity.py): the gate IS
    token_eq_check returning zero violations, not an ad-hoc dict compare."""
    from engine.parity import token_eq_check

    filled = gap_fill(explode_series(tokens_df), "ffill")
    got = reassemble_tokens(filled, tokens_df)
    viol = token_eq_check(got, _oracle_tokens_df(spark, ora["filled"]))
    assert viol.count() == 0, viol.limit(5).collect()


def test_token_eq_check_reports_violations(spark, tokens_df, ora):
    """Negative control for R5: a perturbed row, a dropped row and an extra
    row each surface with the right reason."""
    from engine.parity import token_eq_check

    want = _oracle_tokens_df(spark, ora["filled"])
    from pyspark.sql import functions as F

    tampered = (
        want.where("doc_id != 'doc_empty'")  # dropped row
        .withColumn(
            "tokens",
            F.when(  # perturbed row: bump first element of doc_const
                F.col("doc_id") == "doc_const",
                F.concat(F.array(F.lit(999)), F.slice("tokens", 2, 1_000_000)),
            ).otherwise(F.col("tokens")),
        )
        .unionByName(
            spark.createDataFrame(
                [("doc_extra", [1, 2, 3])], "doc_id string, tokens array<int>"
            )
        )
    )
    viol = {r["doc_id"]: r["reason"] for r in token_eq_check(tampered, want).collect()}
    assert viol == {
        "doc_const": "differs",
        "doc_empty": "missing_in_got",
        "doc_extra": "missing_in_expected",
    }


def test_gap_fill_zero_and_linear(spark, tokens_df, token_rows):
    for policy in ("zero", "linear"):
        filled = gap_fill(explode_series(tokens_df), policy)
        got = {
            r["doc_id"]: r["tokens"]
            for r in reassemble_tokens(filled, tokens_df).collect()
        }
        for row in token_rows:
            want = oracle.gap_fill_series(row["tokens"], policy)
            assert got[row["doc_id"]] == want, f"{row['doc_id']} policy={policy}"


def test_gap_fill_idempotent(spark, tokens_df):
    once = gap_fill(explode_series(tokens_df), "ffill")
    twice = gap_fill(once, "ffill")
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_rolling_stats_and_score_parity(spark, tokens_df, token_rows, ora):
    got = (
        spark_pipeline(tokens_df)
        .toPandas()
        .sort_values(["doc_id", "t"])
        .reset_index(drop=True)
    )
    want = ora["stats"].sort_values(["doc_id", "t"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["doc_id"] == want["doc_id"]).all()
    assert (got["t"].to_numpy() == want["t"].to_numpy()).all()
    gv = got["v"].astype("Float64").to_numpy(dtype=np.float64, na_value=np.nan)
    assert_float_col("v", pd.Series(gv), want["v"])
    assert_float_col("ma", got["ma"], want["ma"])
    assert_float_col("sd", got["sd"], want["sd"])
    assert_float_col("score", got["score"], want["score"])
    assert (got["is_anom"].to_numpy() == want["is_anom"].to_numpy()).all()


def test_detect_has_true_positives(spark, tokens_df, token_rows, ora):
    """The fixture injects +10 sigma spikes; detection must actually fire
    (guards against the w=5 vacuity bug fixed in SURVEY.md §2.1a)."""
    n = spark_pipeline(tokens_df).where("is_anom").count()
    assert n > 0, "no anomalies detected on spiked fixture — detector vacuous"
    assert int(ora["stats"]["is_anom"].sum()) == n


def test_detect_indices_parity(spark, tokens_df, token_rows, ora):
    got = {r["doc_id"]: list(r["anomalies"]) for r in detect_indices(
        gap_fill(explode_series(tokens_df), "ffill"), W, K, exact_mode="decimal"
    ).collect()}
    want = dict(zip(ora["detect"]["doc_id"], ora["detect"]["anomalies"]))
    for doc_id in want:
        assert got.get(doc_id, []) == want[doc_id], f"{doc_id} anomaly lists differ"


def _rollup_frames(spark, tokens_df):
    flagged = spark_pipeline(tokens_df)
    r1m = rollup_from_points(flagged, "1m")
    r1h = cascade(r1m, "1m", "1h")
    r1d = cascade(r1h, "1h", "1d")
    return r1m, r1h, r1d


def _normalize_rollup(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.drop(columns=["bucket_ts"]).sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    for c in ("cnt", "anom_cnt"):
        out[c] = out[c].astype("int64")
    for c in ("vmin", "vmax", "vsum", "first_v", "last_v"):
        out[c] = out[c].astype("Float64").astype(object).where(lambda s: s.notna(), None)
    return out


def test_rollup_and_cascade_parity(spark, tokens_df, token_rows, ora):
    r1m, r1h, r1d = _rollup_frames(spark, tokens_df)
    for tier, sdf in (("rollup_1m", r1m), ("rollup_1h", r1h), ("rollup_1d", r1d)):
        pdf = sdf.toPandas()
        got = _normalize_rollup(pdf)
        want = _normalize_rollup(ora[tier])
        assert len(got) == len(want), f"{tier}: row count {len(got)} != {len(want)}"
        for col in ("doc_id", "bucket", "cnt", "anom_cnt"):
            assert (got[col].to_numpy() == want[col].to_numpy()).all(), f"{tier}.{col}"
        for col in ("vmin", "vmax", "vsum", "first_v", "last_v"):
            assert got[col].tolist() == want[col].tolist(), f"{tier}.{col}"
        assert_float_col(
            f"{tier}.vmean",
            pd.Series(
                np.array(
                    [np.nan if x is None else float(x) for x in pdf.sort_values(["doc_id", "bucket"])["vmean"]]
                )
            ),
            pd.Series(
                np.array(
                    [np.nan if x is None else float(x) for x in ora[tier].sort_values(["doc_id", "bucket"])["vmean"]]
                )
            ),
        )


def test_cascade_equals_direct_rollup(spark, tokens_df):
    """Property (SURVEY.md §5.3): cascade(1m->1h) == rollup_1h(points)."""
    flagged = spark_pipeline(tokens_df)
    r1m = rollup_from_points(flagged, "1m")
    via_cascade = cascade(r1m, "1m", "1h")
    direct = rollup_from_points(flagged, "1h")
    cols = ["doc_id", "bucket", "cnt", "vmin", "vmax", "vsum", "anom_cnt", "first_v", "last_v"]
    a, b = via_cascade.select(cols), direct.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucket_ts_utc(spark, tokens_df):
    r1m, _, _ = _rollup_frames(spark, tokens_df)
    row = r1m.where("doc_id = 'doc_const' and bucket = 1").select("bucket_ts").first()
    # EPOCH0 2024-01-01T00:00:00Z + 60s
    assert str(row["bucket_ts"]) == "2024-01-01 00:01:00"


def test_empty_and_allgap_docs(spark, tokens_df):
    filled = gap_fill(explode_series(tokens_df), "ffill")
    tok = {r["doc_id"]: r["tokens"] for r in reassemble_tokens(filled, tokens_df).collect()}
    assert tok["doc_empty"] == []
    assert tok["doc_allgaps"] == [None] * 40


def test_long_mode_matches_decimal(spark, tokens_df):
    """Fast long-carrier stats are bit-identical to the decimal carrier on
    in-range data (everything but doc_negmax and the ~2e8-level doc_big)."""
    in_range = tokens_df.where("doc_id NOT IN ('doc_negmax', 'doc_big')")
    a = spark_pipeline(in_range, exact_mode="long").toPandas().sort_values(["doc_id","t"]).reset_index(drop=True)
    b = spark_pipeline(in_range, exact_mode="decimal").toPandas().sort_values(["doc_id","t"]).reset_index(drop=True)
    for col in ("ma", "sd", "score"):
        assert_float_col(f"long-vs-decimal {col}", a[col], b[col])
    assert (a["is_anom"] == b["is_anom"]).all()


def test_long_mode_fails_loudly_on_extremes(spark, tokens_df):
    """ANSI overflow, not silent corruption, on int32-extreme input."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import ArithmeticException

    extremes = tokens_df.where("doc_id = 'doc_negmax'")
    with _pytest.raises((ArithmeticException, Py4JJavaError, Exception)) as ei:
        spark_pipeline(extremes, exact_mode="long").select("sd").agg({"sd": "sum"}).collect()
    assert "ARITHMETIC_OVERFLOW" in str(ei.value) or "overflow" in str(ei.value).lower()
