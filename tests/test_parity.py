"""The BASELINE.json:15 gate: the production tier kernel (engine/fused.py)
and the tier cascade (engine/rollup.py::cascade) vs the pandas oracle
(engine/oracle.py), per row, for every gap policy: token-array equality for
arrays, exact ints/bools, bit-exact doubles.

FLOAT_POLICY: vmean is compared BIT-EXACT (0 ulp, plain float equality
inside the row tuples): both sides compute it from exact integer sums with
an identical correctly-rounded float op sequence (the R1-R4 spec in
engine/oracle.py; SURVEY.md §2.1 floating-point note). Any relaxation
would have to be a conscious, documented choice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import oracle
from engine.fused import _anom_flags, _flat_detect, fused_rollup, fused_rollup_1m
from engine.parity import token_eq_check
from engine.query import serve_raw_points
from engine.rollup import cascade
from engine.schema import DEFAULT_K, DEFAULT_WINDOW, GAP_POLICIES, TIER_ORDER
from tests.conftest import AGG_COLS, oracle_rollup_rows, rollup_rows

W, K = DEFAULT_WINDOW, DEFAULT_K
PAYLOAD_COLS = AGG_COLS + ["ts_dod", "v_gorilla"]


@pytest.fixture(scope="module")
def oras(token_rows, ora):
    """pipeline_oracle over the full fixture, per gap policy."""
    out = {p: oracle.pipeline_oracle(token_rows, W, K, p)
           for p in GAP_POLICIES if p != "ffill"}
    out["ffill"] = ora
    return out


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


def _floats(values) -> np.ndarray:
    return np.array([np.nan if v is None else float(v) for v in values])


# ---------------------------------------------------------------------------
# R5: token arrays served back from the 1m payloads


def _served_tokens(points, tokens_df):
    """Served (doc_id, t, v) points as one t-ordered array per doc of
    *tokens_df* (empty when it has none)."""
    pts = points.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "v"))),
            lambda s: s["v"].cast("int"),
        ).alias("tokens")
    )
    return (
        tokens_df.select("doc_id")
        .join(pts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tokens", F.array().cast("array<int>")).alias("tokens"),
        )
    )


def _oracle_suffixes(spark, filled: pd.DataFrame):
    """The oracle's gap-filled arrays with their null prefix dropped. Gap
    fill leaves nulls only as a per-doc prefix, so with n_tok the suffix
    pins every position."""
    rows = []
    for doc_id, tokens in zip(filled["doc_id"], filled["tokens"]):
        lead = next((i for i, v in enumerate(tokens) if v is not None), len(tokens))
        rows.append((doc_id, tokens[lead:]))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_gap_fill_ffill_token_array_equality(spark, tokens_df, ora, tmp_path):
    """R5 through the first-class operator (engine/parity.py): the tokens
    served back from a run_rollup warehouse equal the oracle's gap-filled
    arrays — the gate IS token_eq_check returning zero violations. Each
    doc's served points are the last ones of its n_tok positions."""
    from engine.io import ParquetManifestFormat
    from jobs.rollup import run_rollup

    wh = str(tmp_path / "wh")
    run_rollup(spark, tokens_df, wh, epoch=1, tiers=["1m"])
    points = serve_raw_points(ParquetManifestFormat(spark, wh).read("rollup_1m"))
    points = points.cache()
    viol = token_eq_check(
        _served_tokens(points, tokens_df), _oracle_suffixes(spark, ora["filled"])
    )
    assert viol.count() == 0, viol.limit(5).collect()

    misplaced = (
        points.groupBy("doc_id")
        .agg(F.min("t").alias("lo"), F.max("t").alias("hi"),
             F.count("*").alias("n"))
        .join(tokens_df.select("doc_id", "n_tok"), "doc_id")
        .where("hi != n_tok - 1 OR hi - lo + 1 != n")
    )
    assert misplaced.count() == 0, misplaced.limit(5).collect()
    points.unpersist()


def test_token_eq_check_reports_violations(spark, tokens_df, ora):
    """Negative control for R5: a perturbed row, a dropped row and an extra
    row each surface with the right reason."""
    want = _oracle_suffixes(spark, ora["filled"])
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


def test_gap_fill_zero_and_linear(spark, tokens_df, oras):
    """The kernel's zero and linear fills, read back from its payloads,
    equal the oracle's."""
    for policy in ("zero", "linear"):
        points = serve_raw_points(fused_rollup_1m(tokens_df, W, K, policy))
        got = _served_tokens(points, tokens_df)
        viol = token_eq_check(got, _oracle_suffixes(spark, oras[policy]["filled"]))
        assert viol.count() == 0, (policy, viol.limit(5).collect())


def test_gap_fill_idempotent(spark, tokens_df, oras):
    """Gap-filling filled tokens changes nothing: the kernel run over the
    oracle-filled tokens writes the same 1m rows and payloads as over the
    raw tokens, for every policy."""
    for policy in GAP_POLICIES:
        pre = spark.createDataFrame(
            list(zip(oras[policy]["filled"]["doc_id"], oras[policy]["filled"]["tokens"])),
            "doc_id string, tokens array<int>",
        )
        a = rollup_rows(fused_rollup_1m(pre, W, K, policy), PAYLOAD_COLS)
        b = rollup_rows(fused_rollup_1m(tokens_df, W, K, policy), PAYLOAD_COLS)
        assert a == b, policy


# ---------------------------------------------------------------------------
# R1-R4: per-point anomaly flags


def test_rolling_stats_and_score_parity(oras):
    """R1-R4 per point: the kernel's flags on each oracle-filled series
    equal the oracle's is_anom (score > k over the exact-sum ma/sd) on
    every fixture doc, for every gap policy."""
    for policy in GAP_POLICIES:
        stats = oras[policy]["stats"]
        want = {d: g["is_anom"].to_numpy() for d, g in stats.groupby("doc_id")}
        filled = oras[policy]["filled"]
        for doc_id, tokens in zip(filled["doc_id"], filled["tokens"]):
            got = _anom_flags(_floats(tokens), W, K)
            expect = want.get(doc_id, np.zeros(0, dtype=bool))
            assert got.size == expect.size and (got == expect).all(), (policy, doc_id)


def test_detect_indices_parity(token_rows, oras):
    """The production batch shape: every non-empty fixture doc's RAW tokens
    in ONE flat batch (int32-extreme docs next to in-range ones), gap-
    filled and flagged by the kernel, give each doc the oracle's sorted
    anomaly positions, for every gap policy."""
    docs = [r for r in token_rows if r["tokens"]]
    lengths = np.array([len(r["tokens"]) for r in docs])
    flat = np.concatenate([_floats(r["tokens"]) for r in docs])
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    for policy in GAP_POLICIES:
        _, _, anom = _flat_detect(flat, lengths, policy, W, K)
        got = {
            r["doc_id"]: np.flatnonzero(anom[bounds[i]: bounds[i + 1]]).tolist()
            for i, r in enumerate(docs)
        }
        det = oras[policy]["detect"]
        want = dict(zip(det["doc_id"], det["anomalies"]))
        for doc_id, positions in got.items():
            assert positions == want[doc_id], (policy, doc_id)


def test_detect_has_true_positives(spark, tokens_df, ora):
    """The fixture injects +10 sigma spikes; detection must actually fire
    (guards against the w=5 vacuity bug fixed in SURVEY.md §2.1a)."""
    n = fused_rollup_1m(tokens_df, compress=False).agg(F.sum("anom_cnt")).first()[0]
    assert n > 0, "no anomalies detected on spiked fixture — detector vacuous"
    assert int(ora["stats"]["is_anom"].sum()) == n


def test_fused_rejects_window_below_two(spark, tokens_df, tmp_path):
    """A sample std needs w >= 2 (the oracle divides by w*(w-1)): the
    kernel and run_rollup raise instead of returning zero anomalies."""
    from jobs.rollup import run_rollup

    for w in (1, 0):
        with pytest.raises(ValueError, match="window must be >= 2"):
            fused_rollup_1m(tokens_df, w=w)
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="window must be >= 2"):
        run_rollup(spark, tokens_df, wh, epoch=1, w=1)


# ---------------------------------------------------------------------------
# A1/A2: 1m rollup and cascade


def test_rollup_and_cascade_parity(spark, tokens_df, oras):
    """The kernel's own 1m, 1h and 1d rows, and the cascade of its 1m rows
    into 1h/1d, each equal the oracle's row for row, vmean 0 ulp, on the
    full fixture (doc_negmax and doc_big included), for every gap policy."""
    for policy in GAP_POLICIES:
        r1m = fused_rollup_1m(tokens_df, W, K, policy, compress=False)
        r1h = cascade(r1m, "1m", "1h")
        cascaded = {"1m": r1m, "1h": r1h, "1d": cascade(r1h, "1h", "1d")}
        fused = fused_rollup(tokens_df, TIER_ORDER, W, K, policy, compress=False)
        for tier, sdf in cascaded.items():
            want = oracle_rollup_rows(oras[policy][f"rollup_{tier}"])
            assert rollup_rows(sdf) == want, f"{policy}:{tier}"
            own = fused.where(F.col("tier") == tier)
            assert rollup_rows(own) == want, f"{policy}:{tier} (kernel)"


def test_cascade_equals_direct_rollup(spark, tokens_df, oras):
    """Property (SURVEY.md §5.3): cascade(fused 1m -> 1h) equals the
    oracle's 1h rollup taken directly over each doc's per-point stats,
    never through 1m."""
    for policy in GAP_POLICIES:
        stats = oras[policy]["stats"]
        direct = pd.concat(
            [oracle.rollup_series(d, g, "1h") for d, g in stats.groupby("doc_id")],
            ignore_index=True,
        )
        r1m = fused_rollup_1m(tokens_df, W, K, policy, compress=False)
        via_cascade = rollup_rows(cascade(r1m, "1m", "1h"))
        assert via_cascade == oracle_rollup_rows(direct), policy


def test_bucket_ts_utc(spark, tokens_df):
    r1m = fused_rollup_1m(tokens_df, compress=False)
    row = r1m.where("doc_id = 'doc_const' and bucket = 1").select("bucket_ts").first()
    # EPOCH0 2024-01-01T00:00:00Z + 60s
    assert str(row["bucket_ts"]) == "2024-01-01 00:01:00"


def test_empty_and_allgap_docs(spark, tokens_df):
    """An empty doc writes no 1m row; an all-gap doc writes its one bucket
    with cnt 0, NULL aggregates, and serves no points."""
    docs = ["doc_empty", "doc_allgaps"]
    r1m = fused_rollup_1m(tokens_df).where(F.col("doc_id").isin(docs))
    assert rollup_rows(r1m) == [
        ("doc_allgaps", 0, 1704067200, 0, None, None, None, None, 0, None, None)
    ]
    served = _served_tokens(
        serve_raw_points(r1m), tokens_df.where(F.col("doc_id").isin(docs))
    )
    assert {r["doc_id"]: r["tokens"] for r in served.collect()} == {
        "doc_empty": [], "doc_allgaps": [],
    }
