"""engine/fused.py: the shuffle-free doc-level pipeline must be
bit-identical to the oracle (engine/oracle.py) on every int32 input —
rollup aggregates, anomaly counts, AND compression payload bytes."""

from __future__ import annotations

import numpy as np

from engine import oracle
from engine.fused import fused_rollup_1m
from engine.schema import DEFAULT_K, DEFAULT_WINDOW, TIER_SECONDS
from tests.conftest import AGG_COLS, oracle_rollup_rows, rollup_rows

W, K = DEFAULT_WINDOW, DEFAULT_K


def _reference_payloads(token_rows, policy="ffill"):
    """(doc_id, bucket) -> (ts_dod, v_gorilla) from the sequential encoders
    applied per 1m bucket to the oracle's gap-filled points (timestamps
    are doc-relative positions)."""
    from engine.compression import dod_compress, gorilla_compress

    b = TIER_SECONDS["1m"]
    out = {}
    for row in token_rows:
        filled = oracle.gap_fill_series(list(row["tokens"]), policy)
        for bucket in range(-(-len(filled) // b)):
            pts = [(t, v) for t, v in enumerate(filled[bucket * b:(bucket + 1) * b],
                                                bucket * b) if v is not None]
            ts = np.array([t for t, _ in pts], dtype=np.int64)
            vs = np.array([v for _, v in pts], dtype=np.int64)
            out[(row["doc_id"], bucket)] = (dod_compress(ts), gorilla_compress(vs))
    return out


def test_fused_payloads_equal_pointstream_kernel(spark, tokens_df, token_rows):
    """Fused payload bytes == the sequential dod/Gorilla encoders run per
    bucket over the oracle's gap-filled points, on the full fixture."""
    fused = fused_rollup_1m(tokens_df, W, K, "ffill", compress=True)
    got = {
        (r[0], r[1]): (r[2], r[3])
        for r in rollup_rows(fused, ["doc_id", "bucket", "ts_dod", "v_gorilla"])
    }
    assert got == _reference_payloads(token_rows)


def test_fused_batch_size_invariant(spark, tokens_df):
    """One doc per Arrow batch, every doc in one batch and batches cut by
    bytes (a few docs each, as many as their lengths allow) give the same
    rows and payloads. The one-batch run puts the int32-extreme docs
    (exact route) and the in-range docs into a single flat array, whose
    global int64 cumsum wraps."""
    rows_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    bytes_key = "spark.sql.execution.arrow.maxBytesPerBatch"
    saved = {k: spark.conf.get(k, None) for k in (rows_key, bytes_key)}
    cols = AGG_COLS + ["ts_dod", "v_gorilla"]
    try:
        spark.conf.set(rows_key, "1")
        one = rollup_rows(fused_rollup_1m(tokens_df), cols)
        spark.conf.set(rows_key, "4096")
        batched = rollup_rows(fused_rollup_1m(tokens_df.coalesce(1)), cols)
        spark.conf.set(bytes_key, "4096")
        by_bytes = rollup_rows(fused_rollup_1m(tokens_df.coalesce(1)), cols)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert one and one == batched == by_bytes
    assert sum(r[8] for r in one if r[0] == "doc_big") > 0


def test_fused_batches_are_cut_by_bytes(spark):
    """The conf _build_tiers sets bounds every Arrow input batch of the
    fused stage by bytes, whatever the docs' lengths: 86,400-token docs
    and 16-token docs in one input give batches of at most the budget plus
    one row, and the short docs share batches by the dozen (more than the
    16 rows a row count sized for the longest doc would allow)."""
    import pyarrow as pa

    from engine.io import synth_tokens
    from engine.schema import TIER_ORDER
    from jobs.rollup import _ARROW_BATCH_BYTES, _build_tiers

    longest = 86_400
    toks = synth_tokens(spark, 24, n_tok=longest, seed=3).unionByName(
        synth_tokens(spark, 200, n_tok=16, seed=4)
    ).coalesce(1)
    keys = ["spark.sql.files.maxPartitionBytes",
            "spark.sql.execution.arrow.maxBytesPerBatch"]
    saved = {k: spark.conf.get(k, None) for k in keys}

    def sizes(it):
        for b in it:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "nbytes": [b.nbytes]})

    try:
        _build_tiers(spark, toks, TIER_ORDER, W, K, "ffill", True)
        batches = toks.mapInArrow(sizes, "rows long, nbytes long").collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # one row of the longest doc: int32 values, validity bits, offsets/ids
    one_row = longest * 4 + longest // 8 + 256
    assert sum(r["rows"] for r in batches) == 224
    assert max(r["nbytes"] for r in batches) <= _ARROW_BATCH_BYTES + one_row, batches
    assert max(r["rows"] for r in batches) > 16, batches


def test_fused_task_cap_keeps_rows(spark, tmp_path, monkeypatch):
    """A ~1 MB parquet input runs the fused stage as one Python task; the
    1m tier it writes equals the one-task-per-split run's, payloads too."""
    import jobs.rollup as rollup_mod
    from engine.io import ParquetManifestFormat, scan_tokens, synth_tokens

    src = str(tmp_path / "tokens")
    synth_tokens(spark, 32, n_tok=8192, seed=5).repartition(8).write.parquet(src)

    def run(name):
        wh = str(tmp_path / name)
        m = rollup_mod.run_rollup(spark, scan_tokens(spark, src), wh, epoch=1,
                                  tiers=["1m"])
        rows = rollup_rows(ParquetManifestFormat(spark, wh).read("rollup_1m"),
                           AGG_COLS + ["ts_dod", "v_gorilla"])
        return m["1m"]["py_tasks"], rows

    capped_tasks, capped = run("capped")
    monkeypatch.setattr(rollup_mod, "_FUSED_TASK_BYTES", 1)
    split_tasks, per_split = run("per_split")
    assert capped_tasks == 1 and split_tasks > 1, (capped_tasks, split_tasks)
    assert capped and capped == per_split


def test_fused_guard_exempts_docs_shorter_than_window(spark, tokens_df, token_rows):
    """ADVICE r03 (low): a doc with fewer than w valid points computes no
    window, so int32-extreme values in it take no exact route and raise
    nothing — and the fused aggregates still match the oracle, here next to
    the full fixture."""
    from engine.fused import _anom_flags
    from engine.schema import TOKENS_SCHEMA

    # pure-kernel check: 5 extreme points, w=30 -> no window
    v = np.array([-2**31, 2**31 - 1, -2**31, 2**31 - 1, -1], dtype=np.float64)
    assert _anom_flags(v, 30, K).tolist() == [False] * 5

    short = {"doc_id": "doc_short_extreme",
             "tokens": [-(2**31), 2**31 - 1, None, -(2**31)],
             "n_tok": 4, "source": "cc"}
    df = tokens_df.unionByName(spark.createDataFrame([short], TOKENS_SCHEMA))
    fused = fused_rollup_1m(df, W, K, "ffill", compress=False)
    want = oracle.pipeline_oracle(token_rows + [short], W, K, "ffill")
    assert rollup_rows(fused) == oracle_rollup_rows(want["rollup_1m"])


def test_run_rollup_tiers_equal_oracle(spark, tokens_df, token_rows, ora, tmp_path):
    """run_rollup on the full fixture (int32 extremes and a ~2e8-level doc
    with anomalies) writes 1m/1h/1d tiers equal to the oracle row for row,
    1m payloads that decode to the oracle's gap-filled points, and lineage
    that names the fused kernel for every tier."""
    from engine.io import ParquetManifestFormat
    from engine.lineage import lineage_rows
    from engine.query import serve_raw_points
    from jobs.rollup import run_rollup

    wh = str(tmp_path / "wh")
    m = run_rollup(spark, tokens_df, wh, epoch=1)
    assert m["1m"]["pipeline"] == "fused"
    lin = lineage_rows(wh, ["tier", "pipeline"])
    assert {(r["tier"], r["pipeline"]) for r in lin.to_pylist()} == {
        ("1m", "fused"), ("1h", "fused"), ("1d", "fused")
    }
    fmt = ParquetManifestFormat(spark, wh)
    got = {t: rollup_rows(fmt.read(f"rollup_{t}")) for t in ("1m", "1h", "1d")}
    for tier, rows in got.items():
        assert rows == oracle_rollup_rows(ora[f"rollup_{tier}"]), tier
    assert any(r[0] == "doc_big" and r[8] > 0 for r in got["1m"])

    filled = {r["doc_id"]: r["tokens"] for r in ora["filled"].to_dict("records")}
    got_pts = sorted(
        tuple(r) for r in serve_raw_points(fmt.read("rollup_1m")).collect()
    )
    want_pts = sorted(
        (d, t, v) for d, f in filled.items() for t, v in enumerate(f)
        if v is not None
    )
    assert got_pts == want_pts and got_pts


def test_fused_guard_catches_s1_squared_overflow(token_rows):
    """ADVICE r02 (medium): w=30 docs with |v|~2e8 pass the old
    n*max^2 < 2^62 bound yet s1^2 wraps int64. The kernel must return the
    oracle's flags there — on a constant doc, and on doc_big, whose
    num = w*s2 - s1^2 exceeds int64 — not silently corrupt sd/anom counts."""
    from engine.fused import _anom_flags

    v = np.full(64, 2.0e8, dtype=np.float64)
    m, maxabs = 64, int(2.0e8)
    assert m * maxabs * maxabs < 2**62  # old guard would have passed this
    assert (30 * maxabs) ** 2 >= 2**63
    want = oracle.rolling_stats_series([int(x) for x in v], 30, K)["is_anom"]
    assert _anom_flags(v, 30, K).tolist() == want.tolist()

    big = next(r["tokens"] for r in token_rows if r["doc_id"] == "doc_big")
    filled = oracle.gap_fill_series(big, "ffill")
    want = oracle.rolling_stats_series(filled, 30, K)["is_anom"].to_numpy()
    got = _anom_flags(np.array(filled, dtype=np.float64), 30, K)
    assert want.sum() == 3 and (got == want).all()
