"""engine/fused.py: the shuffle-free doc-level pipeline must be
bit-identical to the exploded Catalyst reference path — rollup aggregates,
anomaly counts, AND compression payload bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.compression import rollup_1m_with_payloads
from engine.fused import fused_rollup_1m
from engine.rollup import rollup_from_points
from engine.schema import DEFAULT_K, DEFAULT_WINDOW
from engine.series import explode_series, gap_fill
from engine.stats import detect

W, K = DEFAULT_WINDOW, DEFAULT_K

AGG_COLS = [
    "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
    "vmean", "anom_cnt", "first_v", "last_v",
]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(cols).collect())


@pytest.fixture(scope="module")
def in_range(tokens_df):
    # doc_negmax (int32 extremes) is outside the fused/long exact domain by
    # design — it has its own loud-failure test below
    return tokens_df.where("doc_id != 'doc_negmax'")


def test_fused_equals_exploded_all_policies(spark, in_range):
    for policy in ("ffill", "zero", "linear"):
        fused = fused_rollup_1m(in_range, W, K, policy, compress=False)
        exploded = rollup_from_points(
            detect(gap_fill(explode_series(in_range), policy), W, K, "decimal"),
            "1m",
        )
        got = _rows(fused, AGG_COLS)
        want = _rows(exploded, AGG_COLS)
        assert got == want, f"policy={policy}: fused != exploded"


def test_fused_payloads_equal_pointstream_kernel(spark, in_range):
    fused = fused_rollup_1m(in_range, W, K, "ffill", compress=True)
    flagged = detect(gap_fill(explode_series(in_range), "ffill"), W, K, "decimal")
    ref = rollup_1m_with_payloads(flagged, "1m", presorted=False)
    cols = AGG_COLS + ["ts_dod", "v_gorilla"]

    def norm(df):
        return sorted(
            tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
            for r in df.select(cols).collect()
        )

    assert norm(fused) == norm(ref)


def test_fused_payloads_roundtrip(spark, in_range):
    """decompress(fused payloads) must reproduce the gap-filled points."""
    from engine.compression import decompress_columns

    fused = fused_rollup_1m(in_range, W, K, "ffill", compress=True)
    dec = decompress_columns(fused).select("doc_id", "bucket", "cnt", "ts_points", "v_points")
    filled = gap_fill(explode_series(in_range), "ffill").where(F.col("v").isNotNull())
    pts = {
        (r["doc_id"], r["bucket"]): (list(r["ts"]), list(r["vs"]))
        for r in filled.withColumn("bucket", F.expr("t DIV 60"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sort_array(F.collect_list("t")).alias("ts"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "v"))), lambda s: s["v"]
            ).alias("vs"),
        )
        .collect()
    }
    for r in dec.collect():
        key = (r["doc_id"], r["bucket"])
        if r["cnt"] == 0:
            assert list(r["ts_points"]) == [] and list(r["v_points"]) == []
            continue
        want_t, want_v = pts[key]
        assert list(r["ts_points"]) == want_t, key
        assert list(r["v_points"]) == [int(v) for v in want_v], key


def test_fused_fails_loudly_outside_int64_domain(spark, tokens_df):
    """int32-extreme docs must raise (mirroring the long carrier's ANSI
    overflow), not silently corrupt."""
    extremes = tokens_df.where("doc_id = 'doc_negmax'")
    with pytest.raises(Exception) as ei:
        fused_rollup_1m(extremes, W, K, "ffill", compress=False).collect()
    assert "exact int64 domain" in str(ei.value)


def test_run_rollup_pipelines_agree_end_to_end(spark, tmp_path):
    """Full job parity: both pipelines produce identical tier tables
    through write/cascade/lineage."""
    from engine.io import ParquetManifestFormat, synth_tokens
    from jobs.rollup import run_rollup

    tokens = synth_tokens(spark, 30, seed=11)
    whf, whe = str(tmp_path / "f"), str(tmp_path / "e")
    run_rollup(spark, tokens, whf, epoch=1, pipeline="fused")
    run_rollup(spark, tokens, whe, epoch=1, pipeline="exploded")
    ff, fe = ParquetManifestFormat(spark, whf), ParquetManifestFormat(spark, whe)
    for tier in ("1m", "1h", "1d"):
        cols = AGG_COLS + (["ts_dod", "v_gorilla"] if tier == "1m" else [])

        def norm(fmt):
            return sorted(
                tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
                for r in fmt.read(f"rollup_{tier}").select(cols).collect()
            )

        assert norm(ff) == norm(fe), tier


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
        rows = sorted(
            tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
            for r in ParquetManifestFormat(spark, wh).read("rollup_1m")
            .select(AGG_COLS + ["ts_dod", "v_gorilla"]).collect()
        )
        return m["1m"]["py_tasks"], rows

    capped_tasks, capped = run("capped")
    monkeypatch.setattr(rollup_mod, "_FUSED_TASK_BYTES", 1)
    split_tasks, per_split = run("per_split")
    assert capped_tasks == 1 and split_tasks > 1, (capped_tasks, split_tasks)
    assert capped and capped == per_split


def test_fused_guard_exempts_docs_shorter_than_window(spark):
    """ADVICE r03 (low): a doc with fewer than w valid points never computes
    a window, so int32-extreme values in it must NOT trip the guard (the
    round-2 kernel's early-return semantics) — and the fused aggregates must
    still match the exploded/decimal reference."""
    import numpy as np

    from engine.fused import _anom_flags

    # pure-kernel check: 5 extreme points, w=30 -> no window, no raise
    v = np.array([-2**31, 2**31 - 1, -2**31, 2**31 - 1, -1], dtype=np.float64)
    assert _anom_flags(v, 30, K).tolist() == [False] * 5

    # end-to-end: short-extreme doc through the fused pipeline == exploded
    short = spark.createDataFrame(
        [("doc_short_extreme", [-(2**31), 2**31 - 1, None, -(2**31)], 4, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    fused = fused_rollup_1m(short, W, K, "ffill", compress=False)
    exploded = rollup_from_points(
        detect(gap_fill(explode_series(short), "ffill"), W, K, "decimal"), "1m"
    )
    assert _rows(fused, AGG_COLS) == _rows(exploded, AGG_COLS)


def test_run_rollup_auto_fallback_on_guard_trip(spark, tokens_df, tmp_path):
    """An unattended job must DEGRADE, not die, when the fused guard trips:
    run_rollup(pipeline='fused') on an int32-extreme source transparently
    reruns the 1m tier as exploded/decimal, the lineage row records the
    degraded strategy, and the tiers match a clean exploded/decimal run."""
    from engine.io import ParquetManifestFormat
    from engine.lineage import read_lineage
    from jobs.rollup import run_rollup

    whf, whe = str(tmp_path / "fb"), str(tmp_path / "ref")
    m1 = run_rollup(spark, tokens_df, whf, epoch=1, pipeline="fused")
    assert m1["1m"]["pipeline"] == "exploded-decimal-fallback"
    run_rollup(spark, tokens_df, whe, epoch=1, pipeline="exploded",
               stats_mode="decimal")
    lin = read_lineage(spark, whf).where("tier = '1m'")
    assert {r["pipeline"] for r in lin.select("pipeline").distinct().collect()} \
        == {"exploded-decimal-fallback"}
    ff, fe = ParquetManifestFormat(spark, whf), ParquetManifestFormat(spark, whe)
    for tier in ("1m", "1h", "1d"):
        cols = AGG_COLS + (["ts_dod", "v_gorilla"] if tier == "1m" else [])

        def norm(fmt):
            return sorted(
                tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
                for r in fmt.read(f"rollup_{tier}").select(cols).collect()
            )

        assert norm(ff) == norm(fe), tier


def test_fused_guard_catches_s1_squared_overflow():
    """ADVICE r02 (medium): w=30 docs with |v|~2e8 pass the old
    n*max^2 < 2^62 bound yet s1^2 wraps int64. The widened guard
    ((w*max)^2 < 2^63) must raise, not silently corrupt sd/anom counts."""
    import numpy as np

    from engine.fused import _anom_flags

    v = np.full(64, 2.0e8, dtype=np.float64)
    m, maxabs = 64, int(2.0e8)
    assert m * maxabs * maxabs < 2**62  # old guard would have passed this
    with pytest.raises(ValueError, match="exact int64 domain"):
        _anom_flags(v, 30, K)
