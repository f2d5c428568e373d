"""Fault-injection resume tests (SURVEY.md §5.4) + downsample read path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, synth_tokens, write_tier
from engine.lineage import committed_partitions, pending_partitions, read_lineage
from engine.query import anomaly_filter, downsample, resolution_pick, tier_fallback
from engine.schema import DEFAULT_N_BUCKETS
from jobs.rollup import run_rollup

N_DOCS = 40


@pytest.fixture(scope="module")
def small_tokens(spark):
    return synth_tokens(spark, N_DOCS, seed=42).cache()


def _table_rows(fmt: ParquetManifestFormat, tier: str):
    df = fmt.read(f"rollup_{tier}").drop("part_hash")
    return sorted(
        tuple(r) for r in df.select(
            "doc_id", "bucket", "cnt", "vmin", "vmax", "vsum", "anom_cnt",
            "first_v", "last_v",
        ).collect()
    )


def test_resume_after_kill_equals_clean_run(spark, small_tokens, tmp_path):
    clean_wh = str(tmp_path / "clean")
    killed_wh = str(tmp_path / "killed")

    m_clean = run_rollup(spark, small_tokens, clean_wh, epoch=1)
    assert all(not m["skipped"] for m in m_clean.values())

    # simulated kill after the 1m tier commit
    m1 = run_rollup(spark, small_tokens, killed_wh, epoch=1, stop_after_tier="1m")
    assert set(k for k, m in m1.items() if not m.get("skipped")) == {"1m"}
    assert pending_partitions(killed_wh, "1h", 1) == list(range(DEFAULT_N_BUCKETS))

    # resume: 1m must be skipped entirely (zero recomputation), 1h/1d run
    m2 = run_rollup(spark, small_tokens, killed_wh, epoch=1)
    assert m2["1m"]["skipped"] is True and m2["1m"]["partitions"] == 0
    assert not m2["1h"]["skipped"] and not m2["1d"]["skipped"]

    fmt_c = ParquetManifestFormat(spark, clean_wh)
    fmt_k = ParquetManifestFormat(spark, killed_wh)
    for tier in ("1m", "1h", "1d"):
        assert _table_rows(fmt_c, tier) == _table_rows(fmt_k, tier), tier


def test_crash_between_data_and_lineage_is_recomputed(spark, small_tokens, tmp_path):
    """DIRTY partitions (data written, no lineage row) must be invisible to
    readers and idempotently overwritten on resume."""
    wh = str(tmp_path / "dirty")
    fmt = ParquetManifestFormat(spark, wh)
    # simulate: a previous attempt wrote garbage 1m data but died before the
    # lineage append
    from engine.rollup import rollup_from_points
    from engine.series import explode_series, gap_fill
    from engine.stats import detect

    garbage = rollup_from_points(
        detect(gap_fill(explode_series(small_tokens.limit(3)))), "1m"
    ).withColumn("cnt", F.lit(-999).cast("long"))
    write_tier(fmt, garbage, "1m")
    assert committed_partitions(wh, "1m", 1) == set()  # invisible to readers

    run_rollup(spark, small_tokens, wh, epoch=1)
    bad = fmt.read("rollup_1m").where("cnt = -999").count()
    assert bad == 0, "dirty partition survived resume"


def test_tier_fallback_serves_holes_from_finer_tier(spark, small_tokens, tmp_path):
    wh = str(tmp_path / "fallback")
    # commit 1m fully, then 1h only for half the partitions
    run_rollup(spark, small_tokens, wh, epoch=1, stop_after_tier="1m")
    fmt = ParquetManifestFormat(spark, wh)

    # commit 1h for partitions < 32 only (simulate partial 1h job)
    from engine.lineage import lineage_record, partition_stats_from_rollup
    from engine.rollup import cascade
    from engine.skew import with_part_hash

    fine = fmt.read("rollup_1m").where("part_hash < 32")
    half = with_part_hash(cascade(fine.drop("part_hash"), "1m", "1h"))
    snap = fmt.overwrite_partitions(half, "rollup_1h")
    lineage_record(wh, "1h", partition_stats_from_rollup(half), 1, 1,
                   output_snapshot_id=snap)

    served = tier_fallback(spark, fmt, "1h", 1)
    # fallback result must equal the full 1h cascade
    full = cascade(fmt.read("rollup_1m").drop("part_hash"), "1m", "1h")
    cols = ["doc_id", "bucket", "cnt", "vmin", "vmax", "vsum", "anom_cnt"]
    a, b = served.select(cols), full.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_epochs_disjoint_docs(spark, tmp_path):
    """Regression (round-2 ADVICE, high): a snapshot whose live partitions
    span multiple snap-* directories must be readable. Epoch 2 ingests a
    DISJOINT doc set (different partitions), so the current snapshot mixes
    epoch-1 and epoch-2 data dirs — the exact shape every incremental /
    streaming micro-batch run produces."""
    wh = str(tmp_path / "inc")
    docs_a = synth_tokens(spark, 6, seed=7, n_tok=128)
    # disjoint ids: shift the generated doc numbers out of A's range
    docs_b = synth_tokens(spark, 6, seed=9, n_tok=128).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    run_rollup(spark, docs_a, wh, epoch=1)
    # must not raise (used to die with CONFLICTING_DIRECTORY_STRUCTURES on
    # the 1h cascade's read of rollup_1m)
    run_rollup(spark, docs_b, wh, epoch=2)

    fmt = ParquetManifestFormat(spark, wh)
    got_docs = {
        r["doc_id"]
        for r in fmt.read("rollup_1m").select("doc_id").distinct().collect()
    }
    # overwrite-partition semantics: epoch 2 replaces exactly the partitions
    # its docs hash into; epoch-1 docs in untouched partitions survive
    from engine.skew import with_part_hash

    b_parts = {
        r["part_hash"]
        for r in with_part_hash(docs_b, DEFAULT_N_BUCKETS)
        .select("part_hash").distinct().collect()
    }
    a_kept = {
        r["doc_id"]
        for r in with_part_hash(docs_a, DEFAULT_N_BUCKETS)
        .where(~F.col("part_hash").isin([int(p) for p in b_parts]))
        .select("doc_id").collect()
    }
    b_all = {r["doc_id"] for r in docs_b.select("doc_id").collect()}
    assert got_docs == a_kept | b_all


def test_epoch_query_isolated_from_later_epochs(spark, tmp_path):
    """Regression (round-2 ADVICE, medium): querying epoch 1 after epoch 2
    overwrote the same partitions must serve epoch-1 data — lineage records
    the output snapshot and tier_fallback time-travels to it."""
    wh = str(tmp_path / "iso")
    docs_v1 = synth_tokens(spark, 6, seed=7, n_tok=128)
    # same doc_ids (same partitions), different values
    docs_v2 = docs_v1.withColumn(
        "tokens", F.transform("tokens", lambda v: v + F.lit(1))
    )
    run_rollup(spark, docs_v1, wh, epoch=1, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    v1_rows = sorted(
        tuple(r) for r in tier_fallback(spark, fmt, "1m", 1)
        .select("doc_id", "bucket", "vsum").collect()
    )
    run_rollup(spark, docs_v2, wh, epoch=2, tiers=["1m"])
    # epoch-1 query after the epoch-2 commit: identical to before
    again = sorted(
        tuple(r) for r in tier_fallback(spark, fmt, "1m", 1)
        .select("doc_id", "bucket", "vsum").collect()
    )
    assert again == v1_rows
    # and epoch 2 serves the new values (every vsum shifted by its cnt)
    v2_rows = sorted(
        tuple(r) for r in tier_fallback(spark, fmt, "1m", 2)
        .select("doc_id", "bucket", "vsum").collect()
    )
    assert v2_rows != v1_rows and len(v2_rows) == len(v1_rows)


def test_downsample_flagship(spark, small_tokens, tmp_path):
    wh = str(tmp_path / "ds")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)

    assert resolution_pick(60) == "1m"
    assert resolution_pick(3600) == "1h"
    assert resolution_pick(7200) == "1h"
    assert resolution_pick(86400) == "1d"
    assert resolution_pick(30) == "1m"
    # divisibility, not <=: 5400 s does not align with the 1h grid
    assert resolution_pick(5400) == "1m"

    df = downsample(
        spark, fmt, checkpoint_epoch=1, t0=0, t1=3600, resolution_seconds=60,
        anomalies_only=True,
    )
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["anom_cnt"] > 0 for r in rows)
    assert all(0 <= r["bucket"] <= 59 for r in rows)

    # read path must be UDF-free / pure Catalyst (B:6): no BatchEvalPython
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_serve_raw_points_from_payloads(spark, small_tokens, tmp_path):
    """Q5 (round 4): raw points served from the 1m tier's payloads must
    equal the gap-filled non-null points of the source — sliced to the
    requested [t0, t1) — without touching the token table; the plan prunes
    buckets BEFORE the decode UDF."""
    from engine.query import serve_raw_points
    from engine.series import explode_series, gap_fill

    wh = str(tmp_path / "raw")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    t0, t1 = 90, 300

    got = sorted(
        tuple(r) for r in serve_raw_points(
            fmt.read("rollup_1m"), t0=t0, t1=t1
        ).collect()
    )
    want = sorted(
        (r["doc_id"], r["t"], int(r["v"]))
        for r in gap_fill(explode_series(small_tokens), "ffill")
        .where(F.col("v").isNotNull())
        .where((F.col("t") >= t0) & (F.col("t") < t1))
        .collect()
    )
    assert got == want and len(got) > 0

    # bucket pruning is sargable: the parquet scan carries a bucket filter
    df = serve_raw_points(fmt.read("rollup_1m"), t0=t0, t1=t1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan.split("ArrowEvalPython")[0] or "PushedFilters" in plan


def test_lineage_metrics_queryable(spark, small_tokens, tmp_path):
    wh = str(tmp_path / "lin")
    run_rollup(spark, small_tokens, wh, epoch=1)
    lin = read_lineage(spark, wh)
    per_tier = {
        r["tier"]: r for r in lin.groupBy("tier").agg(
            F.count("*").alias("parts"), F.sum("out_rows").alias("rows")
        ).collect()
    }
    assert set(per_tier) == {"1m", "1h", "1d"}
    fmt = ParquetManifestFormat(spark, wh)
    for tier in ("1m", "1h", "1d"):
        assert per_tier[tier]["rows"] == fmt.read(f"rollup_{tier}").count()


def test_downsample_cli_end_to_end(spark, small_tokens, tmp_path):
    """jobs/downsample.py: both CLI forms (tier aggregates and --raw Q5)
    run as real processes against a warehouse built in this session and
    return the same rows the library calls produce."""
    import os
    import subprocess
    import sys as _sys

    wh = str(tmp_path / "dscli")
    run_rollup(spark, small_tokens, wh, epoch=1)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run_cli(*extra):
        cmd = [_sys.executable, os.path.join(repo, "jobs", "downsample.py"),
               "--warehouse", wh, "--epoch", "1", "--master", "local[2]",
               *extra]
        env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
        r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                           env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-3000:]
        return int(r.stdout.split("rows=")[1].split()[0])

    from engine.query import downsample, serve_raw_points

    fmt = ParquetManifestFormat(spark, wh)
    want_agg = downsample(spark, fmt, 1, t0=0, t1=3600,
                          resolution_seconds=60, anomalies_only=True).count()
    got_agg = run_cli("--resolution", "60", "--t0", "0", "--t1", "3600",
                      "--anomalies-only")
    assert got_agg == want_agg

    want_raw = serve_raw_points(fmt.read("rollup_1m"), t0=100, t1=400).count()
    got_raw = run_cli("--raw", "--t0", "100", "--t1", "400")
    assert got_raw == want_raw and got_raw > 0


def test_written_stats_driver_matches_spark_job(
    spark, small_tokens, tmp_path, monkeypatch
):
    """Round 7: _written_stats has two interchangeable paths — a driver-side
    pyarrow pass for small commits and the distributed 2-column Spark job
    above the size cutover. Force each in turn on the same committed snap
    dirs and pin identical per-partition (out_rows, in_rows)."""
    import os

    import pyarrow.parquet as pq

    import jobs.rollup as rollup_mod

    wh = str(tmp_path / "wh_paths")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    key = lambda s: s["part_hash"]  # noqa: E731
    for tier in ["1m", "1h", "1d"]:
        snap = fmt.current_snapshot(f"rollup_{tier}")
        # a partition dir holding no parquet file: neither path reports it
        os.makedirs(os.path.join(wh, f"rollup_{tier}", f"snap-{snap}",
                                 f"part_hash={DEFAULT_N_BUCKETS + 7}"))
        monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
        via_driver = rollup_mod._written_stats(spark, fmt, f"rollup_{tier}", snap)
        monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", -1)
        via_spark = rollup_mod._written_stats(spark, fmt, f"rollup_{tier}", snap)
        assert sorted(via_driver, key=key) == sorted(via_spark, key=key), tier
        assert DEFAULT_N_BUCKETS + 7 not in {s["part_hash"] for s in via_driver}

    # a driver-side error falls through to the Spark job, not out of the
    # commit
    def _broken(*a, **kw):
        raise OSError("unreadable footer")

    monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
    monkeypatch.setattr(pq, "ParquetFile", _broken)
    snap = fmt.current_snapshot("rollup_1m")
    via_fallback = rollup_mod._written_stats(spark, fmt, "rollup_1m", snap)
    monkeypatch.undo()
    monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", -1)
    via_spark = rollup_mod._written_stats(spark, fmt, "rollup_1m", snap)
    assert via_fallback and sorted(via_fallback, key=key) == sorted(via_spark, key=key)


def test_written_stats_paths_agree_on_multifile_partitions(
    spark, small_tokens, tmp_path, monkeypatch
):
    """A skew-split REBALANCE write leaves several files in one part_hash
    dir; both stats paths must sum across them identically. Simulate by
    duplicating one committed file under a new name (both paths then see
    the same doubled partition — parity is what's pinned, not the
    values)."""
    import shutil

    import jobs.rollup as rollup_mod

    wh = str(tmp_path / "wh_multi")
    run_rollup(spark, small_tokens, wh, epoch=1, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    snap = fmt.current_snapshot("rollup_1m")
    import glob as g
    import os

    files = sorted(
        g.glob(os.path.join(wh, "rollup_1m", f"snap-{snap}", "part_hash=*", "*.parquet"))
    )
    dup = files[0]
    shutil.copy(dup, os.path.join(os.path.dirname(dup), "part-dup.c000.snappy.parquet"))
    monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
    via_driver = rollup_mod._written_stats(spark, fmt, "rollup_1m", snap)
    monkeypatch.setattr(rollup_mod, "_STATS_DRIVER_MAX_ROWS", -1)
    via_spark = rollup_mod._written_stats(spark, fmt, "rollup_1m", snap)
    key = lambda s: s["part_hash"]  # noqa: E731
    assert sorted(via_driver, key=key) == sorted(via_spark, key=key)


def test_footer_max_n_tok_falls_back_without_stats(spark, tmp_path):
    """_footer_max_n_tok must return None (-> pushdown-aggregate fallback)
    when any row group lacks n_tok statistics, and the exact max when
    stats exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.rollup import _footer_pass

    t = pa.table({"doc_id": ["a", "b"], "n_tok": pa.array([7, 12], pa.int64())})
    p_stats = str(tmp_path / "with_stats")
    p_none = str(tmp_path / "no_stats")
    import os

    os.makedirs(p_stats)
    os.makedirs(p_none)
    pq.write_table(t, os.path.join(p_stats, "f.parquet"))
    pq.write_table(
        t, os.path.join(p_none, "f.parquet"), write_statistics=False
    )
    assert _footer_pass(spark.read.parquet(p_stats))[0] == 12
    assert _footer_pass(spark.read.parquet(p_none))[0] is None


def test_footer_pass_finds_n_tok_leaf_after_nested_column(spark, tmp_path):
    """Row-group statistics are per parquet LEAF: a struct column before
    n_tok has two leaves, so n_tok's Arrow field index names another
    column. The pass finds n_tok by its path and also sums file bytes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.rollup import _footer_pass

    t = pa.table({
        "doc_id": ["a", "b"],
        "meta": pa.array([{"x": 900, "y": 1000}, {"x": 901, "y": 1001}]),
        "n_tok": pa.array([7, 12], pa.int64()),
    })
    p = str(tmp_path / "nested")
    os.makedirs(p)
    f = os.path.join(p, "f.parquet")
    pq.write_table(t, f)
    assert _footer_pass(spark.read.parquet(p)) == (12, os.path.getsize(f))


def test_footer_pass_skips_non_local_files(monkeypatch):
    """An hdfs:// input is never opened from the driver: no cap, no
    footer max."""
    import pyarrow.parquet as pq

    from jobs.rollup import _footer_pass

    class _Remote:
        columns = ["doc_id", "tokens", "n_tok", "source"]

        def inputFiles(self):
            return ["hdfs://nn:8020/t/part-0.parquet", "file:/t/part-1.parquet"]

    def _no_open(*a, **kw):
        raise AssertionError("opened a file")

    monkeypatch.setattr(pq, "ParquetFile", _no_open)
    monkeypatch.setattr("os.path.getsize", _no_open)
    assert _footer_pass(_Remote()) == (None, None)


def test_observed_lineage_stats_match_written_tier(spark, small_tokens, tmp_path):
    """Round 7: L3 per-partition stats are collected as observation metrics
    on the write action itself (jobs/rollup._observed_stats) instead of a
    per-tier re-read job. Pin the recorded lineage rows against a direct
    re-read of each written tier (the r6 mechanism) — identical out_rows /
    in_rows per partition, zero-row pending partitions recorded as zeros."""
    from engine.lineage import partition_stats_from_rollup

    wh = str(tmp_path / "wh_obs")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    lin = read_lineage(spark, wh).collect()
    for tier in ["1m", "1h", "1d"]:
        reread = {
            s["part_hash"]: (s["out_rows"], s["in_rows"])
            for s in partition_stats_from_rollup(fmt.read(f"rollup_{tier}"))
        }
        recorded = {
            int(r["part_hash"]): (int(r["out_rows"]), int(r["in_rows"]))
            for r in lin
            if r["tier"] == tier and r["checkpoint_epoch"] == 1
        }
        assert set(recorded) == set(range(DEFAULT_N_BUCKETS))
        for p, oi in reread.items():
            assert recorded[p] == oi, (tier, p)
        for p, oi in recorded.items():
            if p not in reread:
                assert oi == (0, 0), (tier, p)
