"""Fault-injection resume tests (SURVEY.md §5.4) + downsample read path."""

from __future__ import annotations

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, synth_tokens
from engine.lineage import committed_partition_snapshots, lineage_rows, pending_partitions
from engine.query import anomaly_filter, downsample, resolution_pick, tier_fallback
from engine.schema import DEFAULT_N_BUCKETS
from engine.skew import with_part_hash
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
    # lineage append (with the tier's columns: the table records its schema
    # at this first commit and refuses a resume commit that drifts from it)
    from engine.fused import fused_rollup_1m

    garbage = fused_rollup_1m(small_tokens.limit(3)).withColumn(
        "cnt", F.lit(-999).cast("long")
    )
    fmt.overwrite_partitions(with_part_hash(garbage), "rollup_1m")
    assert set(committed_partition_snapshots(wh, "1m", 1)) == set()  # invisible to readers

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
    from engine import oracle
    from engine.query import serve_raw_points

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
        (r["doc_id"], t, v)
        for r in small_tokens.select("doc_id", "tokens").collect()
        for t, v in enumerate(oracle.gap_fill_series(list(r["tokens"])))
        if v is not None and t0 <= t < t1
    )
    assert got == want and len(got) > 0

    # bucket pruning is sargable: the parquet scan carries a bucket filter
    df = serve_raw_points(fmt.read("rollup_1m"), t0=t0, t1=t1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan.split("ArrowEvalPython")[0] or "PushedFilters" in plan


# quote, backslash, comment marker, parenthesis, newline, non-ASCII, empty
ODD_DOC_IDS = ["it's", "back\\slash", "a--b", "x)", "two\nlines",
               "dôc'); DROP--", "ünï☃", ""]


def test_reads_serve_doc_ids_exactly_whatever_their_characters(spark, tmp_path):
    """Doc ids reach read predicates as SQL text (engine/skew.py): ids
    holding SQL metacharacters are served exactly by downsample (the 1h
    tier, and 1d cascaded from it) and serve_raw_points, alone and
    together, and no other doc's rows leak in."""
    import random

    from engine import oracle
    from engine.query import serve_raw_points
    from engine.schema import TOKENS_SCHEMA

    rng = random.Random(7)
    rows = [
        {"doc_id": d, "n_tok": 300, "source": "cc",
         "tokens": [None if rng.random() < 0.05 else rng.randrange(50000)
                    for _ in range(300)]}
        for d in ODD_DOC_IDS + [f"doc_{i:08d}" for i in range(24)]
    ]
    wh = str(tmp_path / "odd")
    run_rollup(spark, spark.createDataFrame(rows, TOKENS_SCHEMA), wh, epoch=1,
               tiers=["1m", "1h"])
    fmt = ParquetManifestFormat(spark, wh)
    points = {
        r["doc_id"]: [(r["doc_id"], t, v)
                      for t, v in enumerate(oracle.gap_fill_series(r["tokens"]))
                      if v is not None]
        for r in rows
    }
    full = {res: sorted(tuple(r) for r in downsample(
        spark, fmt, 1, resolution_seconds=res).collect()) for res in (3600, 86400)}
    r1m = fmt.read("rollup_1m")
    for docs in [[d] for d in ODD_DOC_IDS] + [ODD_DOC_IDS]:
        for res, want in full.items():
            got = sorted(tuple(r) for r in downsample(
                spark, fmt, 1, docs, resolution_seconds=res).collect())
            assert got == [r for r in want if r[0] in docs] and got, (docs, res)
        got = sorted(tuple(r) for r in serve_raw_points(r1m, doc_ids=docs).collect())
        assert got == sorted(p for d in docs for p in points[d]), docs


@pytest.mark.parametrize("bad", ["1) OR (1=1", 1.5, True, None])
def test_int_literals_reject_non_ints_before_any_sql(spark, bad):
    """Ints reach SQL text only as ints: anything else raises TypeError
    before a predicate is built."""
    from engine.query import range_filter
    from engine.skew import in_sql, sql_int

    with pytest.raises(TypeError):
        sql_int(bad)
    if not isinstance(bad, str):  # in_sql spells a str as a string literal
        with pytest.raises(TypeError):
            in_sql("part_hash", [1, bad])
    if isinstance(bad, (str, float)):  # None is no bound; True // 3600 is 0
        with pytest.raises(TypeError):
            range_filter(spark.range(1), "1h", bad, None)


def test_lineage_metrics_queryable(spark, small_tokens, tmp_path):
    wh = str(tmp_path / "lin")
    run_rollup(spark, small_tokens, wh, epoch=1)
    lin = lineage_rows(wh, ["tier", "out_rows"])
    per_tier = {
        r["tier"]: r for r in lin.group_by("tier").aggregate(
            [([], "count_all"), ("out_rows", "sum")]
        ).to_pylist()
    }
    assert set(per_tier) == {"1m", "1h", "1d"}
    fmt = ParquetManifestFormat(spark, wh)
    for tier in ("1m", "1h", "1d"):
        assert per_tier[tier]["out_rows_sum"] == fmt.read(f"rollup_{tier}").count()


def test_downsample_cli_end_to_end(spark, small_tokens, tmp_path):
    """jobs/downsample.py: both CLI forms (tier aggregates and --raw Q5)
    run as real processes against a warehouse built in this session and
    return the same rows the library calls produce. They run from outside
    the repo with no PYTHONPATH: --raw starts Python workers, which must
    still import the engine."""
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
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_DRIVER_MEMORY"] = "2g"
        r = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
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
    """written_partition_stats has two interchangeable paths — a
    driver-side pyarrow pass for small commits and the distributed 2-column
    Spark job above the size cutover. Force each in turn on the same
    committed snap dirs and pin identical per-partition (out_rows,
    in_rows)."""
    import os

    import pyarrow.parquet as pq

    import engine.lineage as lineage_mod

    stats_of = lineage_mod.written_partition_stats
    wh = str(tmp_path / "wh_paths")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    key = lambda s: s["part_hash"]  # noqa: E731
    for tier in ["1m", "1h", "1d"]:
        snap = fmt.current_snapshot(f"rollup_{tier}")
        # a partition dir holding no parquet file: neither path reports it
        os.makedirs(os.path.join(wh, f"rollup_{tier}", f"snap-{snap}",
                                 f"part_hash={DEFAULT_N_BUCKETS + 7}"))
        monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
        via_driver = stats_of(spark, fmt, f"rollup_{tier}", snap)
        monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", -1)
        via_spark = stats_of(spark, fmt, f"rollup_{tier}", snap)
        assert sorted(via_driver, key=key) == sorted(via_spark, key=key), tier
        assert DEFAULT_N_BUCKETS + 7 not in {s["part_hash"] for s in via_driver}

    # a driver-side error falls through to the Spark job, not out of the
    # commit
    def _broken(*a, **kw):
        raise OSError("unreadable footer")

    monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
    monkeypatch.setattr(pq, "ParquetFile", _broken)
    snap = fmt.current_snapshot("rollup_1m")
    via_fallback = stats_of(spark, fmt, "rollup_1m", snap)
    monkeypatch.undo()
    monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", -1)
    via_spark = stats_of(spark, fmt, "rollup_1m", snap)
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

    import engine.lineage as lineage_mod

    stats_of = lineage_mod.written_partition_stats
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
    monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", 1 << 60)
    via_driver = stats_of(spark, fmt, "rollup_1m", snap)
    monkeypatch.setattr(lineage_mod, "_STATS_DRIVER_MAX_ROWS", -1)
    via_spark = stats_of(spark, fmt, "rollup_1m", snap)
    key = lambda s: s["part_hash"]  # noqa: E731
    assert sorted(via_driver, key=key) == sorted(via_spark, key=key)


def test_non_file_input_gets_no_task_cap(spark):
    """An input that reads no files (here in-memory rows) has no input
    size in its plan: the fused stage plans with neither a task cap nor a
    Coalesce, one Python task per input partition as Spark planned it."""
    from engine.schema import TIER_ORDER, TOKENS_SCHEMA
    from engine.util import planned_input_bytes
    from jobs.rollup import _build_tiers

    keys = ["spark.sql.files.maxPartitionBytes",
            "spark.sql.execution.arrow.maxBytesPerBatch"]
    saved = {k: spark.conf.get(k, None) for k in keys}
    toks = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "cc"), ("b", [4, 5], 2, "cc")], TOKENS_SCHEMA
    )
    try:
        df, py_tasks = _build_tiers(spark, toks, TIER_ORDER, 30, 3.0, "ffill", True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert planned_input_bytes(toks) is None
    assert py_tasks is None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan and "MapInArrow" in plan, plan


def test_observed_lineage_stats_match_written_tier(spark, small_tokens, tmp_path):
    """L3 per-partition stats are read from the snap dir each commit wrote
    (engine/lineage.py::written_partition_stats). Pin the recorded lineage
    rows against a re-read of each whole tier through the manifest —
    identical out_rows / in_rows per partition, zero-row pending
    partitions recorded as zeros."""
    from engine.lineage import partition_stats_from_rollup

    wh = str(tmp_path / "wh_obs")
    run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    lin = lineage_rows(
        wh, ["tier", "part_hash", "out_rows", "in_rows", "checkpoint_epoch"]
    ).to_pylist()
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


def test_lineage_latest_snapshot_wins_after_recompute(tmp_path):
    """A partition committed twice in one epoch (dirty-crash recompute)
    maps to its later output snapshot; other tiers and epochs are
    ignored."""
    from engine.lineage import committed_partition_snapshots, lineage_record

    wh = str(tmp_path / "wh")
    row = {"in_rows": 1, "out_rows": 1}
    lineage_record(wh, "1m", [{"part_hash": 1, **row}, {"part_hash": 2, **row}], 0, 1,
                   output_snapshot_id=5)
    lineage_record(wh, "1m", [{"part_hash": 1, **row}], 0, 1, output_snapshot_id=3)
    lineage_record(wh, "1m", [{"part_hash": 1, **row}], 0, 1, output_snapshot_id=7)
    lineage_record(wh, "1h", [{"part_hash": 1, **row}], 0, 1, output_snapshot_id=9)
    lineage_record(wh, "1m", [{"part_hash": 4, **row}], 0, 2, output_snapshot_id=8)
    assert committed_partition_snapshots(wh, "1m", 1) == {1: 7, 2: 5}
    assert committed_partition_snapshots(wh, "1m", 3) == {}
    assert committed_partition_snapshots(str(tmp_path / "none"), "1m", 1) == {}


def test_lineage_file_without_output_snapshot_reads_minus_one(tmp_path):
    """A lineage file written before output_snapshot_id was recorded
    gives -1 (readers then use the current snapshot); a recorded id for
    the same partition still wins."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.lineage import committed_partition_snapshots, lineage_record

    wh = str(tmp_path / "wh")
    lineage_record(wh, "1m", [{"part_hash": 2, "in_rows": 1, "out_rows": 1}], 0, 1,
                   output_snapshot_id=4)
    legacy = pa.table({
        "tier": ["1m", "1m"],
        "part_hash": pa.array([2, 3], pa.int64()),
        "input_snapshot_id": pa.array([0, 0], pa.int64()),
        "in_rows": pa.array([1, 1], pa.int64()),
        "out_rows": pa.array([1, 1], pa.int64()),
        "checkpoint_epoch": pa.array([1, 1], pa.int64()),
    })
    pq.write_table(legacy, os.path.join(wh, "lineage", "commit-1m-1-legacy.parquet"))
    assert committed_partition_snapshots(wh, "1m", 1) == {2: 4, 3: -1}


def test_tier_fallback_rejects_too_few_buckets(spark, tmp_path):
    """Lineage holds a row for every bucket, so a part_hash >= n_buckets
    in the tier's lineage, or in the finer tier that fills its holes,
    means the reader's bucket count is too small: raise, do not prune to
    the wrong buckets."""
    from engine.lineage import lineage_record

    wh = str(tmp_path / "wh")
    stats = [{"part_hash": p, "in_rows": 0, "out_rows": 0} for p in range(DEFAULT_N_BUCKETS)]
    lineage_record(wh, "1m", stats, 0, 1, output_snapshot_id=1)
    fmt = ParquetManifestFormat(spark, wh)
    half = DEFAULT_N_BUCKETS // 2
    with pytest.raises(ValueError, match=f"tier 1m: lineage holds part_hash .*n_buckets={half}"):
        tier_fallback(spark, fmt, "1m", 1, n_buckets=half)
    with pytest.raises(ValueError, match=f"tier 1m: lineage holds part_hash .*n_buckets={half}"):
        tier_fallback(spark, fmt, "1h", 1, n_buckets=half, doc_ids=["doc_00000001"])


def test_doc_scoped_downsample_equals_filtered_rows(spark, tokens_df, tmp_path):
    """Bucket pruning changes no row: a doc-scoped downsample equals the
    unpruned read filtered on doc_id, at every tier, including the 1d
    tier served from 1h because 1d is uncommitted."""
    wh = str(tmp_path / "wh")
    run_rollup(spark, tokens_df, wh, epoch=1, tiers=["1m", "1h"])
    fmt = ParquetManifestFormat(spark, wh)
    docs = ["doc_big", "doc_negmax", "doc_00000003", "doc_00000010"]
    for res, anoms in [(60, False), (3600, False), (86400, False), (60, True)]:
        pruned = downsample(spark, fmt, 1, docs, resolution_seconds=res,
                            anomalies_only=anoms).collect()
        full = (
            downsample(spark, fmt, 1, resolution_seconds=res, anomalies_only=anoms)
            .where(F.col("doc_id").isin(docs)).collect()
        )
        assert pruned and sorted(map(tuple, pruned)) == sorted(map(tuple, full)), res
        assert {r["doc_id"] for r in pruned} <= set(docs)


def _tiers_and_lineage(spark, wh):
    """Every tier's current rows (payloads and bucket_ts included) and the
    epoch's lineage (tier, part_hash, in_rows, out_rows, pipeline)."""
    from tests.conftest import AGG_COLS, rollup_rows

    fmt = ParquetManifestFormat(spark, wh)
    rows = {t: rollup_rows(fmt.read(f"rollup_{t}"), AGG_COLS + ["ts_dod", "v_gorilla"])
            for t in ("1m", "1h", "1d")}
    lin = sorted(
        (r["tier"], r["part_hash"], r["in_rows"], r["out_rows"], r["pipeline"])
        for r in lineage_rows(
            wh, ["tier", "part_hash", "in_rows", "out_rows", "pipeline"],
            pc.field("checkpoint_epoch") == 1,
        ).to_pylist()
    )
    return rows, lin


@pytest.fixture(scope="module")
def clean_run(spark, small_tokens, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("clean") / "wh")
    run_rollup(spark, small_tokens, wh, epoch=1)
    return _tiers_and_lineage(spark, wh)


class _Kill(Exception):
    pass


def test_kill_after_shared_write_before_any_commit(spark, small_tokens, clean_run,
                                                   tmp_path, monkeypatch):
    """A kill after the one write, before the first manifest swap, leaves
    only a staging dir that nothing reads: no tier, no lineage. The
    re-run equals a clean run."""
    import os
    import shutil

    wh = str(tmp_path / "wh")

    def killed(*a, **kw):
        raise _Kill

    with monkeypatch.context() as m:
        m.setattr(ParquetManifestFormat, "_commit_dir", killed)
        m.setattr(shutil, "rmtree", lambda *a, **kw: None)  # killed: no clean-up
        with pytest.raises(_Kill):
            run_rollup(spark, small_tokens, wh, epoch=1)
    staged = os.listdir(os.path.join(wh, "_staging"))
    assert len(staged) == 1
    assert {"tier=1m", "tier=1h", "tier=1d"} <= set(
        os.listdir(os.path.join(wh, "_staging", staged[0])))
    fmt = ParquetManifestFormat(spark, wh)
    assert [fmt.current_snapshot(f"rollup_{t}") for t in ("1m", "1h", "1d")] == [0, 0, 0]
    assert set(committed_partition_snapshots(wh, "1m", 1)) == set()

    m2 = run_rollup(spark, small_tokens, wh, epoch=1)
    assert [x["skipped"] for x in m2.values()] == [False] * 3
    assert _tiers_and_lineage(spark, wh) == clean_run


def test_kill_between_coarse_swap_and_lineage(spark, small_tokens, clean_run,
                                              tmp_path, monkeypatch):
    """A kill after the 1h manifest swap, before its lineage rows: 1h is
    DIRTY (data, no lineage) and 1d was never committed. The resume
    skips 1m, rebuilds 1h and 1d from the raw tokens, and equals a clean
    run."""
    import jobs.rollup as rollup_mod

    wh = str(tmp_path / "wh")
    orig = rollup_mod.lineage_record

    def killed_at_1h(warehouse, tier, *a, **kw):
        if tier == "1h":
            raise _Kill
        return orig(warehouse, tier, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(rollup_mod, "lineage_record", killed_at_1h)
        with pytest.raises(_Kill):
            run_rollup(spark, small_tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    assert [fmt.current_snapshot(f"rollup_{t}") for t in ("1m", "1h", "1d")] == [1, 1, 0]
    assert set(committed_partition_snapshots(wh, "1m", 1)) == set(range(DEFAULT_N_BUCKETS))
    assert set(committed_partition_snapshots(wh, "1h", 1)) == set()

    m2 = run_rollup(spark, small_tokens, wh, epoch=1)
    assert m2["1m"]["skipped"] and not m2["1h"]["skipped"] and not m2["1d"]["skipped"]
    assert fmt.current_snapshot("rollup_1h") == 2
    assert _tiers_and_lineage(spark, wh) == clean_run


def test_unreferenced_next_snap_dir_is_replaced(spark, small_tokens, clean_run, tmp_path):
    """A kill between a commit's rename and its manifest swap leaves a
    snap-<current+1> dir no snapshot references. The next commit of that
    table removes it instead of failing on the existing path."""
    import os

    wh = str(tmp_path / "wh")
    junk = os.path.join(wh, "rollup_1m", "snap-1", "part_hash=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    run_rollup(spark, small_tokens, wh, epoch=1)
    assert not os.path.exists(os.path.join(junk, "part-junk.parquet"))
    assert _tiers_and_lineage(spark, wh) == clean_run


def test_rerun_with_other_params_raises(spark, tmp_path):
    """Lineage records the build parameters. Re-running an epoch under
    other ones raises, naming both, before anything is written; the same
    parameters skip as before."""
    import json

    toks = synth_tokens(spark, 4, seed=3, n_tok=256)
    wh = str(tmp_path / "wh")
    run_rollup(spark, toks, wh, epoch=1, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    old = json.dumps({"compress": True, "k": 3.0, "policy": "ffill", "w": 30}, sort_keys=True)
    new = json.dumps({"compress": True, "k": 3.0, "policy": "zero", "w": 5}, sort_keys=True)
    with pytest.raises(ValueError) as e:
        run_rollup(spark, toks, wh, epoch=1, w=5, policy="zero")
    assert old in str(e.value) and new in str(e.value)
    assert fmt.current_snapshot("rollup_1m") == 1
    assert fmt.current_snapshot("rollup_1h") == 0
    assert run_rollup(spark, toks, wh, epoch=1, tiers=["1m"])["1m"]["skipped"]


def test_lineage_without_params_is_unchecked(tmp_path):
    """Lineage files written before parameters were recorded read null
    params, which recorded_params leaves out."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.lineage import lineage_record, recorded_params

    wh = str(tmp_path / "wh")
    row = [{"part_hash": 1, "in_rows": 1, "out_rows": 1}]
    lineage_record(wh, "1m", row, 0, 1, params='{"w": 30}')
    lineage_record(wh, "1h", row, 0, 1)
    legacy = pa.table({
        "tier": ["1d"], "part_hash": pa.array([1], pa.int64()),
        "checkpoint_epoch": pa.array([1], pa.int64()),
    })
    pq.write_table(legacy, os.path.join(wh, "lineage", "commit-1d-1-legacy.parquet"))
    assert recorded_params(wh, 1) == {"1m": {'{"w": 30}'}}
    assert recorded_params(wh, 2) == {}


def test_snapshot_expiry_removes_stale_staging(spark, small_tokens, tmp_path,
                                               monkeypatch):
    """The staging dir a killed write leaves is removed by snapshot expiry
    once it is older than STAGING_MAX_AGE_S; a fresh one (a write that may
    still be running) is kept."""
    import os
    import shutil

    from jobs.retention import STAGING_MAX_AGE_S, run_snapshot_expiry

    wh = str(tmp_path / "wh")

    def killed(*a, **kw):
        raise _Kill

    with monkeypatch.context() as m:
        m.setattr(ParquetManifestFormat, "_commit_dir", killed)
        m.setattr(shutil, "rmtree", lambda *a, **kw: None)  # killed: no clean-up
        with pytest.raises(_Kill):
            run_rollup(spark, small_tokens, wh, epoch=1)
    root = os.path.join(wh, "_staging")
    (leaked,) = [os.path.join(root, n) for n in os.listdir(root)]
    old = os.path.getmtime(leaked) - STAGING_MAX_AGE_S - 60
    os.utime(leaked, (old, old))
    fresh = os.path.join(root, "fresh")
    os.makedirs(os.path.join(fresh, "tier=1m"))

    m = run_snapshot_expiry(spark, wh, ["1m", "1h", "1d"], keep_last=1)
    assert m["_staging"] == {"removed_dirs": [leaked]}
    assert os.listdir(root) == ["fresh"]
    m = run_snapshot_expiry(spark, wh, ["1m", "1h", "1d"], keep_last=1)
    assert m["_staging"] == {"removed_dirs": []}
