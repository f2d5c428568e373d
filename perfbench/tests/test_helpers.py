"""Tests for the benchmark's helpers.

    python3 -m pytest perfbench/tests -q

The Spark test (input determinism) starts a local session; the rest are
pure Python.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import eventlog  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
from measure import run_for, tail  # noqa: E402
from spans import Tracer, descendants, self_times  # noqa: E402
from workloads import ServeReads  # noqa: E402

FIXTURE_LOG = HERE / "fixtures"


# -- the percentile with at least ten samples beyond it ----------------------


def test_tail_has_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples: p90 is 90, with 91..100 beyond
    pct, val = tail(xs)
    assert (pct, val) == (90.0, 90)
    assert sum(x > val for x in xs) == 10


def test_tail_is_order_free_and_moves_up_with_more_samples():
    import random

    xs = list(range(1000))
    random.Random(0).shuffle(xs)
    pct, val = tail(xs)
    assert (pct, val) == (99.0, 989)


def test_tail_falls_back_to_the_maximum_below_21_samples():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail(list(range(20))) == (100.0, 19)
    pct, val = tail(list(range(21)))  # first size with a tail above p50
    assert val == 10 and pct == pytest.approx(100 * 11 / 21)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])


def test_run_for_runs_whole_rounds_for_the_time():
    seen = []
    run_for(0.0, seen.append, round_steps=3)
    assert seen == [0, 1, 2]
    seen.clear()
    run_for(0.05, seen.append)
    assert len(seen) > 3
    seen.clear()
    run_for(0.02, seen.append, round_steps=7)
    assert len(seen) > 7 and len(seen) % 7 == 0


# -- span self time ----------------------------------------------------------


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "run": "r",
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 5.0, 9.0), _span(3, 2, 6.0, 7.0)]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert sum(st.values()) == spans[0]["end"] - spans[0]["start"]


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0),
             _span(2, 0, 4.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(5.0)


def test_tracer_nests_and_skips_when_disabled():
    tr = Tracer("run")
    with tr.span("a"):
        with tr.span("b"):
            pass
    tr.enabled = False
    with tr.span("c") as sp:
        assert sp is None
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert descendants(tr.spans, [0]) == {0, 1}


# -- event log -----------------------------------------------------------------


def test_event_log_stages_and_groups():
    stages, jobs = eventlog.read(str(FIXTURE_LOG))
    assert jobs == {0: "run:3", 1: None}
    s0 = stages[(0, 0)]
    assert s0["group"] == "run:3" and s0["tasks"] == 3
    assert s0["run_s"] == pytest.approx(0.465)
    assert s0["cpu_s"] == pytest.approx(0.31)
    assert s0["gc_s"] == pytest.approx(0.02)
    assert s0["shuffle_write_bytes"] == 1500 and s0["records_read"] == 5000
    # slowest task 0.3 s over the median 0.1 s
    assert eventlog.stage_skew(s0) == pytest.approx(3.0)
    assert stages[(1, 0)]["shuffle_read_bytes"] == 1500
    assert stages[(1, 0)]["spill_bytes"] == 64
    assert stages[(2, 0)]["group"] is None


def test_event_log_totals_by_group():
    stages, jobs = eventlog.read(str(FIXTURE_LOG))
    t = eventlog.totals(stages, jobs, {"run:3"})
    assert t["jobs"] == 1 and t["tasks"] == 4
    assert t["shuffle_read_bytes"] == 1500 and t["shuffle_write_bytes"] == 1500
    assert t["task_skew"] == pytest.approx(3.0)
    everything = eventlog.totals(stages, jobs)
    assert everything["jobs"] == 2 and everything["records_read"] == 5007
    assert eventlog.totals(stages, jobs, {"nope"})["tasks"] == 0


# -- generators ----------------------------------------------------------------


def test_read_mix_is_seeded_and_stratified():
    base = [f"d{i}" for i in range(20)]
    every = base + [f"m{i}" for i in range(10)]
    docs = {1: base, 2: every, None: every}
    a = ServeReads.read_mix(7, docs, blocks=5)
    assert a == ServeReads.read_mix(7, docs, blocks=5)
    assert a != ServeReads.read_mix(8, docs, blocks=5)
    block = len(ServeReads.KINDS)
    for b in range(5):  # every block holds each kind once
        kinds = [r["kind"] for r in a[b * block:(b + 1) * block]]
        assert sorted(kinds) == sorted(ServeReads.KINDS)
    for r in a:
        assert 0 <= r["lo"] < r["hi"] <= ServeReads.TOKENS
        assert r["hi"] - r["lo"] == ServeReads.SPAN
        assert r["epoch"] == ServeReads.KINDS[r["kind"]]
        assert len(r["docs"]) == ServeReads.DOCS_PER_READ
        assert set(r["docs"]) <= set(docs[r["epoch"]])


def test_input_tables_depend_only_on_the_seed(tmp_path):
    """Same seed -> the same rows, whatever the file count; another seed
    -> other values."""
    pq = pytest.importorskip("pyarrow.parquet")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")])
    from engine.session import get_spark
    from workloads import write_tokens

    spark = get_spark(app_name="perfbench-test", master="local[2]")

    def rows(seed, files):
        p = str(tmp_path / f"s{seed}-f{files}")
        write_tokens(spark, p, 8, 64, seed, files)
        return sorted(pq.read_table(p).to_pylist(), key=lambda r: r["doc_id"])

    a = rows(3, 2)
    assert a == rows(3, 4)
    assert a != rows(4, 2)
    assert len(a) == 8 and all(len(r["tokens"]) == 64 for r in a)


# -- the benchmark description matches the code ------------------------------


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == report.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
