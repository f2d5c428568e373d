"""Spark event-log parser: per-stage task metrics, tied to job groups.

The traced run sets one Spark job group per span (``spans.Tracer``), so
every job a span submits carries ``spark.jobGroup.id`` in its start
properties. This module joins TaskEnd events to their stage, stages to
their job, and jobs to that group id, and sums the task metrics the
per-layer report needs.

Spark 4 writes a rolling log by default (``eventlog_v2_<app>/events_<n>_<app>``);
the session must set ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import glob
import json
import os

from engine.util import median

SUM_KEYS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "records_read",
)


def event_files(log_dir: str) -> list[str]:
    """The rolling event files under *log_dir*, in write order."""

    def index(p: str) -> int:
        return int(os.path.basename(p).split("_")[1])

    return sorted(glob.glob(os.path.join(log_dir, "*", "events_*")), key=index)


def parse(lines) -> tuple[dict, dict]:
    """Parse event-log JSON lines.

    Returns ``(stages, jobs)``: ``stages`` maps (stage id, attempt) to
    ``{group, task_s: [per-task wall seconds], <SUM_KEYS>: totals}``;
    ``jobs`` maps job id to its job group (None when none was set)."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, str | None] = {}
    stages: dict[tuple[int, int], dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[int(ev["Job ID"])] = group
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind == "SparkListenerTaskEnd":
            key = (int(ev["Stage ID"]), int(ev.get("Stage Attempt ID", 0)))
            st = stages.get(key)
            if st is None:
                st = stages[key] = dict.fromkeys(SUM_KEYS, 0)
                st["task_s"] = []
                st["group"] = stage_group.get(key[0])
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["task_s"].append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            )
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_read_bytes"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            )
            st["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return stages, jobs


def read(log_dir: str) -> tuple[dict, dict]:
    """``parse`` over every event file under *log_dir*."""

    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f

    return parse(lines())


def stage_skew(stage: dict) -> float:
    """Slowest task over the median task of one stage (1.0 when the median
    task took no measurable time)."""
    med = median(stage["task_s"])
    return max(stage["task_s"]) / med if med > 0 else 1.0


def totals(stages: dict, jobs: dict, groups=None) -> dict:
    """Sum the metrics of the stages and jobs whose group is in *groups*
    (all when None). ``task_skew`` is the worst stage's max/median task
    time among stages with at least two tasks."""
    out = dict.fromkeys(SUM_KEYS, 0)
    out["jobs"] = sum(1 for g in jobs.values() if groups is None or g in groups)
    out["task_skew"] = 1.0
    for st in stages.values():
        if groups is not None and st["group"] not in groups:
            continue
        for k in SUM_KEYS:
            out[k] += st[k]
        if st["tasks"] >= 2:
            out["task_skew"] = max(out["task_skew"], stage_skew(st))
    return out
