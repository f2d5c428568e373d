"""Spans for the traced run, recorded from the benchmark's own files.

A span is (id, name, parent, run id, start, end). Spans live in memory and
are written once when the run ends. In the traced run every span also sets
a Spark job group, so the event log's per-stage task metrics can be tied
back to the span that submitted the job (``eventlog.totals``).

``wrap_layers`` patches the driver-side public functions that one layer
calls in another (``engine.lineage`` reads and commits, and the
``ParquetManifestFormat`` table methods) so their time lands in spans of
their own. Untraced runs keep their tracer disabled and patch nothing.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

# engine.lineage functions one layer calls in another; they are looked up
# in every module that imported them by name (jobs.rollup, engine.query, ...)
LINEAGE_FUNCS = (
    "pending_partitions", "committed_partition_snapshots", "lineage_record",
)
FORMAT_METHODS = (
    "overwrite_partitions", "drop_partitions", "read_at", "expire_snapshots",
    "current_snapshot", "snapshot_dirs", "snapshot_ids",
)


class Tracer:
    """Records spans while ``enabled``; when disabled a span costs a flag
    test, so traced and untraced operations can interleave in one run."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._sc = spark_context

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self.group_id(sid), self.spans[sid]["name"])

    def group_id(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(parent)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["id"]] = dur - _covered(children.get(s["id"], []))
    return out


def descendants(spans: list[dict], root_ids) -> set[int]:
    """The ids of *root_ids* and every span below them."""
    out = set(root_ids)
    for s in spans:  # spans are appended in start order: parents come first
        if s["parent"] in out:
            out.add(s["id"])
    return out


def _traced(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return wrapper


def wrap_layers(tracer: Tracer) -> None:
    """Route the cross-layer driver calls through spans (traced run only)."""
    import engine.lineage as lineage
    from engine.io import ParquetManifestFormat

    for fname in LINEAGE_FUNCS:
        orig = getattr(lineage, fname)
        wrapped = _traced(tracer, f"engine.lineage.{fname}", orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, fname, None) is orig:
                setattr(mod, fname, wrapped)
    for mname in FORMAT_METHODS:
        orig = getattr(ParquetManifestFormat, mname)
        setattr(ParquetManifestFormat, mname,
                _traced(tracer, f"engine.io.{mname}", orig))
