"""The benchmark's one timing loop and what it records per operation.

One closed-loop client: ``run_for`` starts an operation only after the
previous one has finished. ``Harness.op`` times one operation inside a
top-level span, in wall seconds and in CPU seconds of the driver and the
Spark process tree, takes ``engine.hostmeter`` counter deltas around it
and samples the resident memory of the Spark process tree after it.
"""

from __future__ import annotations

import os
import sys
import time

from engine import hostmeter
from engine.util import median


def tail(samples) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ten samples beyond it: the nearest-rank order statistic with
    exactly ten larger samples. Below 21 samples that percentile is at or
    under the median, so the maximum is reported as the 100th."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("tail() of no samples")
    if n <= 20:
        return 100.0, s[-1]
    k = n - 11
    return 100.0 * (k + 1) / n, s[k]


def summary(samples) -> dict:
    """Median, tail percentile and count of one sample list."""
    pct, val = tail(samples)
    return {"n": len(samples), "p50": median(samples), "tail_pct": pct,
            "tail": val}


def _tree(root_pid: int) -> list[int]:
    """*root_pid* and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident MiB of the Spark JVM and the Python workers it forks."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


def cpu_s(pids) -> float:
    """CPU seconds of *pids*, each with its children that already exited
    and were reaped. Unlike host-wide busy CPU this ignores other tenants,
    and the time the hypervisor takes from this machine is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the processes below the JVM: the Python worker
    daemon and its workers."""
    return cpu_s(_tree(jvm_pid)[1:])


def run_for(seconds: float, step, round_steps: int = 1) -> float:
    """Call ``step(i)`` for i = 0, 1, ... in whole rounds of *round_steps*
    steps until *seconds* have elapsed (the last round always completes,
    so a run holds each operation of a round equally often). Returns the
    loop's wall time."""
    t0 = time.monotonic()
    i = 0
    while i == 0 or i % round_steps or time.monotonic() - t0 < seconds:
        step(i)
        i += 1
    return time.monotonic() - t0


class Harness:
    """Timed operations and correctness checks of one run."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}  # CPU seconds per operation
        self.host: dict[str, list[dict]] = {}
        self.op_span_ids: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.peak_rss_mb = tree_rss_mb(self.jvm_pid)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed operation; returns its result."""
        self.attempted += 1
        h0 = hostmeter.snapshot(self.spark)
        c0 = worker_cpu_s(self.jvm_pid)
        # CPU of the driver and of the JVM and its Python workers; each
        # /proc scan runs outside the driver's window
        tree0 = cpu_s(_tree(self.jvm_pid))
        py0 = time.process_time()
        with self.tracer.span(f"op.{kind}") as sp:
            t0 = time.monotonic()
            out = fn(*args, **kwargs)
            dt = time.monotonic() - t0
        cpu = time.process_time() - py0
        cpu += cpu_s(_tree(self.jvm_pid)) - tree0
        d = hostmeter.delta(h0, hostmeter.snapshot(self.spark))
        d["worker_cpu_s"] = worker_cpu_s(self.jvm_pid) - c0
        self.host.setdefault(kind, []).append(d)
        self.samples.setdefault(kind, []).append(dt)
        self.cpu.setdefault(kind, []).append(cpu)
        if sp is not None:
            self.op_span_ids.append(sp["id"])
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.jvm_pid))
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one correctness check; a failed one is reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)
