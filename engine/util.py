"""Small shared helpers: plan introspection and the bench harnesses' median."""

from __future__ import annotations


def median(xs) -> float:
    """True median: midpoint of the two central values for even counts.
    (Round-3 scaling summaries used sorted(xs)[n//2], which reports the
    SLOWER of the two middle runs for even run counts — shared here so
    bench.py and jobs/bench_pipeline.py can't drift.)"""
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def planned_partitions(df) -> int | None:
    """Partition count of *df*'s physical plan, without running a job (the
    file scan's splits, for a scan). None when the plan is adaptive: its
    count is known only after its shuffle stages have run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return None
    return int(plan.execute().getNumPartitions())


def planned_input_bytes(df) -> int | None:
    """Input bytes of *df*'s optimized plan, without running a job: for a
    file scan, the summed sizes of its files (Spark's own plan statistic).
    None when *df* reads no files (cached, in-memory or generated input),
    whose statistic is a guess rather than a size."""
    if not df.inputFiles():
        return None
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
