"""Per-round bench (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the token-pipeline throughput probe.

Prints ONE JSON line:
  {"metric": ..., "value": <total headline sec>, "unit": "sec",
   "queries": {name: median sec}, "queries_runs": {name: [sec, ...]},
   "sf": ..., "pipeline_tokens_per_sec": ...}

Timing protocol (BASELINE.md: >=3 runs, report the MEDIAN — round-2 judge
finding #1: single-shot per-query numbers manufactured phantom 26-60%
regressions): actions are forced with the noop sink (all compute, no sink
I/O); a full UNTIMED pass over every headline query amortizes per-query
codegen/cache warmup (round-4 judge finding: a single global warmup left
monotone-decreasing timed runs on a slow host); then every headline query
and the pipeline probe run SPARK_GRAFT_BENCH_RUNS (default 3) times,
`queries` carries medians, `queries_runs` the raw per-run numbers. The
deeper scaling evidence (local[8] vs local[32], multi-JVM local-cluster)
lives in tools/bench_scaling.py -> BENCH/BASELINE.md.

Self-adjudication (round-5, the round-4 lesson — a 1.7x paper regression
that was pure host drift): the output now carries
  "host": engine/hostmeter microprobes (memcpy GB/s + cache-resident
          Mflop/s + loadavg) sampled before and after the bench — same
          probe code every round, so probe drift IS host drift;
  "queries_host": per timed run, {busy_cpu_s, steal_s, gc_s} deltas
          saying where that run's wall time went.
Drift control queries: pricing_summary, rank_orders, order_gaps are
code-frozen since round 1 — if their medians move together with the
probes, the host moved, not the engine.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "rolling_mean",
    "anomaly_score",
    "detect",
    "rollup_minute",
    "cascade_hour",
    "pricing_summary",
    "top_customers",
    "rank_orders",
    "order_gaps",
    "doc_fingerprint",
    "quality_score",
    "embedding_topk",
]

# 49.2M tokens: big enough that the 3 fixed tier commits (~6 s) stop
# dominating and the probe reflects pipeline throughput, small enough to
# generate + run twice (warmup + timed) in ~1 min on local[32]
PIPELINE_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "6000"))
PIPELINE_LEN = int(os.environ.get("SPARK_GRAFT_BENCH_LEN", "8192"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))

    import __spark_entry__ as entrymod
    from engine.io import scan_tokens, synth_tokens
    from engine.session import get_spark
    from jobs.rollup import run_rollup

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def force(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    qs = entrymod.queries()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from engine import hostmeter

    host = {"before": hostmeter.host_probe()}

    # per-query untimed warmup: one full pass JITs/codegens EVERY headline
    # query and faults its tables into the page cache, so no timed run
    # carries first-touch costs (the round-4 monotone-decreasing spreads)
    for name in HEADLINE:
        force(qs[name](spark, sf_dir))

    from engine.util import median

    # Run-major order (full pass 1, then pass 2, ...) rather than
    # query-major, so one transient stall (GC, hypervisor steal) lands in
    # different queries on different passes instead of poisoning all runs
    # of one query back-to-back.
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    runs_host: dict[str, list[dict]] = {name: [] for name in HEADLINE}
    for _ in range(n_runs):
        for name in HEADLINE:
            h0 = hostmeter.snapshot(spark)
            t0 = time.monotonic()
            force(qs[name](spark, sf_dir))
            runs[name].append(round(time.monotonic() - t0, 3))
            runs_host[name].append(hostmeter.delta(h0, hostmeter.snapshot(spark)))
    timings: dict[str, float] = {
        name: round(median(rs), 3) for name, rs in runs.items()
    }

    # token pipeline probe: synth (untimed, cached to parquet) -> full
    # raw->1m->1h->1d rollup incl compression payloads
    tok_path = f"/tmp/bench_tokens-{PIPELINE_DOCS}x{PIPELINE_LEN}"
    if not os.path.exists(os.path.join(tok_path, "_SUCCESS")):
        # >= 64 files: fused-pipeline parallelism is bounded by row-group
        # count (see jobs/bench_pipeline.py)
        synth_tokens(spark, PIPELINE_DOCS, n_tok=PIPELINE_LEN).repartition(
            64
        ).write.mode("overwrite").parquet(tok_path)
    tokens = scan_tokens(spark, tok_path)
    # warm the pipeline path untimed at FULL size (Python workers, Arrow,
    # codegen and page cache spin up once per JVM — one-time cost a
    # long-running production job pays once; a small warmup input measured
    # 5x noisier results)
    shutil.rmtree("/tmp/bench_wh_warm", ignore_errors=True)
    run_rollup(spark, tokens, "/tmp/bench_wh_warm", epoch=1, compress=True)
    shutil.rmtree("/tmp/bench_wh_warm", ignore_errors=True)

    pipe_runs: list[float] = []
    pipe_host: list[dict] = []
    for _ in range(n_runs):
        wh = "/tmp/bench_wh"
        shutil.rmtree(wh, ignore_errors=True)
        h0 = hostmeter.snapshot(spark)
        t0 = time.monotonic()
        run_rollup(spark, tokens, wh, epoch=1, compress=True)
        pipe_runs.append(round(time.monotonic() - t0, 3))
        pipe_host.append(hostmeter.delta(h0, hostmeter.snapshot(spark)))
        shutil.rmtree(wh, ignore_errors=True)
    pipeline_sec = round(median(pipe_runs), 3)
    runs["token_pipeline"] = pipe_runs
    runs_host["token_pipeline"] = pipe_host
    timings["token_pipeline"] = pipeline_sec
    host["after"] = hostmeter.host_probe()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Key order is deliberate (round-5 verdict task #2): the driver's
    # record keeps the TAIL of a too-long line, and BENCH_r05.json lost
    # its headline medians because they led the object while the bulky
    # hostmeter sidecars trailed. Bulky diagnostics go FIRST; the metric,
    # value, medians, and throughput — the numbers a clipped record must
    # still carry — go LAST. json.dumps preserves insertion order.
    out = {
        "queries_runs": runs,
        "queries_host": runs_host,
        "host": host,
        "drift_control_queries": ["pricing_summary", "rank_orders", "order_gaps"],
        "runs_per_query": n_runs,
        "pipeline_tokens": PIPELINE_DOCS * PIPELINE_LEN,
        "cores": cpus,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sf": sf_val,
        "queries": timings,
        "pipeline_tokens_per_sec": round(PIPELINE_DOCS * PIPELINE_LEN / pipeline_sec),
        "metric": "headline_queries_plus_pipeline_seconds",
        "unit": "sec",
        "value": round(sum(timings.values()), 3),
    }
    # Durable in-repo twin: the full record survives regardless of how the
    # driver clips stdout. Round number = one past the newest BENCH_r<N>
    # the driver has recorded (this bench runs before the round is filed).
    repo = Path(__file__).resolve().parent
    try:
        n = 1 + max(
            (int(m.group(1)) for p in repo.glob("BENCH_r*.json")
             if (m := re.fullmatch(r"BENCH_r(\d+)\.json", p.name))),
            default=0,
        )
        twin = repo / "BENCH" / f"bench_r{n:02d}.json"
        twin.write_text(json.dumps(out, indent=1))
        print(f"full record: {twin}", file=sys.stderr, flush=True)
    except OSError:
        pass  # bench must still print its line on a read-only checkout
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
