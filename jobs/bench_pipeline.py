"""Token-pipeline throughput bench (BASELINE.md protocol).

Generates (once, untimed) a deterministic token table at --docs x --len,
then times the full raw -> 1m -> 1h -> 1d rollup (fresh warehouse per run,
fresh lineage — no resume short-circuit). tokens/sec = sum(n_tok) / wall.

Each invocation is one JVM at one --master; the scaling harness
(tools/bench_scaling.py) spawns this at local[8] and local[32] and computes
the efficiency ratio — the sandbox proxy for the N -> 4N executor rule
(BASELINE.json:14, task brief).

Prints one JSON line per run plus a final summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# host metering moved to engine/hostmeter.py in round 5 so bench.py shares
# the exact same counters (self-adjudicating cross-round comparisons)
from engine.hostmeter import (  # noqa: E402
    host_busy_cpu as _host_busy_cpu,
    host_steal as _host_steal,
    jvm_metrics as _jvm_metrics,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--len", type=int, default=10_000, dest="length")
    ap.add_argument("--master", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1,
                    help="untimed JIT warmup runs before the timed ones")
    ap.add_argument("--no-compress", action="store_true")
    ap.add_argument("--workdir", default="/tmp/bench_pipeline")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from engine.io import scan_tokens, synth_tokens
    from engine.session import get_spark
    from jobs.rollup import run_rollup

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.master and args.master.startswith("local-cluster"):
        # local-cluster[n,cores,mem_mb]: true multi-JVM executors (the
        # sandbox's closest shape to an N-executor cluster). Executor heap
        # must fit inside the worker memory from the master string, and the
        # engine package must ship to the executor Python workers exactly
        # like a real cluster run: spark-submit --py-files dist/engine.zip.
        mem_mb = int(args.master.rstrip("]").split(",")[-1])
        extra["spark.executor.memory"] = f"{max(mem_mb - 512, 1024)}m"
        repo = Path(__file__).resolve().parents[1]
        zip_path = repo / "dist" / "engine.zip"
        subprocess.run(
            [sys.executable, str(repo / "tools" / "package.py")],
            check=True, capture_output=True,
        )
        extra["spark.submit.pyFiles"] = str(zip_path)
    spark = get_spark(
        app_name="bench-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=extra,
    )
    cores = spark.sparkContext.defaultParallelism

    tok_path = os.path.join(args.workdir, f"tokens-{args.docs}x{args.length}")
    if not os.path.exists(os.path.join(tok_path, "_SUCCESS")):
        # >= 64 files: the fused pipeline's parallelism is bounded by parquet
        # row-group count (row groups are unsplittable), so an input written
        # at low parallelism silently caps every later scan. A real 100 TB
        # table has orders of magnitude more files than cores; the bench
        # input must not be the artificial bottleneck.
        synth_tokens(spark, args.docs, n_tok=args.length).repartition(
            64
        ).write.mode("overwrite").parquet(tok_path)
    tokens = scan_tokens(spark, tok_path)
    total_tokens = args.docs * args.length

    for i in range(args.warmup):
        wh = os.path.join(args.workdir, f"wh-warm{i}")
        shutil.rmtree(wh, ignore_errors=True)
        run_rollup(spark, tokens, wh, epoch=1, compress=not args.no_compress)
        shutil.rmtree(wh, ignore_errors=True)

    results = []
    all_recs: list[dict] = []
    for i in range(args.runs):
        wh = os.path.join(args.workdir, f"wh-run{i}")
        shutil.rmtree(wh, ignore_errors=True)
        m0, s0, b0 = _jvm_metrics(spark), _host_steal(), _host_busy_cpu()
        t0 = time.monotonic()
        tiers = run_rollup(spark, tokens, wh, epoch=1,
                           compress=not args.no_compress)
        wall = time.monotonic() - t0
        m1, s1, b1 = _jvm_metrics(spark), _host_steal(), _host_busy_cpu()
        # Amdahl split (run_rollup phase timers): parallel compute+write
        # wall vs fixed latency-bound costs (pending reads, tiny stats
        # jobs, serial lineage/manifest commits)
        par_s = sum(m.get("write_s", 0.0) for m in tiers.values())
        fix_s = sum(m.get("fixed_s", 0.0) for m in tiers.values())
        rec = {
            "run": i,
            "seconds": round(wall, 3),
            "tiers": {t: m["seconds"] for t, m in tiers.items()},
            "parallel_s": round(par_s, 3),
            "fixed_s": round(fix_s, 3),
            "tokens_per_sec": round(total_tokens / wall),
            "cores": cores,
            "docs": args.docs,
            "len": args.length,
            "compress": not args.no_compress,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            # variance diagnosis: where did the wall time go?
            "gc_s": round((m1["gc_ms"] - m0["gc_ms"]) / 1000, 3),
            "jvm_cpu_s": round(m1["jvm_cpu_s"] - m0["jvm_cpu_s"], 1),
            "host_steal_s": round(s1 - s0, 1),
            "host_busy_cpu_s": round(b1 - b0, 1),
        }
        print(json.dumps(rec), flush=True)
        results.append(wall)
        all_recs.append(rec)
        shutil.rmtree(wh, ignore_errors=True)

    from engine.hostmeter import host_probe
    from engine.util import median

    med = median(results)
    med_par = median(r["parallel_s"] for r in all_recs)
    med_fix = median(r["fixed_s"] for r in all_recs)
    print(
        json.dumps(
            {
                "summary": True,
                # microprobe AFTER the timed runs: same fixed probe code as
                # bench.py, so scaling JSONs carry the host's bandwidth +
                # CPU state alongside the per-run steal/busy counters
                "host_probe": host_probe(),
                "median_seconds": round(med, 3),
                "median_parallel_seconds": round(med_par, 3),
                "median_fixed_seconds": round(med_fix, 3),
                "parallel_tokens_per_sec": round(total_tokens / med_par) if med_par else None,
                "tokens_per_sec": round(total_tokens / med),
                "cores": cores,
                "runs": [round(r, 3) for r in results],
                "runs_detail": all_recs,
                "docs": args.docs,
                "len": args.length,
                "compress": not args.no_compress,
                "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
