"""Seeded benchmark of the rollup engine: bulk ingest and downsample reads,
with a traced per-layer run.

Run from the root of the repository:

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 5 --trace 0

One Python process drives Spark at ``local[<cores>]`` as one closed-loop
client. Set-up writes the seeded inputs five times (``setup_s`` is the
median), an untimed pass warms the measured path, then operations run
until ``--seconds`` have elapsed, and every result is checked.

``--trace 0`` reports the end-to-end metrics: set-up time, and the CPU
seconds an operation costs in the driver, the Spark JVM and its Python
workers (``op_cpu_s``, ``tokens_per_cpu_s``). Operations are timed in
wall seconds too, and the record keeps those latencies; they are not
end-to-end metrics because on a shared host the hypervisor's CPU steal
moves them by more than the bound between runs of the same code, and
a process's CPU time far less. ``--trace 1`` turns the
Spark event log on and runs every operation twice, untraced and then
traced (spans, layer wrappers and Spark job groups on); it reports the
per-layer metrics of the traced operations, and the tracing overhead as
the difference of the two sides' median operation latency.

Progress goes to stderr. The full record is printed as one JSON line and
written to ``perfbench/out/``; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

HEAP = "2g"  # the Spark JVM's heap

END_TO_END = {
    "setup_s": "s", "op_cpu_s": "s", "tokens_per_cpu_s": "tokens/s",
    "stored_bytes_per_token": "bytes", "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def session_env(work: Path) -> None:
    """Keep the files Spark and its workers write inside the work dir, and
    let the Python workers import the engine."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # A JVM that lives for one run never reaches C2-compiled steady
        # state: with full tiered compilation an epoch's CPU kept falling,
        # epoch by epoch, through the whole run. C1 alone is done within
        # the warm-up. With code cache flushing on, the sweeper evicted the
        # warm-up's code about a minute in, and its recompilation doubled
        # one operation's CPU.
        # A fixed, modest heap, all of it resident from the start: when
        # the JVM grew its heap as far as GC timing took it, peak RSS
        # varied by up to 20 % between runs of the same workload (by
        # 2.8-4.4 GB under the engine's 8g default).
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "eventlog"),
                     "spark.eventLog.compress": "false"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, work: Path) -> dict:
    from engine import hostmeter
    from engine.io import ParquetManifestFormat
    from engine.session import get_spark
    from engine.util import median

    import report
    import spans
    from measure import Harness, run_for, summary
    from workloads import WORKLOADS, warehouse_files

    cores = len(os.sched_getaffinity(0))
    session_env(work)
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=spark_conf(work, args.trace))
    try:
        # spans record only while the tracer is enabled: never in an
        # untraced run, and only on the traced side of a traced run
        tracer = spans.Tracer(f"{args.workload}-{args.seed}",
                              spark.sparkContext if args.trace else None)
        tracer.enabled = False
        h = Harness(spark, tracer)
        if args.trace:
            probe_before = hostmeter.host_probe()
            spans.wrap_layers(tracer)  # before any work
        w = WORKLOADS[args.workload](spark, h, tracer, str(work), args.seed)
        log(f"{w.name}: set-up")
        setup_times = w.setup()
        log(f"{w.name}: set-up {[round(t, 2) for t in setup_times]} s; warm-up")
        w.prepare()
        log(f"{w.name}: measuring for {args.seconds} s")
        tokens = []  # raw points each measured (untraced) operation covered
        if args.trace:
            # every operation runs twice, untraced then traced, so both
            # sides of the overhead comparison see the same operations and
            # the same drift; each side keeps its own (harness, tracing on,
            # rollup dicts, read log)
            traced_h = Harness(spark, tracer)
            sides = ((h, False, [], []), (traced_h, True, [], []))
            side_s = [0.0, 0.0]  # loop time per side, checks included

            def step(i):
                w.h, tracer.enabled, w.rollup_metrics, w.log = sides[i % 2]
                t0 = time.monotonic()
                n0 = w.tokens_done
                w.step(i // 2)
                if i % 2 == 0:
                    tokens.append(w.tokens_done - n0)
                side_s[i % 2] += time.monotonic() - t0

            loop_s = run_for(args.seconds, step, 2 * w.round_ops)
            w.rollup_metrics, w.log = sides[1][2:]  # the traced side's results
            w.h, tracer.enabled = h, False
            traced = summary([x for k in w.op_kinds for x in traced_h.samples.get(k, [])])
        else:
            def step(i):
                n0 = w.tokens_done
                w.step(i)
                tokens.append(w.tokens_done - n0)

            loop_s = run_for(args.seconds, step, w.round_ops)
        ops = summary([x for k in w.op_kinds for x in h.samples.get(k, [])])
        cpu = [x for k in w.op_kinds for x in h.cpu.get(k, [])]
        op_wall = sum(sum(v) for v in h.samples.values())
        facts = w.finish()
        fmt = ParquetManifestFormat(spark, w.warehouse())
        n_files, n_bytes = warehouse_files(fmt)
        snap_dirs = w.snap_dirs()
        record = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{cores}]",
            "setup_runs_s": setup_times, "op_latency": ops, "loop_s": loop_s,
            "op_wall_s": op_wall, "tokens_done": w.tokens_done,
            "samples_s": h.samples, "cpu_s": h.cpu, "tokens_per_op": tokens,
            "host_per_op": h.host,
            "warehouse_files": n_files, "warehouse_bytes": n_bytes,
            "snap_dirs": snap_dirs, **facts,
        }
        if args.trace:
            probes = {"io.snap_dirs": snap_dirs, "io.files_written": n_files,
                      "op.wall_p50_s": ops["p50"], "op.wall_tail_s": ops["tail"],
                      "op.tokens_per_s": sum(tokens) / op_wall}
            tokens_df = w.ingest_input()
            if tokens_df is not None:
                probes.update(report.fused_probe(spark, h.jvm_pid, tokens_df))
            probes.update(report.codec_probe(fmt))
            probe_after = hostmeter.host_probe()
            for k in ("mem_bw_gbps", "cpu_mflops"):
                probes[f"host.{k}"] = (probe_before[k] + probe_after[k]) / 2
            record["host_probe"] = {"before": probe_before, "after": probe_after}
    finally:
        stop_spark(spark)

    attempted, failed = h.attempted, h.failed
    record["failures"] = h.failures
    if args.trace:
        metrics, detail = report.layer_metrics(
            w, tracer, traced_h, str(work / "eventlog"), probes,
            ops["p50"], traced["p50"], side_s[1])
        units = dict(report.PER_LAYER)
        record.update(op_latency_traced=traced, samples_traced_s=traced_h.samples,
                      layers=detail, spans=tracer.spans,
                      predictions=predictions(w.name, metrics, traced["p50"]))
        attempted += traced_h.attempted
        failed += traced_h.failed
        record["failures"] += traced_h.failures
    else:
        metrics = {
            "setup_s": summary(setup_times)["p50"],
            "op_cpu_s": median(cpu),
            "tokens_per_cpu_s": median([t / c for t, c in zip(tokens, cpu)]),
            "stored_bytes_per_token": n_bytes / facts["stored_tokens"],
            "peak_rss_mb": h.peak_rss_mb,
        }
        units = END_TO_END
    return {
        "record": record,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def predictions(name: str, m: dict, op_p50: float) -> dict:
    """Which layer carries the workload, as the traced run measured it."""
    if name == "bulk_ingest":
        return {"write_1m_share_of_epoch": m["rollup.write_s.1m"] / op_p50,
                "kernel_share_of_epoch": m["fused.scan_kernel_s"] / op_p50}
    return {"fused_scan_kernel_s": m["fused.scan_kernel_s"],
            "python_worker_cpu_s_per_refresh": m["spark.python_worker_cpu_s"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import engine.io  # noqa: F401
        import jobs.rollup  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec = out["record"]
    dest = HERE / "out"
    dest.mkdir(exist_ok=True)
    path = dest / f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}.json"
    path.write_text(json.dumps(rec, indent=1, default=str))
    print(json.dumps(rec, default=str))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
