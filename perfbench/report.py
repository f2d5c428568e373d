"""Per-layer metrics of the traced run.

``PER_LAYER`` is the fixed list every traced run reports, whatever the
workload: a layer the workload never calls reads 0. Times are per measured
operation (a span name's summed self time over the loop, divided by the
number of operations) unless the name says otherwise. The ``op.*`` wall
clock figures are those of the run's untraced operations.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from engine.util import median

import eventlog
from measure import worker_cpu_s
from spans import descendants, self_times
from workloads import snapshot_files

READ_KINDS = ("downsample", "fallback", "raw_points")

PER_LAYER = (
    [("op.wall_p50_s", "s"), ("op.wall_tail_s", "s"), ("op.tokens_per_s", "tokens/s"),
     ("fused.scan_kernel_s", "s"), ("fused.python_cpu_s", "s"),
     ("codec.enc_mpts", "Mpts/s"), ("codec.dec_mpts", "Mpts/s"),
     ("codec.bytes_per_point", "count")]
    + [(f"rollup.write_s.{t}", "s") for t in ("1m", "1h", "1d")]
    + [("rollup.stats_s", "s"), ("rollup.commit_s", "s"), ("rollup.fixed_s", "s"),
       ("lineage.pending_s", "s"), ("lineage.snapshots_s", "s"),
       ("lineage.record_s", "s"), ("lineage.files", "count"),
       ("io.overwrite_s", "s"), ("io.read_plan_s", "s"), ("io.snap_dirs", "count"),
       ("io.manifest_bytes", "bytes"), ("io.files_written", "count")]
    + [(f"query.{p}_s.{k}", "s") for k in READ_KINDS for p in ("plan", "exec")]
    + [("query.rows_scanned_per_row_returned", "ratio"),
       ("retention.s", "s"), ("retention.rewritten_partitions", "count"),
       ("retention.rows_dropped", "count"), ("compact.s", "s"),
       ("compact.dirs_before", "count"), ("expire.s", "s"),
       ("expire.removed_dirs", "count"),
       ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
       ("spark.task_skew", "ratio"), ("spark.jobs", "count"), ("spark.tasks", "count"),
       ("spark.python_worker_cpu_s", "s"),
       ("host.steal_s", "s"), ("host.busy_cpu_s", "s"),
       ("host.mem_bw_gbps", "GB/s"), ("host.cpu_mflops", "Mflop/s"),
       ("trace.overhead_s", "s"), ("trace.overhead_pct", "%"),
       ("trace.attributed_share", "ratio")]
)


def _med(xs) -> float:
    xs = list(xs)
    return float(median(xs)) if xs else 0.0


PROBE_REPEATS = 3
CODEC_FRAMES = 20000  # frames the codec probe decodes and re-encodes


def fused_probe(spark, jvm_pid: int, tokens_df) -> dict:
    """``fused_rollup_1m`` forced to the noop sink: scan + kernel, no
    shuffle, no write. Its Python CPU is the Python workers' CPU time
    (host busy CPU minus JVM CPU would count other tenants of the host)."""
    from engine.fused import fused_rollup_1m

    wall, py = [], []
    for _ in range(PROBE_REPEATS):
        c0 = worker_cpu_s(jvm_pid)
        t0 = time.monotonic()
        fused_rollup_1m(tokens_df).write.mode("overwrite").format("noop").save()
        wall.append(time.monotonic() - t0)
        py.append(worker_cpu_s(jvm_pid) - c0)
    return {"fused.scan_kernel_s": _med(wall), "fused.python_cpu_s": _med(py)}


def codec_probe(fmt) -> dict:
    """Single-core codec rates on the 1m tier's own payloads: decode every
    frame with the vectorized decoders, re-encode the decoded points."""
    from engine.compression import (
        dod_compress_parts, dod_decompress_many,
        gorilla_compress_parts, gorilla_decompress_many,
    )

    ft, fv = [], []
    for path in snapshot_files(fmt, "1m"):
        t = pq.read_table(path, columns=["ts_dod", "v_gorilla"])
        for a, b in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
            if a is not None and b is not None:
                ft.append(a)
                fv.append(b)
    ft, fv = ft[:CODEC_FRAMES], fv[:CODEC_FRAMES]
    enc, dec = [], []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        ts, ct = dod_decompress_many(ft)
        vs, cv = gorilla_decompress_many(fv)
        t1 = time.perf_counter()
        dod_compress_parts(ts, ct)
        gorilla_compress_parts(vs, cv)
        t2 = time.perf_counter()
        dec.append(t1 - t0)
        enc.append(t2 - t1)
    points = int(np.sum(ct))
    return {
        "codec.enc_mpts": points / _med(enc) / 1e6,
        "codec.dec_mpts": points / _med(dec) / 1e6,
        "codec.bytes_per_point": sum(map(len, ft)) / points + sum(map(len, fv)) / points,
        "codec.points": points,
    }


def layer_metrics(w, tracer, harness, log_dir: str, probes: dict,
                  untraced_op_p50: float, traced_op_p50: float,
                  traced_loop_s: float) -> tuple[dict, dict]:
    """(per-layer metrics, detail for the record) of the traced operations
    of one run: *harness* timed them, ``w.rollup_metrics`` / ``w.log``
    hold their results only, and *traced_loop_s* is the loop time of the
    traced steps, checks and counter snapshots included."""
    spans = tracer.spans
    selfs = self_times(spans)
    loop = descendants(spans, harness.op_span_ids)
    n_ops = max(1, len(harness.op_span_ids))
    by_name: dict[str, float] = {}
    for s in spans:
        if s["id"] in loop:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    per_op = {k: v / n_ops for k, v in sorted(by_name.items())}
    op_total = sum(spans[i]["end"] - spans[i]["start"] for i in harness.op_span_ids)
    op_self = sum(selfs[i] for i in harness.op_span_ids)

    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    m.update(probes)

    rm = w.rollup_metrics
    for t in ("1m", "1h", "1d"):
        m[f"rollup.write_s.{t}"] = _med(x[t]["write_s"] for x in rm if t in x)
    for k in ("stats_s", "commit_s", "fixed_s"):
        m[f"rollup.{k}"] = _med(sum(x[t].get(k, 0.0) for t in x) for x in rm)

    m["lineage.pending_s"] = per_op.get("engine.lineage.pending_partitions", 0.0)
    m["lineage.snapshots_s"] = per_op.get(
        "engine.lineage.committed_partition_snapshots", 0.0)
    m["lineage.record_s"] = per_op.get("engine.lineage.lineage_record", 0.0)
    m["io.overwrite_s"] = per_op.get("engine.io.overwrite_partitions", 0.0)
    m["io.read_plan_s"] = per_op.get("engine.io.read_at", 0.0)

    wh = w.warehouse()
    lin = os.path.join(wh, "lineage")
    m["lineage.files"] = len(os.listdir(lin)) if os.path.isdir(lin) else 0
    m["io.manifest_bytes"] = sum(
        os.path.getsize(p) for t in ("1m", "1h", "1d")
        if os.path.exists(p := os.path.join(wh, f"rollup_{t}", "manifest.json"))
    )

    log = getattr(w, "log", [])
    for k in READ_KINDS:
        m[f"query.plan_s.{k}"] = _med(x["plan_s"] for x in log if x["kind"] == k)
        m[f"query.exec_s.{k}"] = _med(x["exec_s"] for x in log if x["kind"] == k)

    maint = getattr(w, "maint", [])
    m["retention.s"] = _med(x["retention_s"] for x in maint)
    m["compact.s"] = _med(x["compact_s"] for x in maint)
    m["expire.s"] = _med(x["expire_s"] for x in maint)
    m["retention.rewritten_partitions"] = _med(x["rewritten_partitions"] for x in maint)
    m["retention.rows_dropped"] = _med(x["rows_dropped"] for x in maint)
    m["compact.dirs_before"] = _med(x["compact_dirs_before"] for x in maint)
    m["expire.removed_dirs"] = _med(x["removed_dirs"] for x in maint)

    stages, jobs = eventlog.read(log_dir)
    loop_groups = {tracer.group_id(i) for i in loop}
    tot = eventlog.totals(stages, jobs, loop_groups)
    for src, dst in (("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"),
                     ("shuffle_read_bytes", "shuffle_read_bytes"),
                     ("shuffle_write_bytes", "shuffle_write_bytes"),
                     ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s"),
                     ("jobs", "jobs"), ("tasks", "tasks")):
        m[f"spark.{dst}"] = tot[src] / n_ops
    m["spark.task_skew"] = tot["task_skew"]
    rows_returned = sum(x["rows"] for x in log)
    if rows_returned:
        m["query.rows_scanned_per_row_returned"] = tot["records_read"] / rows_returned

    host = [d for ds in harness.host.values() for d in ds]
    m["host.steal_s"] = sum(d["steal_s"] for d in host) / n_ops
    m["host.busy_cpu_s"] = sum(d["busy_cpu_s"] for d in host) / n_ops
    m["spark.python_worker_cpu_s"] = sum(d["worker_cpu_s"] for d in host) / n_ops

    m["trace.overhead_s"] = traced_op_p50 - untraced_op_p50
    m["trace.overhead_pct"] = 100.0 * m["trace.overhead_s"] / untraced_op_p50
    m["trace.attributed_share"] = 1.0 - op_self / op_total if op_total else 0.0

    # Spark task metrics per span name, over the measured loop
    spark_by_span = {}
    for name in sorted({spans[i]["name"] for i in loop}):
        ids = {tracer.group_id(i) for i in loop if spans[i]["name"] == name}
        t = eventlog.totals(stages, jobs, ids)
        if t["jobs"]:
            spark_by_span[name] = {k: round(v, 4) for k, v in t.items()}
    detail = {
        "ops": n_ops,
        "op_wall_s": op_total,
        # the top-level operation spans' share of the traced loop; the rest
        # is the benchmark's own checks and counter snapshots between them
        "op_spans_over_traced_loop": op_total / traced_loop_s,
        "self_s_per_op": per_op,
        "spark_by_span": spark_by_span,
    }
    names = dict(PER_LAYER)
    detail.update({k: v for k, v in probes.items() if k not in names})
    return {k: m[k] for k in names}, detail
