"""The build path (SURVEY.md §3.1): raw tokens -> detect -> 1m, 1h and
1d tiers in one fused pass and one Spark write, with per-partition lineage
commits and kill-safe resume.

Run (sandbox):
    python jobs/rollup.py --tokens /tmp/tokens --warehouse /tmp/wh --epoch 1
Run (cluster):
    spark-submit --py-files engine.zip jobs/rollup.py --tokens <iceberg-or-path> ...

Resume: re-running the same command after a kill skips every partition with
a lineage row for (tier, epoch) and recomputes only the rest, from the raw
tokens — see the state machine in engine/lineage.py. A re-run under other
build parameters (w, k, policy, compress) than the epoch's lineage records
raises instead. `--stop-after-tier` exists purely to let the
fault-injection test simulate a mid-job kill.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from engine.fused import fused_rollup
from engine.io import TIER_COL, ParquetManifestFormat, scan_tokens, synth_tokens
from engine.lineage import (
    lineage_record,
    pending_partitions,
    recorded_params,
    written_partition_stats,
)
from engine.rollup import cascade
from engine.schema import (
    DEFAULT_K,
    DEFAULT_N_BUCKETS,
    DEFAULT_WINDOW,
    TIER_ORDER,
)
from engine.session import get_spark
from engine.skew import in_sql, sql_str, with_part_hash
from engine.util import planned_input_bytes as _planned_input_bytes
from engine.util import planned_partitions as _planned_partitions


def run_rollup(
    spark,
    tokens_df,
    warehouse: str,
    epoch: int,
    w: int = DEFAULT_WINDOW,
    k: float = DEFAULT_K,
    policy: str = "ffill",
    n_buckets: int = DEFAULT_N_BUCKETS,
    tiers: list[str] | None = None,
    stop_after_tier: str | None = None,
    input_snapshot_id: int = 0,
    compress: bool = True,
    merge_docs: bool = False,
) -> dict:
    """Run (or resume) the rollup tiers of one checkpoint epoch.

    Every tier comes from one narrow mapInArrow pass over the raw doc rows
    — gap-fill, stats, detect, the 1m, 1h and 1d bucket aggregates and the
    1m compression in a single Arrow kernel, exact for every int32 input;
    NO shuffle or sort of raw points (engine/fused.py). The only exchange
    is the (tier, part_hash) rebalance of the ~60x smaller rollup output
    for the ONE write that lands every tier (engine/io.py
    overwrite_partitions); the tiers then commit one by one in tier order,
    each a manifest swap followed by its lineage rows. The pass runs in at
    most one Python task per _FUSED_TASK_BYTES of file input, and Spark
    cuts its Arrow input batches at _ARROW_BATCH_BYTES (see _build_tiers):
    both sizes come from what Spark already knows, with no job and no
    footer read.

    Resume computes each tier's pending partitions, runs the kernel over
    the tokens of their union, and writes each tier's pending partitions
    only; outside merge mode nothing reads a tier back. ``stop_after_tier``
    stops after that tier's lineage commit. Lineage records the build
    parameters, and a requested tier whose lineage for *epoch* records
    other ones raises ValueError before anything is written.

    ``merge_docs=True`` gives ACCUMULATE semantics for incremental ingest
    (streaming micro-batches): rows already in a touched partition are
    carried over (copy-on-write merge, the Iceberg MERGE shape) instead of
    being evicted by the partition overwrite, except rows for doc_ids
    re-ingested by this batch — which makes a dirty-crash replay idempotent.
    The coarse tiers carry the cascade (engine/rollup.py) of the current 1m
    view minus the batch's docs, in the same write. Assumes doc-level
    ingest granularity (a doc arrives whole in one batch). Default False =
    REPLACE semantics (recompute of a static input).

    Returns per-tier metrics {tier: {partitions, out_rows, seconds, ...}}
    (L3); the 1m tier's ``py_tasks`` is the planned Python task count of
    the fused stage (None when it is not known without running a job).
    """
    fmt = ParquetManifestFormat(spark, warehouse)
    tiers = tiers or TIER_ORDER
    metrics: dict = {}

    # This job retunes session confs for wide-array rows; snapshot them so a
    # shared session (bench queries, streaming operators, point-stream
    # UDFs) gets its own settings back afterwards (ADVICE r02).
    _tuned = [
        "spark.sql.parquet.columnarReaderBatchSize",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxBytesPerBatch",
    ]
    _saved = {c: spark.conf.get(c, None) for c in _tuned}

    # Token rows are WIDE (one row = a whole series array). The vectorized
    # parquet reader sizes batches in ROWS (default 4096 = ~134 MB of column
    # vectors at 8192-token docs), so 32 concurrent tasks OOM a sane heap.
    # 128 rows ~ 4 MB per batch at 8192 tokens, 44 MB at the 86400 design
    # max — bounded regardless of parallelism.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "128")

    try:
        _run_tiers(
            spark, fmt, tokens_df, warehouse, epoch, w, k, policy, n_buckets,
            tiers, stop_after_tier, input_snapshot_id, compress, merge_docs,
            metrics,
        )
    finally:
        for c, v in _saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    return {t: metrics[t] for t in TIER_ORDER if t in metrics}


# Arrow input bytes per batch of the fused kernel: cache blocking. One
# batch of int32 tokens becomes ~2x its bytes of float64 series, and the
# flat kernel makes ~15 vectorized passes over it, so a batch that fits
# L2/L3 keeps those passes out of DRAM and the job's memory traffic
# collapses to ~2 passes (scan + emit). On hosts where memory bandwidth,
# not CPU, is the ceiling (any host, at enough cores), this is what lets
# the narrow plan keep scaling with cores (BENCH/BASELINE.md). Spark cuts
# each batch after the row that reaches this size, so a batch follows its
# own docs' lengths: 32 rows of 8192-token docs, 3 of 86400-token docs.
_ARROW_BATCH_BYTES = 1 << 20


# Input file bytes per Python task of the fused stage. Every Python
# task pays ~0.2 worker CPU-s of set-up on PySpark 4.1 whatever its body
# (worker_util.setup_spark_files calls importlib.invalidate_caches(), which
# re-reads the pyspark.zip directory once per zipimporter) — about what the
# kernel itself spends on ~2 MB of token parquet, so a 4 MB task spends
# about two thirds of its CPU in the kernel. Spark's split math alone aims
# at one split per core and charges each file a 4 MB open cost, so without
# this cap a 1 MB, 8-file input runs one Python task per core.
_FUSED_TASK_BYTES = 4 << 20


def _build_tiers(spark, toks, tiers, w, k, policy, compress):
    """The fused frame of *tiers*' rows (docstring of run_rollup) and the
    planned Python task count of its stage (None when it is not known
    without running a job)."""
    spark.conf.set(
        "spark.sql.execution.arrow.maxBytesPerBatch", str(_ARROW_BATCH_BYTES)
    )
    # With no exchange, the fused stage runs one Python task per scan
    # split. Spark's split size is min(maxPartitionBytes, max(4 MB,
    # bytes per core)), where every file also counts a 4 MB open cost,
    # so the per-core term alone gives a small input about one split
    # per core. 16 MB (not the default 128 MB) bounds the splits of a
    # large input, so its Python tasks stay small and balance across
    # cores.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    # Below _FUSED_TASK_BYTES per split, per-task set-up outweighs the
    # kernel: a narrow coalesce merges the splits into one task per
    # _FUSED_TASK_BYTES of input (still no exchange — raw points are
    # never shuffled). An input with more bytes per split plans
    # exactly as before, and so does one that reads no files.
    input_bytes = _planned_input_bytes(toks)
    splits = _planned_partitions(toks) if input_bytes is not None else None
    if splits is None:
        return fused_rollup(toks, tiers, w, k, policy, compress), None
    max_tasks = max(1, -(-input_bytes // _FUSED_TASK_BYTES))
    if max_tasks < splits:
        toks = toks.coalesce(max_tasks)
    return (fused_rollup(toks, tiers, w, k, policy, compress),
            min(max_tasks, splits))


def _params(w, k, policy, compress) -> str:
    """The build parameters as lineage records them."""
    return json.dumps({"w": int(w), "k": float(k), "policy": policy,
                       "compress": bool(compress)}, sort_keys=True)


def _check_params(warehouse, epoch, tiers, params) -> None:
    """Refuse to build *tiers* of *epoch* under *params* when their lineage
    records other parameters: a skip would serve the old build as if it
    were this one, and a resume would mix the two in one epoch."""
    recorded = recorded_params(warehouse, epoch)
    for tier in tiers:
        other = sorted(recorded.get(tier, set()) - {params})
        if other:
            raise ValueError(
                f"tier {tier} epoch {epoch} was built with {', '.join(other)}; "
                f"this run asks for {params}. Use a new epoch or warehouse."
            )


def _carried(fmt, tokens_df, pending, n_buckets):
    """Merge mode: the current rows of docs NOT in this batch that the
    write must keep, tagged by tier. 1m keeps its touched partitions
    minus the batch's docs (the copy-on-write merge); a coarse tier gets
    the cascade of the current 1m view minus the batch's docs over its
    pending partitions, so it is rewritten whole into one dir."""
    batch_docs = tokens_df.select("doc_id").distinct()
    rest_1m = fmt.read("rollup_1m").join(batch_docs, "doc_id", "left_anti")
    out = []
    for tier in pending:
        if tier == "1m":
            # touched set from the (cheap, column-pruned) token batch —
            # never by executing the kernel twice
            touched = [
                int(r["part_hash"])
                for r in with_part_hash(tokens_df, n_buckets)
                .select("part_hash").distinct().collect()
            ]
            rows = rest_1m.where(in_sql("part_hash", touched))
        else:
            fine = rest_1m
            if len(pending[tier]) < n_buckets:
                fine = fine.where(in_sql("part_hash", pending[tier]))
            rows = with_part_hash(
                cascade(fine.drop("part_hash", "ts_dod", "v_gorilla"), "1m", tier)
                .withColumn("ts_dod", F.lit(None).cast("binary"))
                .withColumn("v_gorilla", F.lit(None).cast("binary")),
                n_buckets,
            )
        out.append(rows.withColumn(TIER_COL, F.lit(tier)))
    return out


def _run_tiers(
    spark, fmt, tokens_df, warehouse, epoch, w, k, policy, n_buckets,
    tiers, stop_after_tier, input_snapshot_id, compress, merge_docs, metrics,
) -> None:
    t_start = time.monotonic()
    unknown = sorted(set(tiers) - set(TIER_ORDER))
    if unknown:
        raise ValueError(f"unknown tiers {unknown}; one of {TIER_ORDER}")
    params = _params(w, k, policy, compress)
    _check_params(warehouse, epoch, tiers, params)
    pending: dict[str, list[int]] = {}
    for tier in TIER_ORDER:
        if tier not in tiers:
            continue
        p = pending_partitions(warehouse, tier, epoch, n_buckets)
        if p:
            pending[tier] = [int(x) for x in p]
        else:
            metrics[tier] = {"partitions": 0, "out_rows": 0, "seconds": 0.0, "skipped": True}
    if not pending:
        return
    # Resume filter applied BEFORE the heavy work: part_hash is a pure
    # function of doc_id, so pruning the token table to the union of the
    # pending sets skips every doc no pending partition holds (on Iceberg
    # with bucket(N, doc_id) this is partition pruning).
    union = sorted(set().union(*pending.values()))
    toks = with_part_hash(tokens_df, n_buckets)
    if len(union) < n_buckets:
        toks = toks.where(in_sql("part_hash", union))
    df, py_tasks = _build_tiers(
        spark, toks.drop("part_hash"), list(pending), w, k, policy, compress,
    )
    df = with_part_hash(df, n_buckets)
    if merge_docs and fmt.current_snapshot("rollup_1m") > 0:
        for rows in _carried(fmt, tokens_df, pending, n_buckets):
            df = df.unionByName(rows)
    # each tier writes only its own pending partitions
    if any(len(p) < n_buckets for p in pending.values()):
        df = df.where(" OR ".join(
            f"({TIER_COL} = {sql_str(tier)} AND {in_sql('part_hash', p)})"
            for tier, p in pending.items()
        ))

    t_last = t_start
    t_written = None

    def commit(table: str, out_snapshot: int) -> bool:
        """(A) has just committed *table*; (L3) + (B) for its tier."""
        nonlocal t_last, t_written
        tier = table[len("rollup_"):]
        # the shared write's seconds, counted once: under the first tier
        write_s = 0.0
        if t_written is None:
            t_written = time.monotonic()
            write_s = t_written - t_write
        # (L3) per-partition counts from a pruned direct read of the snap
        # dir this commit wrote (written_partition_stats). Partitions
        # attempted but empty (no doc hashes into them at this input size)
        # are COMPLETE, not pending — record them with 0 rows or resume
        # would recompute them forever.
        t_stats = time.monotonic()
        pend = set(pending[tier])
        stats = [
            s for s in written_partition_stats(spark, fmt, table, out_snapshot)
            if s["part_hash"] in pend
        ]
        seen = {s["part_hash"] for s in stats}
        stats += [{"part_hash": p, "out_rows": 0, "in_rows": 0}
                  for p in pending[tier] if p not in seen]
        stats_s = time.monotonic() - t_stats
        # (B) lineage commit — readers now see these partitions
        t_commit = time.monotonic()
        lineage_record(
            warehouse, tier, stats, input_snapshot_id, epoch,
            output_snapshot_id=out_snapshot, pipeline="fused", params=params,
        )
        now = time.monotonic()
        commit_s = now - t_commit
        total_s = now - t_last
        t_last = now
        metrics[tier] = {
            "partitions": len(stats),
            "out_rows": int(sum(s["out_rows"] for s in stats)),
            "seconds": round(total_s, 3),
            "skipped": False,
            "pipeline": "fused",
            # Amdahl accounting for the scaling bench: 'write_s' is the
            # parallel compute+write action (the only phase whose wall
            # should shrink with cores/executors), shared by every tier
            # and counted under the first one; 'fixed_s' is everything
            # latency-bound — pending-partition reads, the per-tier stats
            # pass and the serial manifest/lineage commits — a per-tier
            # cost that is constant in input size and cores.
            "write_s": round(write_s, 3),
            "fixed_s": round(total_s - write_s, 3),
            "stats_s": round(stats_s, 3),
            "commit_s": round(commit_s, 3),
        }
        if tier == "1m":
            metrics[tier]["py_tasks"] = py_tasks
        return tier == stop_after_tier

    # (A) one staged write of every pending tier, then per tier in order:
    # manifest swap (inside), stats and lineage (commit above). The
    # snapshot id goes into lineage so epoch-E readers can time-travel to
    # exactly this commit after later epochs overwrite the partitions.
    t_write = time.monotonic()
    fmt.overwrite_partitions(df, {t: f"rollup_{t}" for t in pending}, on_commit=commit)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tokens", help="path to token parquet (or use --synth-docs)")
    ap.add_argument("--synth-docs", type=int, help="generate N synthetic docs instead")
    ap.add_argument("--synth-len", type=int, default=None)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--epoch", type=int, default=1)
    ap.add_argument("--w", type=int, default=DEFAULT_WINDOW)
    ap.add_argument("--k", type=float, default=DEFAULT_K)
    ap.add_argument("--policy", default="ffill")
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    ap.add_argument("--tiers", default=",".join(TIER_ORDER))
    ap.add_argument("--stop-after-tier", default=None)
    ap.add_argument("--no-compress", action="store_true",
                    help="skip C1/C2 payloads on the 1m tier")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="rollup-job", master=args.master)
    if args.synth_docs:
        tokens = synth_tokens(spark, args.synth_docs, n_tok=args.synth_len)
    elif args.tokens:
        tokens = scan_tokens(spark, args.tokens)
    else:
        ap.error("one of --tokens / --synth-docs is required")
    metrics = run_rollup(
        spark,
        tokens,
        args.warehouse,
        args.epoch,
        w=args.w,
        k=args.k,
        policy=args.policy,
        n_buckets=args.n_buckets,
        tiers=args.tiers.split(","),
        stop_after_tier=args.stop_after_tier,
        compress=not args.no_compress,
    )
    for tier, m in metrics.items():
        print(f"tier={tier} {m}")


if __name__ == "__main__":
    main()
