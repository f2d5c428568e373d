"""The build path (SURVEY.md §3.1): raw tokens -> detect -> 1m -> 1h -> 1d,
with per-partition lineage commits and kill-safe resume.

Run (sandbox):
    python jobs/rollup.py --tokens /tmp/tokens --warehouse /tmp/wh --epoch 1
Run (cluster):
    spark-submit --py-files engine.zip jobs/rollup.py --tokens <iceberg-or-path> ...

Resume: re-running the same command after a kill skips every partition with
a lineage row for (tier, epoch) and recomputes only the rest — see the state
machine in engine/lineage.py. `--stop-after-tier` exists purely to let the
fault-injection test simulate a mid-job kill.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, scan_tokens, synth_tokens
from engine.lineage import lineage_record, pending_partitions
from engine.rollup import cascade, rollup_from_points
from engine.schema import (
    DEFAULT_K,
    DEFAULT_N_BUCKETS,
    DEFAULT_WINDOW,
    ROLLUP_SCHEMA,
    TIER_ORDER,
)
from pyspark.sql import types as T

# Read schema for tier tables incl. the part_hash partition column (int, as
# partition-value inference types it) — passed to fmt.read so the cascade
# scans skip parquet footer schema inference.
_ROLLUP_READ = T.StructType(
    ROLLUP_SCHEMA.fields + [T.StructField("part_hash", T.IntegerType(), True)]
)
from engine.series import explode_series, gap_fill
from engine.session import get_spark
from engine.skew import with_part_hash
from engine.stats import detect


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
    stats_mode: str = "long",
    merge_docs: bool = False,
    pipeline: str = "fused",
    arrow_batch_rows: int | None = None,
    arrow_batch_bytes: int = 2 << 20,
) -> dict:
    """Run (or resume) the full cascade for one checkpoint epoch.

    ``pipeline`` picks the 1m-tier physical strategy (identical results,
    pinned by tests/test_fused.py):
      - 'fused' (default, the scale path): one narrow mapInArrow pass over
        the raw doc rows — gap-fill, stats, detect, bucket aggregates and
        compression in a single Arrow kernel; NO shuffle or sort of raw
        points (engine/fused.py). The only exchange is the part_hash
        rebalance of the ~60x smaller rollup output for the write. The
        pass runs in at most one Python task per _FUSED_TASK_BYTES of
        parquet input (see _build_1m).
      - 'exploded': posexplode -> doc_id-windowed Catalyst stats -> groupBy
        (engine/series.py + stats.py + rollup.py) — the semantic reference,
        and the path for int32-extreme domains via stats_mode='decimal'
        (the fused kernel fails loudly outside its exact-int64 domain).

    The fused path's Arrow batches are counted in DOC rows (a row is a
    whole series). ``arrow_batch_rows=None`` (default) derives the row
    count from BYTES (``arrow_batch_bytes``, default 2 MB): cache
    blocking — the flat kernel makes ~15 vectorized passes over each
    batch, so a batch that fits L2/L3 keeps those passes out of DRAM and
    the job's memory traffic collapses to ~2 passes (scan + emit). On
    hosts where memory bandwidth, not CPU, is the ceiling (any host, at
    enough cores), this is what lets the narrow plan keep scaling with
    cores (see BENCH/BASELINE.md). The row count derives from max(n_tok)
    in the parquet footers — no data scan.

    ``merge_docs=True`` gives ACCUMULATE semantics for incremental ingest
    (streaming micro-batches): rows already in a touched partition are
    carried over (copy-on-write merge, the Iceberg MERGE shape) instead of
    being evicted by the partition overwrite, except rows for doc_ids
    re-ingested by this batch — which makes a dirty-crash replay idempotent.
    Assumes doc-level ingest granularity (a doc arrives whole in one batch).
    Default False = REPLACE semantics (recompute of a static input).

    Returns per-tier metrics {tier: {partitions, out_rows, seconds, ...}}
    (L3); the 1m tier's ``py_tasks`` is the planned Python task count of
    the fused stage (None when it is not known without running a job).
    """
    fmt = ParquetManifestFormat(spark, warehouse)
    tiers = tiers or TIER_ORDER
    metrics: dict = {}

    # This job retunes session confs for wide-array rows; snapshot them so a
    # shared session (bench queries, streaming operators, later exploded
    # runs) gets its own settings back afterwards (ADVICE r02).
    _tuned = [
        "spark.sql.parquet.columnarReaderBatchSize",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    ]
    _saved = {c: spark.conf.get(c, None) for c in _tuned}

    # Token rows are WIDE (one row = a whole series array). The vectorized
    # parquet reader sizes batches in ROWS (default 4096 = ~134 MB of column
    # vectors at 8192-token docs), so 32 concurrent tasks OOM a sane heap.
    # 128 rows ~ 4 MB per batch at 8192 tokens, 44 MB at the 86400 design
    # max — bounded regardless of parallelism.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "128")

    input_bytes = None
    if pipeline == "fused":
        max_n_tok, input_bytes = _footer_pass(tokens_df)
        if arrow_batch_rows is None:
            arrow_batch_rows = _cache_blocked_rows(
                spark, tokens_df, arrow_batch_bytes, max_n_tok
            )

    try:
        _run_tiers(
            spark, fmt, tokens_df, warehouse, epoch, w, k, policy, n_buckets,
            tiers, stop_after_tier, input_snapshot_id, compress, stats_mode,
            merge_docs, pipeline, arrow_batch_rows, input_bytes, metrics,
        )
    finally:
        for c, v in _saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    return metrics


def _cache_blocked_rows(spark, tokens_df, batch_bytes: int,
                        footer_max: int | None) -> int:
    """Doc rows per Arrow batch so one batch's float64 series stay cache-
    resident for the flat kernel's passes: batch_bytes / (8 * max n_tok).

    max(n_tok) is *footer_max* when the footer pass found it (a pure
    metadata pass, ~ms for 64 files), else it comes from a Spark aggregate
    with parquet aggregate pushdown (still footer-only, but the job costs
    ~0.2 s of scheduling). Falls back to the 4096 synth bulk length if the
    column is missing or the aggregate errors. Batch sizing only — the
    fused kernel's output is batch-size-invariant (tests/test_fused.py)."""
    max_tok = 4096
    if footer_max is not None:
        max_tok = footer_max
    elif "n_tok" in tokens_df.columns:
        saved = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
        try:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
            row = tokens_df.agg(F.max("n_tok")).collect()[0]
            if row[0] is not None:
                max_tok = int(row[0])
        except Exception:
            pass
        finally:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", saved)
    return int(min(8192, max(16, batch_bytes // (8 * max(max_tok, 1)))))


def _footer_pass(tokens_df) -> tuple[int | None, int | None]:
    """``(max n_tok, input bytes)`` of a parquet fileset, read on the driver
    from file sizes and row-group statistics — no Spark job.

    Both are None unless every input file is a local ``.parquet`` file (a
    plain path or a ``file:`` URI): other filesystems are never opened from
    the driver. max n_tok alone is None when the column is missing or a row
    group lacks its min/max statistics (the caller then runs the pushdown
    aggregate). The stats max is exact for int64 columns, and the
    unfiltered file-level max is the same bound the caller's unfiltered
    aggregate would compute."""
    try:
        files = tokens_df.inputFiles()
    except Exception:
        return None, None
    paths = []
    for f in files:
        if f.startswith("file:"):
            f = "/" + f[5:].lstrip("/")  # file:///p, file:/p -> /p
        elif not f.startswith("/"):
            return None, None  # hdfs://, s3a://, ...
        if not f.split("?", 1)[0].endswith(".parquet"):
            return None, None
        paths.append(f)
    if not paths:
        return None, None
    import pyarrow.parquet as pq

    try:
        input_bytes = sum(os.path.getsize(p) for p in paths)
    except OSError:
        return None, None
    if "n_tok" not in tokens_df.columns:
        return None, input_bytes
    mx = 0
    try:
        for p in paths:
            md = pq.ParquetFile(p).metadata
            # statistics are per LEAF column: a nested column before n_tok
            # has several leaves, so the Arrow field index would be wrong
            leaf = next(
                (j for j in range(md.num_columns)
                 if md.schema.column(j).path == "n_tok"),
                None,
            )
            if leaf is None:
                return None, input_bytes
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(leaf).statistics
                if st is None or not st.has_min_max:
                    return None, input_bytes
                mx = max(mx, int(st.max))
    except Exception:
        return None, input_bytes
    return (mx if mx > 0 else None), input_bytes


# Parquet input bytes per Python task of the fused 1m stage. Every Python
# task pays ~0.2 worker CPU-s of set-up on PySpark 4.1 whatever its body
# (worker_util.setup_spark_files calls importlib.invalidate_caches(), which
# re-reads the pyspark.zip directory once per zipimporter) — about what the
# kernel itself spends on ~2 MB of token parquet, so a 4 MB task spends
# about two thirds of its CPU in the kernel. Spark's split math alone aims
# at one split per core and charges each file a 4 MB open cost, so without
# this cap a 1 MB, 8-file input runs one Python task per core.
_FUSED_TASK_BYTES = 4 << 20


def _build_1m(spark, toks, w, k, policy, compress, stats_mode, pipeline,
              arrow_batch_rows, input_bytes):
    """The 1m-tier physical strategy (docstring of run_rollup) and the
    planned Python task count of the fused stage (None on the exploded
    path, or when it is not known without running a job). Factored out so
    the fused-guard auto-fallback can rebuild the plan with
    pipeline='exploded', stats_mode='decimal'."""
    if pipeline == "fused":
        # scale path: narrow Arrow pass, zero raw-point shuffle
        # (engine/fused.py). Batch sizing is in DOC rows here.
        from engine.fused import fused_rollup_1m

        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(int(arrow_batch_rows)),
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
        # exactly as before.
        splits = _planned_partitions(toks) if input_bytes is not None else None
        if splits is None:
            return fused_rollup_1m(toks, w, k, policy, compress), None
        max_tasks = max(1, -(-input_bytes // _FUSED_TASK_BYTES))
        if max_tasks < splits:
            toks = toks.coalesce(max_tasks)
        return (fused_rollup_1m(toks, w, k, policy, compress),
                min(max_tasks, splits))
    if pipeline == "exploded":
        # One doc_id-keyed shuffle serves explode -> gap-fill ->
        # stats -> rollup (window key == groupBy prefix, §3.1).
        points = gap_fill(explode_series(toks), policy)
        flagged = detect(points, w, k, stats_mode)
        if compress:
            # fused A1+C1+C2: one Python pass computes aggregates AND
            # payloads — avoids executing the window pipeline twice
            # (engine/compression.py::rollup_1m_with_payloads)
            from engine.compression import rollup_1m_with_payloads

            return rollup_1m_with_payloads(flagged, "1m"), None
        return rollup_from_points(flagged, "1m").withColumn(
            "ts_dod", F.lit(None).cast("binary")
        ).withColumn("v_gorilla", F.lit(None).cast("binary")), None
    raise ValueError(f"pipeline must be 'fused' or 'exploded', got {pipeline!r}")


def _planned_partitions(df) -> int | None:
    """Partition count of *df*'s physical plan, without running a job (the
    file scan's splits, for a scan). None when the plan is adaptive: its
    count is known only after its shuffle stages have run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return None
    return int(plan.execute().getNumPartitions())


# Commits at or below this many rows have their L3 stats computed driver-
# side with pyarrow (out_rows straight from footer num_rows, in_rows = sum
# of the one ``cnt`` column) instead of a Spark job — the job itself costs
# ~0.25 s of scheduling/listing regardless of data size, which dominates
# when the commit is small (every cascade tier at bench scale). The row
# count comes from parquet FOOTERS (a metadata read, the same thing Spark
# planning does), so routing costs no data I/O; below the cutover the
# driver materializes only the int64 cnt column (4 M rows = 32 MB, bounded
# regardless of how wide the tier schema is). The cutover is data-sized,
# not core-count-sized (the broadcast-threshold shape): a 100 TB tier
# commit exceeds any sane threshold and takes the distributed job.
_STATS_DRIVER_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_STATS_DRIVER_MAX_ROWS", str(4_000_000))
)


def _written_stats(spark, fmt, table: str, out_snapshot: int) -> list[dict]:
    """Round 7 (guide §1/§6): the L3 stats job scans the snap dir this
    commit just wrote — directly, with an explicit 2-column schema — instead
    of ``fmt.read`` of the whole current view. That drops (a) the manifest
    union/basePath planning, (b) parquet schema inference (footer reads for
    all 12 columns), and (c) the scan of partitions untouched by this
    commit; the job reads only the ``cnt`` column of the new files. An
    Observation on the write itself was measured SLOWER (~0.9 s fixed
    per-query planning/codegen for 2x64 conditional aggregates vs ~0.2 s
    for this pruned job), so the separate-job shape stays.

    When the whole commit is small (<= _STATS_DRIVER_MAX_ROWS rows, counted
    from parquet footers) the same two numbers come from a driver-side
    pyarrow pass over the snap dir's files instead — exactly the files the
    distributed job would scan, so the two paths are interchangeable
    (pinned by
    tests/test_resume.py::test_written_stats_driver_matches_spark_job).
    The driver pass is only a shortcut: if it raises (an unexpected
    ``part_hash=`` dir name, an unreadable footer) the Spark job runs.

    Every partition written by this commit lives under the new snap dir
    (overwrite_partitions replaces whole partitions), so the re-read is
    exactly the committed data for the pending set."""
    import pyarrow as pa

    data_dir = os.path.join(fmt.warehouse, table, f"snap-{out_snapshot}")
    try:
        stats = _written_stats_driver(data_dir)
    except (OSError, ValueError, pa.ArrowException):
        stats = None
    if stats is not None:
        return stats
    df = (
        spark.read.schema("cnt long, part_hash long")
        .option("basePath", data_dir)
        .parquet(data_dir)
    )
    from engine.lineage import partition_stats_from_rollup

    return partition_stats_from_rollup(df)


def _written_stats_driver(data_dir: str) -> list[dict] | None:
    """_written_stats' driver-side pass; None above the row cutover."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    files_by_part: dict[int, list[str]] = {}
    for name in os.listdir(data_dir):
        if not name.startswith("part_hash="):
            continue
        pdir = os.path.join(data_dir, name)
        fs = [os.path.join(pdir, f) for f in os.listdir(pdir)
              if f.endswith(".parquet")]
        if fs:  # the Spark job sees no rows, so no stats row, for an empty dir
            files_by_part[int(name.split("=", 1)[1])] = fs
    all_paths = [p for fs in files_by_part.values() for p in fs]
    # footer opens and (below the cutover) the one-column reads both release
    # the GIL in pyarrow — a small thread pool turns 64 sequential ~1-2 ms
    # opens into a few ms total
    with ThreadPoolExecutor(min(16, max(1, len(all_paths)))) as ex:
        handles = dict(zip(all_paths, ex.map(pq.ParquetFile, all_paths)))
        total_rows = sum(h.metadata.num_rows for h in handles.values())
        if total_rows > _STATS_DRIVER_MAX_ROWS:
            return None
        import pyarrow.compute as pc

        def _one(item: tuple[int, list[str]]) -> dict:
            p, fs = item
            out_rows = 0
            in_rows = 0
            for path in fs:
                t = handles[path].read(columns=["cnt"])
                out_rows += handles[path].metadata.num_rows
                in_rows += int(pc.sum(t["cnt"]).as_py() or 0)
            return {"part_hash": p, "out_rows": out_rows, "in_rows": in_rows}

        return list(ex.map(_one, files_by_part.items()))


def _pending_only(stats: list[dict], pending_set: list[int]) -> list[dict]:
    """Merge mode can write carried rows for touched-but-already-committed
    partitions into the new snap dir; lineage rows are appended only for
    PENDING partitions, exactly like the r6 ``isin(pending_set)`` re-read."""
    pend = set(pending_set)
    return [s for s in stats if s["part_hash"] in pend]


def _run_tiers(
    spark, fmt, tokens_df, warehouse, epoch, w, k, policy, n_buckets,
    tiers, stop_after_tier, input_snapshot_id, compress, stats_mode,
    merge_docs, pipeline, arrow_batch_rows, input_bytes, metrics,
) -> None:
    for tier in tiers:
        t_start = time.monotonic()
        pending = pending_partitions(warehouse, tier, epoch, n_buckets)
        if not pending:
            metrics[tier] = {"partitions": 0, "out_rows": 0, "seconds": 0.0, "skipped": True}
            continue
        pending_set = [int(p) for p in pending]
        if tier == "1m":
            # Resume filter applied BEFORE the heavy work: part_hash is a
            # pure function of doc_id, so pruning the token table up front
            # skips explode/gap-fill/stats for committed partitions entirely
            # (on Iceberg with bucket(N, doc_id) this is partition pruning).
            toks = with_part_hash(tokens_df, n_buckets)
            if len(pending_set) < n_buckets:
                toks = toks.where(F.col("part_hash").isin(pending_set))
            toks_pruned = toks.drop("part_hash")

            def _mk_1m(p, sm):
                df, py_tasks = _build_1m(spark, toks_pruned, w, k, policy,
                                         compress, sm, p, arrow_batch_rows,
                                         input_bytes)
                df = with_part_hash(df, n_buckets)
                if merge_docs and fmt.current_snapshot("rollup_1m") > 0:
                    # touched set from the (cheap, column-pruned) token batch
                    # — never by executing the heavy stats pipeline twice
                    touched = [
                        int(r["part_hash"])
                        for r in with_part_hash(tokens_df, n_buckets)
                        .select("part_hash").distinct().collect()
                    ]
                    batch_docs = tokens_df.select("doc_id").distinct()
                    carried = (
                        fmt.read("rollup_1m")
                        .where(F.col("part_hash").isin(touched))
                        .join(batch_docs, "doc_id", "left_anti")
                    )
                    df = df.unionByName(carried)
                return df, py_tasks

            tier_df, py_tasks = _mk_1m(pipeline, stats_mode)
            used_pipeline = pipeline
            snapshot_for_lineage = input_snapshot_id
        else:
            finer = TIER_ORDER[TIER_ORDER.index(tier) - 1]
            fine_snapshot = fmt.current_snapshot(f"rollup_{finer}")
            # part_hash partition pruning on the fine-tier scan (only when
            # some partitions are already committed: the IN list of every
            # bucket prunes nothing and costs a literal per bucket); pinned
            # read schema skips footer inference (round 7, engine/io.py)
            fine_df = fmt.read(f"rollup_{finer}", schema=_ROLLUP_READ)
            if len(pending_set) < n_buckets:
                fine_df = fine_df.where(F.col("part_hash").isin(pending_set))
            coarse = cascade(
                fine_df.drop("part_hash", "ts_dod", "v_gorilla"), finer, tier
            ).withColumn("ts_dod", F.lit(None).cast("binary")).withColumn(
                "v_gorilla", F.lit(None).cast("binary")
            )
            tier_df = with_part_hash(coarse, n_buckets)
            used_pipeline = "cascade"
            snapshot_for_lineage = fine_snapshot

        # (A) data commit — atomic manifest swap inside; the returned
        # snapshot id goes into lineage so epoch-E readers can time-travel
        # to exactly this commit after later epochs overwrite the partitions
        t_write = time.monotonic()
        try:
            out_snapshot = fmt.overwrite_partitions(
                tier_df, f"rollup_{tier}", rebalance=True
            )
        except Exception as e:
            # The fused kernel FAILS LOUDLY outside its exact-int64 domain
            # (engine/fused.py::_check_guard) — surfacing here, at the first
            # action. An unattended 100 TB job should DEGRADE, not die, on
            # one int32-extreme source: rebuild this tier on the exploded
            # pipeline with the decimal stats carrier (bit-exact semantics,
            # engine/stats.py) and retry once. The lineage row records the
            # degraded strategy so operators can see it.
            if not (tier == "1m" and pipeline == "fused"
                    and "exact int64 domain exceeded" in str(e)):
                raise
            print(
                "rollup: fused guard tripped "
                "-> falling back to exploded/decimal for tier 1m "
                f"(epoch {epoch}): {str(e).splitlines()[0][:200]}",
                file=sys.stderr,
            )
            # point-stream batches again, not doc-row batches
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "100000"
            )
            used_pipeline = "exploded-decimal-fallback"
            tier_df, py_tasks = _mk_1m("exploded", "decimal")
            out_snapshot = fmt.overwrite_partitions(
                tier_df, f"rollup_{tier}", rebalance=True
            )
        write_s = time.monotonic() - t_write
        # (L3) per-partition counts from a pruned direct read of the snap
        # dir this commit wrote (see _written_stats — round 7).
        t_stats = time.monotonic()
        stats = _pending_only(
            _written_stats(spark, fmt, f"rollup_{tier}", out_snapshot),
            pending_set,
        )
        # Partitions attempted but empty (no doc hashes into them at this
        # input size) are COMPLETE, not pending — record them with 0 rows or
        # resume would recompute them forever.
        seen = {s["part_hash"] for s in stats}
        stats += [
            {"part_hash": p, "out_rows": 0, "in_rows": 0}
            for p in pending_set
            if p not in seen
        ]
        stats_s = time.monotonic() - t_stats
        # (B) lineage commit — readers now see these partitions
        t_commit = time.monotonic()
        lineage_record(
            warehouse, tier, stats, snapshot_for_lineage, epoch,
            output_snapshot_id=out_snapshot, pipeline=used_pipeline,
        )
        commit_s = time.monotonic() - t_commit

        total_s = time.monotonic() - t_start
        metrics[tier] = {
            "partitions": len(stats),
            "out_rows": int(sum(s["out_rows"] for s in stats)),
            "seconds": round(total_s, 3),
            "skipped": False,
            "pipeline": used_pipeline,
            # Amdahl accounting for the scaling bench: 'write_s' is the
            # parallel compute+write action (the only phase whose wall
            # should shrink with cores/executors); 'fixed_s' is everything
            # latency-bound — pending-partition read, the tiny per-tier
            # stats re-read job, and the serial lineage/manifest commits —
            # a per-tier cost that is constant in input size and cores.
            "write_s": round(write_s, 3),
            "fixed_s": round(total_s - write_s, 3),
            "stats_s": round(stats_s, 3),
            "commit_s": round(commit_s, 3),
        }
        if tier == "1m":
            metrics[tier]["py_tasks"] = py_tasks
        if stop_after_tier == tier:
            break


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
    ap.add_argument("--stats-mode", default="long", choices=["long", "decimal"],
                    help="integer carrier for exact rolling stats; 'decimal' "
                         "for int32-extreme domains (see engine/stats.py)")
    ap.add_argument("--pipeline", default="fused", choices=["fused", "exploded"],
                    help="1m-tier strategy: fused narrow Arrow pass (scale "
                         "path) or exploded Catalyst windows (reference path)")
    ap.add_argument("--arrow-batch-rows", type=int, default=None,
                    help="Arrow batch size in DOC rows for the fused path "
                         "(default: cache-blocked from --arrow-batch-bytes)")
    ap.add_argument("--arrow-batch-bytes", type=int, default=2 << 20,
                    help="target bytes of series data per Arrow batch")
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
        stats_mode=args.stats_mode,
        pipeline=args.pipeline,
        arrow_batch_rows=args.arrow_batch_rows,
        arrow_batch_bytes=args.arrow_batch_bytes,
    )
    for tier, m in metrics.items():
        print(f"tier={tier} {m}")


if __name__ == "__main__":
    main()
