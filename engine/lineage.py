"""L1-L3: per-partition lineage + resume (SURVEY.md §2.7; BASELINE.json:6
"per-partition lineage rows (input snapshot-id, partition hash, row counts,
checkpoint epoch) so a killed job resumes from the last committed tier
without recomputation").

Commit protocol — the state machine (SURVEY.md §7 step 2):

    for each tier, for one checkpoint_epoch:
      state DONE(p)    : lineage holds a row (tier, p, epoch)
      state DIRTY(p)   : data for partition p may exist in the tier table
                         but no lineage row -> treated as not done
      transition       : [compute pending partitions] ->
                         [fmt.overwrite_partitions(data)]   (A)
                         [append lineage rows]              (B)

    jobs/rollup.py stages every tier's rows in ONE write, then runs (A)
    and (B) per tier in tier order: (A) renames the tier's staged dir to
    its next snap-<N> and swaps its manifest (engine/io.py).

    Readers trust ONLY lineage (Q2). A crash between (A) and (B) leaves
    DIRTY partitions: the resume run recomputes them and (A) OVERWRITES —
    idempotent because overwrite replaces the whole partition. A crash
    before (A) leaves at most an unreferenced staging dir, or a snap-<N>
    renamed into the table but not in its manifest; no reader sees
    either, and the next commit of that table removes such a snap-<N>
    before it renames its own into place. Therefore: resume == clean run,
    byte-for-byte (fault-injection tests in tests/test_resume.py).

Lineage rows also record the build parameters (``params``: w, k, gap
policy, compress as one JSON string). A resume under other parameters
would mix two builds in one epoch, so jobs/rollup.py refuses it
(recorded_params); rows written before parameters were recorded read
null and are not checked.

Lineage storage is an append-only parquet directory: each commit writes one
immutable file via pyarrow (driver-side, rows are tiny — one per partition),
so no Spark job and no read-modify-write race. Every lookup (resume, the
read path's committed sets, retention markers, expiry pins) is one
driver-side Arrow scan through lineage_rows, so no lookup runs a Spark job
either. This module is the only code that knows where the files live. On a
real cluster this table would be an Iceberg append; the contract is
identical.

Row-count semantics: out_rows = rows written to the partition; in_rows =
sum(cnt) over those rows = non-null raw points covered by the partition —
chosen so it is computable from the output aggregate itself without a second
scan over the (100 TB) input.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.schema import DEFAULT_N_BUCKETS

LINEAGE_DIR = "lineage"

_ARROW_SCHEMA = pa.schema(
    [
        ("tier", pa.string()),
        ("part_hash", pa.int64()),
        ("input_snapshot_id", pa.int64()),
        ("output_snapshot_id", pa.int64()),
        ("in_rows", pa.int64()),
        ("out_rows", pa.int64()),
        ("checkpoint_epoch", pa.int64()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
        ("pipeline", pa.string()),
        ("params", pa.string()),
    ]
)


def _lineage_path(warehouse: str) -> str:
    return os.path.join(warehouse, LINEAGE_DIR)


def lineage_record(
    warehouse: str,
    tier: str,
    partition_stats: list[dict],
    input_snapshot_id: int,
    checkpoint_epoch: int,
    output_snapshot_id: int = -1,
    pipeline: str = "",
    params: str | None = None,
) -> int:
    """L1: append one lineage row per committed partition (AFTER the data
    commit — see the module-docstring state machine). Atomic: parquet file
    is written to a temp name then renamed.

    ``output_snapshot_id`` is the tier-table snapshot produced by the data
    commit (A). Recording it makes the epoch -> snapshot mapping durable: a
    reader serving epoch E time-travels to each partition's own output
    snapshot, so a later epoch overwriting the same part_hash partitions can
    never leak into an epoch-E query (engine/query.py::tier_fallback).
    -1 = unknown (legacy writer); readers then fall back to the current
    snapshot.

    ``pipeline`` records the job step that produced the rows: "fused"
    (every rollup tier, jobs/rollup.py; "cascade" on 1h/1d rows written
    before the kernel emitted them) or "compact" (jobs/compact.py), so
    operators can see which path wrote an epoch. "" = unrecorded.

    ``params`` is the build parameters' JSON string (jobs/rollup.py), None
    for writers that have none (compaction, retention)."""
    d = _lineage_path(warehouse)
    os.makedirs(d, exist_ok=True)
    now = int(time.time() * 1_000_000)
    table = pa.table(
        {
            "tier": [tier] * len(partition_stats),
            "part_hash": [int(s["part_hash"]) for s in partition_stats],
            "input_snapshot_id": [int(input_snapshot_id)] * len(partition_stats),
            "output_snapshot_id": [int(output_snapshot_id)] * len(partition_stats),
            "in_rows": [int(s["in_rows"]) for s in partition_stats],
            "out_rows": [int(s["out_rows"]) for s in partition_stats],
            "checkpoint_epoch": [int(checkpoint_epoch)] * len(partition_stats),
            "committed_at": pa.array([now] * len(partition_stats), pa.timestamp("us", tz="UTC")),
            "pipeline": [pipeline] * len(partition_stats),
            "params": pa.array([params] * len(partition_stats), pa.string()),
        },
        schema=_ARROW_SCHEMA,
    )
    tmp = os.path.join(d, f".commit-{uuid.uuid4().hex}.tmp")
    final = os.path.join(d, f"commit-{tier}-{checkpoint_epoch}-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return len(partition_stats)


def lineage_rows(warehouse: str, columns: list[str], where=None) -> pa.Table:
    """The lineage table's *columns*, filtered by the pyarrow expression
    *where*, in one driver-side scan (the table is tiny: one row per
    partition-commit). A column a file predates reads null. With no
    lineage files this is an empty table, and no dataset is scanned."""
    files = glob.glob(os.path.join(_lineage_path(warehouse), "commit-*.parquet"))
    if not files:
        return _ARROW_SCHEMA.empty_table().select(columns)
    return ds.dataset(files, schema=_ARROW_SCHEMA, format="parquet").to_table(
        columns=columns, filter=where
    )


def committed_partition_snapshots(
    warehouse: str, tier: str, checkpoint_epoch: int
) -> dict[int, int]:
    """L2: committed part_hash -> output snapshot id for (tier, epoch);
    its keys are the DONE set.

    A partition committed more than once inside one epoch (dirty-crash
    recompute) keeps the LATEST output snapshot. -1 means the writer
    predates output-snapshot recording (readers use the current snapshot);
    a file without ``output_snapshot_id`` reads it as null, i.e. -1. The
    max per part_hash is an Arrow group-by."""
    t = lineage_rows(
        warehouse, ["part_hash", "output_snapshot_id"],
        (pc.field("tier") == tier) & (pc.field("checkpoint_epoch") == checkpoint_epoch),
    )
    latest = pa.table({
        "part_hash": t["part_hash"],
        "snap": pc.fill_null(t["output_snapshot_id"], -1),
    }).group_by("part_hash").aggregate([("snap", "max")])
    return dict(zip(latest["part_hash"].to_pylist(), latest["snap_max"].to_pylist()))


def recorded_params(warehouse: str, checkpoint_epoch: int) -> dict[str, set[str]]:
    """tier -> the distinct build parameters recorded on the epoch's lineage
    rows. Files written before parameters were recorded read null, which
    is left out."""
    t = lineage_rows(
        warehouse, ["tier", "params"],
        (pc.field("checkpoint_epoch") == checkpoint_epoch) & pc.field("params").is_valid(),
    )
    out: dict[str, set[str]] = {}
    for tier, params in zip(t["tier"].to_pylist(), t["params"].to_pylist()):
        out.setdefault(tier, set()).add(params)
    return out


def pending_partitions(
    warehouse: str,
    tier: str,
    checkpoint_epoch: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> list[int]:
    """L2: work units not yet committed. The work-unit universe is the
    static bucket range 0..n_buckets-1 (K1 hashing), so no input scan is
    needed to plan a resume."""
    done = committed_partition_snapshots(warehouse, tier, checkpoint_epoch)
    return [p for p in range(n_buckets) if p not in done]


def partition_stats_from_rollup(rollup_df: DataFrame) -> list[dict]:
    """L3: per-partition row counts from the tier output (one tiny agg job,
    no second pass over the raw input — see module docstring)."""
    rows = (
        rollup_df.groupBy("part_hash")
        .agg(
            F.count("*").alias("out_rows"),
            F.sum("cnt").alias("in_rows"),
        )
        .collect()
    )
    return [
        {
            "part_hash": r["part_hash"],
            "out_rows": r["out_rows"],
            "in_rows": r["in_rows"] or 0,
        }
        for r in rows
    ]


# Commits at or below this many rows have their L3 stats computed driver-
# side with pyarrow (out_rows straight from footer num_rows, in_rows = sum
# of the one ``cnt`` column) instead of a Spark job — the job itself costs
# ~0.25 s of scheduling/listing regardless of data size, which dominates
# when the commit is small (every coarse tier at bench scale). The row
# count comes from parquet FOOTERS (a metadata read, the same thing Spark
# planning does), so routing costs no data I/O; below the cutover the
# driver materializes only the int64 cnt column (4 M rows = 32 MB, bounded
# regardless of how wide the tier schema is). The cutover is data-sized,
# not core-count-sized (the broadcast-threshold shape): a 100 TB tier
# commit exceeds any sane threshold and takes the distributed job.
_STATS_DRIVER_MAX_ROWS = 4_000_000


def written_partition_stats(spark: SparkSession, fmt, table: str,
                            out_snapshot: int) -> list[dict]:
    """L3 stats of the ``snap-<out_snapshot>`` dir a commit of *table* just
    wrote: partition_stats_from_rollup's rows, read from that dir alone
    with an explicit 2-column schema rather than through ``fmt.read`` of
    the whole view. That drops the manifest union/basePath planning,
    parquet schema inference and the scan of partitions the commit did not
    touch; the job reads only the ``cnt`` column of the new files.

    When the whole commit is small (<= _STATS_DRIVER_MAX_ROWS rows, counted
    from parquet footers) the same two numbers come from a driver-side
    pyarrow pass over the snap dir's files instead — exactly the files the
    distributed job would scan, so the two paths are interchangeable
    (pinned by
    tests/test_resume.py::test_written_stats_driver_matches_spark_job).
    The driver pass is only a shortcut: if it raises (an unexpected
    ``part_hash=`` dir name, an unreadable footer) the Spark job runs.

    Every partition a commit writes lives under its new snap dir
    (overwrite_partitions replaces whole partitions), so the read is
    exactly the committed data of the partitions it wrote: a rollup
    epoch's pending set, or every live partition of a compaction."""
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
    return partition_stats_from_rollup(df)


def _written_stats_driver(data_dir: str) -> list[dict] | None:
    """written_partition_stats' driver-side pass; None above the row
    cutover."""
    from concurrent.futures import ThreadPoolExecutor

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
