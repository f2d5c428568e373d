"""Warehouse compaction (the Iceberg `rewrite_data_files` maintenance
shape): collapse a tier whose CURRENT snapshot spans many immutable
`snap-N` data directories into one fresh snapshot directory.

Why this exists: every incremental commit (streaming micro-batch epochs,
resume re-runs, retention straddler rewrites) rewrites only a subset of
partitions, so the current snapshot accumulates references into more and
more historical dirs — each one a separate scan node in `read_at`'s union
and, on a real lakehouse, a manifest entry + small-file set. At 100 TB
with minute-level micro-batches this is THE dominant read-amplification
curve; periodic compaction resets it to one scan node / one file per
partition.

Semantics (all Iceberg-shaped):
  - row-preserving: the new snapshot holds exactly the current rows
    (asserted in tests down to the payload bytes);
  - metadata commit: prior snapshots still reference their original dirs,
    so epoch time travel (lineage output_snapshot_id) is untouched;
  - lineage-recorded: per-partition rows under tier `compact_<tier>` with
    pipeline="compact", so maintenance is auditable like every other write;
  - idempotent: a tier already at 1 data dir (or below --min-dirs) is
    skipped — re-running is a no-op.

Old snap dirs become garbage only when no RETAINED snapshot references
them; physical deletion is snapshot-expiry territory (jobs/retention.py),
deliberately not done here.

Run:
    python jobs/compact.py --warehouse /tmp/wh [--tiers 1m,1h,1d]
        [--min-dirs 2] [--cluster zorder]
    spark-submit --py-files engine.zip jobs/compact.py ...

--cluster zorder additionally Morton-clusters rows inside each rewritten
file by (doc-hash, bucket) — engine/zorder.py, the Delta OPTIMIZE ZORDER
BY shape — so point reads by doc AND time-range scans both prune parquet
row groups.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from engine.io import ParquetManifestFormat
from engine.lineage import lineage_record, written_partition_stats
from engine.schema import TIER_ORDER
from engine.session import get_spark


def compact_tier(spark, fmt: ParquetManifestFormat, warehouse: str,
                 tier: str, min_dirs: int = 2, epoch: int = 0,
                 cluster: str = "none") -> dict:
    """Compact one tier; returns {dirs_before, dirs_after, rows, skipped}.

    cluster="zorder" additionally Morton-clusters rows inside each
    rewritten file by (xxhash64(doc_id), bucket) — the Delta OPTIMIZE
    ZORDER BY shape (engine/zorder.py): point reads by doc AND time-range
    scans both get tight parquet row-group min/max rectangles instead of
    one dimension's stripe. A zorder pass is worth running even at
    min_dirs=1 (it rewrites for ORDER, not just dir count), so the
    min-dirs skip only applies to cluster="none"."""
    table = f"rollup_{tier}"
    try:
        before = fmt.snapshot_dirs(table)
    except ValueError:
        return {"skipped": True, "reason": "no snapshot"}
    if cluster == "none" and len(before) < min_dirs:
        return {"skipped": True, "dirs_before": len(before)}
    if cluster not in ("none", "zorder"):
        raise ValueError(f"unknown cluster mode {cluster!r}")
    t0 = time.monotonic()
    # one read of the current view -> one overwrite of every live partition
    # (all of them are "present in df", so the new snapshot maps every
    # part_hash to the single new snap dir)
    sort_within = None
    if cluster == "zorder":
        from engine.zorder import rollup_zorder_key

        sort_within = rollup_zorder_key()
    snap = fmt.overwrite_partitions(
        fmt.read(table), table, sort_within=sort_within
    )
    stats = written_partition_stats(spark, fmt, table, snap)
    lineage_record(
        warehouse, f"compact_{tier}", stats, input_snapshot_id=snap - 1,
        checkpoint_epoch=epoch, output_snapshot_id=snap, pipeline="compact",
    )
    after = fmt.snapshot_dirs(table)
    return {
        "skipped": False,
        "dirs_before": len(before),
        "dirs_after": len(after),
        "rows": int(sum(s["out_rows"] for s in stats)),
        "snapshot": snap,
        "seconds": round(time.monotonic() - t0, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--tiers", default=",".join(TIER_ORDER))
    ap.add_argument("--min-dirs", type=int, default=2,
                    help="only compact tiers whose current snapshot spans "
                         "at least this many data dirs")
    ap.add_argument("--epoch", type=int, default=0,
                    help="checkpoint epoch recorded on the lineage rows")
    ap.add_argument("--cluster", default="none", choices=["none", "zorder"],
                    help="zorder: Morton-cluster rows inside rewritten "
                         "files by (doc-hash, bucket) for 2-D row-group "
                         "pruning")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="compact-job", master=args.master)
    fmt = ParquetManifestFormat(spark, args.warehouse)
    for tier in args.tiers.split(","):
        m = compact_tier(spark, fmt, args.warehouse, tier,
                         min_dirs=args.min_dirs, epoch=args.epoch,
                         cluster=args.cluster)
        print(f"compact tier={tier} {m}")


if __name__ == "__main__":
    main()
