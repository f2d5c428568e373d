"""Retention job (the third leg of the north star: rollup + downsample +
RETENTION — BASELINE.json:6), drivable end-to-end:

    python jobs/retention.py --warehouse /path/wh \
        --retain-1m 7d --retain-1h 90d --now-t 1000000 --epoch 42
    spark-submit --py-files engine.zip jobs/retention.py ...

Durations accept s/m/h/d suffixes (plain integers = seconds). Tiers with
no flag are kept forever.

Resume safety (same contract as jobs/rollup.py): each tier's expiry is
recorded AFTER its manifest commits as lineage rows with the synthetic
tier name ``expire_<tier>`` — one row per partition that lost rows
(in_rows = rows expired there, out_rows = 0), part_hash -1 when a tier
expired nothing (so the no-op is durable too). Re-running the same
``--epoch`` finds those rows and skips the tier entirely; a crash between
the manifest commit and the lineage append re-runs expiry, which is
idempotent (the cutoff re-derives, already-dropped partitions are gone
from the current view, straddlers rewrite to the same retained rows).
Both this resume check and ``--pin-epoch``'s pin resolution read lineage
on the driver (engine/lineage.py::lineage_rows) and run no Spark job.

Time travel is unaffected by design: drops are metadata-only commits and
rewrites create new snapshots, so ``fmt.read_at(pre_expiry_snapshot)``
still serves the expired rows until snapshots are vacuumed (Iceberg
expire-snapshots model). Pinned by tests/test_retention.py.

Snapshot expiry also removes staging dirs (``<warehouse>/_staging/<uuid>``)
older than ``STAGING_MAX_AGE_S``: a write removes its own when it ends, so
an old one was left by a process killed mid-write.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyarrow.compute as pc

from engine.io import STAGING_DIR, ParquetManifestFormat
from engine.lineage import lineage_record, lineage_rows
from engine.retention import apply_retention
from engine.schema import TIER_ORDER
from engine.session import get_spark

_DUR = {"s": 1, "m": 60, "h": 3600, "d": 86400}

# A staging dir untouched this long belongs to no running write (Iceberg
# remove_orphan_files' older_than guard, which keeps in-flight files safe).
STAGING_MAX_AGE_S = 86400


def parse_duration(text: str) -> int:
    m = re.fullmatch(r"(\d+)([smhd]?)", text.strip())
    if not m:
        raise ValueError(f"bad duration {text!r} (use e.g. 3600, 30m, 12h, 7d)")
    return int(m.group(1)) * _DUR.get(m.group(2) or "s", 1)


def run_retention(
    spark,
    warehouse: str,
    policy: dict[str, int],
    now_t: int,
    epoch: int,
) -> dict:
    """Apply *policy* tier by tier with per-tier resume via lineage."""
    fmt = ParquetManifestFormat(spark, warehouse)
    done = set(lineage_rows(
        warehouse, ["tier"], pc.field("checkpoint_epoch") == epoch
    )["tier"].to_pylist())
    metrics: dict = {}
    for tier, retain_seconds in policy.items():
        marker = f"expire_{tier}"
        if marker in done:
            metrics[tier] = {"skipped": True}
            continue
        pre_snapshot = fmt.current_snapshot(f"rollup_{tier}")
        m = apply_retention(fmt, {tier: retain_seconds}, now_t)[tier]
        post_snapshot = fmt.current_snapshot(f"rollup_{tier}")
        stats = [
            {"part_hash": p, "in_rows": n, "out_rows": 0}
            for p, n in sorted(m.pop("expired_by_partition", {}).items())
        ] or [{"part_hash": -1, "in_rows": 0, "out_rows": 0}]
        lineage_record(
            warehouse, marker, stats, pre_snapshot, epoch,
            output_snapshot_id=post_snapshot,
        )
        m.update({"skipped": False, "pre_snapshot": pre_snapshot,
                  "post_snapshot": post_snapshot})
        metrics[tier] = m
    return metrics


def run_snapshot_expiry(
    spark,
    warehouse: str,
    tiers: list[str],
    keep_last: int,
    pin_epochs: set[int] | None = None,
) -> dict:
    """Physical GC (Iceberg expire_snapshots): per tier, drop all but the
    newest ``keep_last`` snapshots and delete data dirs no surviving
    snapshot references. By default lineage epochs expire WITH their
    snapshots — only the keep-last window survives (Iceberg contract).
    Then staging dirs older than ``STAGING_MAX_AGE_S`` (the leftovers of
    killed writes) are deleted, listed under ``metrics["_staging"]``.

    ``pin_epochs``: checkpoint epochs whose rollup commits must stay
    time-travelable past the keep-last window (e.g. an epoch a downstream
    audit still queries through tier_fallback). Their lineage rows'
    output_snapshot_ids are passed to expire_snapshots as explicit pins —
    UNintersected with the keep-last window, so pinning actually preserves
    something (the pre-round-5 code intersected and was a no-op)."""
    fmt = ParquetManifestFormat(spark, warehouse)
    pins: dict[str, set[int]] = {t: set() for t in tiers}
    if pin_epochs:
        # resolve ALL pins before deleting anything: a pin epoch with no
        # lineage row in any tier is an operator error (typo, or the epoch
        # already expired) — deleting what the flag asked to preserve must
        # not exit 0 silently, and must not commit any expiry first
        rows = lineage_rows(
            warehouse, ["tier", "checkpoint_epoch", "output_snapshot_id"],
            pc.field("tier").isin(list(tiers))
            & pc.field("checkpoint_epoch").isin([int(e) for e in pin_epochs]),
        ).to_pylist()
        for r in rows:
            snap = r["output_snapshot_id"]
            if snap is not None and snap >= 0:  # null or -1: not recorded
                pins[r["tier"]].add(snap)
        unmatched = {int(e) for e in pin_epochs} - {r["checkpoint_epoch"] for r in rows}
        if unmatched:
            raise ValueError(
                f"--pin-epoch {sorted(unmatched)}: no lineage rows match in "
                f"any of tiers {list(tiers)} — refusing to expire (re-check "
                "the epoch id; nothing has been deleted)"
            )
        # lineage rows OUTLIVE snapshot expiry, so an epoch whose snapshot
        # a previous --expire-snapshots already deleted resolves "cleanly"
        # here and would then be silently skipped by expire_snapshots'
        # membership guard — the run would exit 0 while preserving nothing
        # the operator asked for (ADVICE r5). Verify each resolved pin
        # still exists in its tier's manifest before deleting anything.
        gone = {
            t: sorted(pins[t] - fmt.snapshot_ids(f"rollup_{t}"))
            for t in tiers
            if pins[t] - fmt.snapshot_ids(f"rollup_{t}")
        }
        if gone:
            raise ValueError(
                f"--pin-epoch resolves to already-expired snapshots {gone}: "
                "those epochs are no longer time-travelable — refusing to "
                "expire (nothing has been deleted)"
            )
    metrics = {}
    for tier in tiers:
        try:
            metrics[tier] = fmt.expire_snapshots(
                f"rollup_{tier}", keep_last=keep_last,
                keep_snapshot_ids=pins[tier],
            )
            if pin_epochs:
                metrics[tier]["pinned_snapshots"] = sorted(pins[tier])
        except (ValueError, FileNotFoundError) as e:
            metrics[tier] = {"skipped": True, "reason": str(e)[:80]}
    metrics[STAGING_DIR] = {"removed_dirs": _remove_stale_staging(warehouse)}
    return metrics


def _remove_stale_staging(warehouse: str) -> list[str]:
    """Delete ``_staging/<uuid>`` dirs whose mtime is older than
    ``STAGING_MAX_AGE_S``; returns their paths."""
    root = os.path.join(warehouse, STAGING_DIR)
    if not os.path.isdir(root):
        return []
    cutoff = time.time() - STAGING_MAX_AGE_S
    removed = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.getmtime(path) < cutoff:
            shutil.rmtree(path)
            removed.append(path)
    return removed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    for tier in TIER_ORDER:
        ap.add_argument(f"--retain-{tier}", default=None,
                        help=f"retention window for the {tier} tier (e.g. 7d)")
    ap.add_argument("--now-t", type=int, default=None,
                    help="current event time (seconds in the bucket domain); "
                         "required with --retain-<tier>")
    ap.add_argument("--epoch", type=int, default=None,
                    help="checkpoint epoch of this expiry run (resume key); "
                         "required with --retain-<tier>")
    ap.add_argument("--expire-snapshots", type=int, default=None,
                    metavar="KEEP_LAST",
                    help="after bucket expiry (or standalone): physically "
                         "delete snapshots/dirs beyond the newest KEEP_LAST "
                         "per tier (Iceberg expire_snapshots)")
    ap.add_argument("--pin-epoch", type=int, action="append", default=None,
                    metavar="EPOCH",
                    help="repeatable; checkpoint epochs whose rollup "
                         "snapshots must survive --expire-snapshots and "
                         "stay time-travelable (lineage-derived pins)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    policy = {
        tier: parse_duration(v)
        for tier in TIER_ORDER
        if (v := getattr(args, f"retain_{tier}")) is not None
    }
    if not policy and args.expire_snapshots is None:
        ap.error("no --retain-<tier> or --expire-snapshots flag; nothing to do")
    spark = get_spark(app_name="retention-job", master=args.master)
    if policy:
        if args.now_t is None or args.epoch is None:
            ap.error("--retain-<tier> requires --now-t and --epoch")
        metrics = run_retention(spark, args.warehouse, policy, args.now_t, args.epoch)
        for tier, m in metrics.items():
            print(f"tier={tier} {m}")
    if args.expire_snapshots is not None:
        sm = run_snapshot_expiry(
            spark, args.warehouse, list(TIER_ORDER), args.expire_snapshots,
            pin_epochs=set(args.pin_epoch) if args.pin_epoch else None,
        )
        staging = sm.pop(STAGING_DIR)
        for tier, m in sm.items():
            print(f"expire-snapshots tier={tier} {m}")
        print(f"expire-snapshots staging {staging}")


if __name__ == "__main__":
    main()
