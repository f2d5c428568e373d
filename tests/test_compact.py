"""jobs/compact.py: row-preserving, time-travel-safe small-file compaction
(SURVEY.md round-4 maintenance leg)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, synth_tokens
from jobs.rollup import run_rollup


def _rows(df):
    return sorted(
        tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
        for r in df.drop("part_hash").collect()
    )


def test_compact_collapses_dirs_preserving_rows_and_history(spark, tmp_path):
    wh = str(tmp_path / "wh")
    # two incremental epochs with disjoint docs -> the current 1m snapshot
    # references (at least) two snap dirs
    d1 = synth_tokens(spark, 6, seed=7, n_tok=256)
    d2 = synth_tokens(spark, 6, seed=9, n_tok=256).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1)
    run_rollup(spark, d2, wh, epoch=2)
    fmt = ParquetManifestFormat(spark, wh)
    assert len(fmt.snapshot_dirs("rollup_1m")) >= 2
    pre_snap = fmt.current_snapshot("rollup_1m")
    pre_rows = _rows(fmt.read("rollup_1m"))

    from jobs.compact import compact_tier

    m = compact_tier(spark, fmt, wh, "1m")
    assert not m["skipped"] and m["dirs_after"] == 1 and m["dirs_before"] >= 2

    # row-preserving (payload bytes included) and one scan-union branch now
    assert _rows(fmt.read("rollup_1m")) == pre_rows
    # time travel to the pre-compaction snapshot is untouched
    assert _rows(fmt.read_at("rollup_1m", pre_snap)) == pre_rows
    # lineage records the maintenance commit
    import pyarrow.compute as pc

    from engine.lineage import lineage_rows

    lin = lineage_rows(wh, ["pipeline"], pc.field("tier") == "compact_1m")
    assert lin.num_rows > 0
    assert set(lin["pipeline"].to_pylist()) == {"compact"}

    # idempotent: second run is a no-op
    m2 = compact_tier(spark, fmt, wh, "1m")
    assert m2["skipped"] and m2["dirs_before"] == 1


def test_compact_cli_smoke(spark, tmp_path):
    wh = str(tmp_path / "whcli")
    d1 = synth_tokens(spark, 4, seed=1, n_tok=128)
    d2 = synth_tokens(spark, 4, seed=2, n_tok=128).withColumn(
        "doc_id", F.concat(F.lit("c_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1, tiers=["1m"])
    run_rollup(spark, d2, wh, epoch=2, tiers=["1m"])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, os.path.join(repo, "jobs", "compact.py"),
           "--warehouse", wh, "--tiers", "1m", "--master", "local[2]"]
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       env=dict(os.environ, SPARK_DRIVER_MEMORY="2g"),
                       timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "dirs_after': 1" in r.stdout, r.stdout


def test_expire_snapshots_gc_and_dir_liveness(spark, tmp_path):
    """expire_snapshots: old snapshot ENTRIES go away and their dirs are
    deleted — but a dir referenced by a SURVIVING snapshot stays, however
    old (incremental commits point new snapshots at old dirs for untouched
    partitions). Current read is byte-identical across the GC; expired
    snapshots raise on time travel."""
    import os as _os

    wh = str(tmp_path / "wh")
    d1 = synth_tokens(spark, 6, seed=7, n_tok=256)
    d2 = synth_tokens(spark, 6, seed=9, n_tok=256).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    d3 = synth_tokens(spark, 6, seed=11, n_tok=256).withColumn(
        "doc_id", F.concat(F.lit("c_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1, tiers=["1m"])
    run_rollup(spark, d2, wh, epoch=2, tiers=["1m"])
    run_rollup(spark, d3, wh, epoch=3, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    cur = fmt.current_snapshot("rollup_1m")
    assert cur >= 3
    # current snapshot references MULTIPLE dirs (older commits' partitions)
    live_before = set(fmt.snapshot_dirs("rollup_1m"))
    assert len(live_before) >= 2
    pre_rows = _rows(fmt.read("rollup_1m"))

    m = fmt.expire_snapshots("rollup_1m", keep_last=1)
    assert m["expired_snapshots"]  # something was dropped
    # every dir the current snapshot references is STILL on disk
    for d in live_before:
        assert _os.path.isdir(d), d
    assert _rows(fmt.read("rollup_1m")) == pre_rows
    # expired snapshot ids no longer time-travelable
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot"):
        fmt.read_at("rollup_1m", m["expired_snapshots"][0])
    # dirs referenced only by expired snapshots are gone: every remaining
    # snap-* dir on disk is referenced by a surviving snapshot
    tdir = _os.path.join(wh, "rollup_1m")
    on_disk = {
        _os.path.join(tdir, n) for n in _os.listdir(tdir)
        if n.startswith("snap-")
    }
    assert on_disk == live_before

    # idempotent: a second pass removes nothing
    m2 = fmt.expire_snapshots("rollup_1m", keep_last=1)
    assert m2["removed_dirs"] == [] and m2["expired_snapshots"] == []


def test_retention_cli_expire_snapshots(spark, tmp_path):
    """jobs/retention.py --expire-snapshots as a real process."""
    wh = str(tmp_path / "whsn")
    d1 = synth_tokens(spark, 4, seed=1, n_tok=128)
    d2 = synth_tokens(spark, 4, seed=2, n_tok=128).withColumn(
        "doc_id", F.concat(F.lit("x_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1, tiers=["1m"])
    run_rollup(spark, d2, wh, epoch=2, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    pre_rows = _rows(fmt.read("rollup_1m"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, os.path.join(repo, "jobs", "retention.py"),
           "--warehouse", wh, "--expire-snapshots", "1",
           "--master", "local[2]"]
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       env=dict(os.environ, SPARK_DRIVER_MEMORY="2g"),
                       timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "expire-snapshots tier=1m" in r.stdout
    assert _rows(fmt.read("rollup_1m")) == pre_rows


def test_expire_snapshots_survives_warehouse_respelling(spark, tmp_path):
    """Dir liveness is decided by snap-N BASENAME, not the path string the
    manifest recorded at write time: expiry driven through a differently-
    spelled --warehouse (./ segment + trailing slash) must not delete dirs
    the surviving snapshots still reference (pre-fix, every live dir failed
    the exact-string match and was rmtree'd)."""
    wh = str(tmp_path / "wh")
    d1 = synth_tokens(spark, 5, seed=3, n_tok=128)
    d2 = synth_tokens(spark, 5, seed=4, n_tok=128).withColumn(
        "doc_id", F.concat(F.lit("r_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1, tiers=["1m"])
    run_rollup(spark, d2, wh, epoch=2, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    pre_rows = _rows(fmt.read("rollup_1m"))

    respelled = os.path.join(str(tmp_path), ".", "wh") + os.sep
    assert respelled != wh and os.path.samefile(respelled, wh)
    m = ParquetManifestFormat(spark, respelled).expire_snapshots(
        "rollup_1m", keep_last=1
    )
    assert m["expired_snapshots"]
    # every dir the current snapshot references survived the respelled GC
    assert _rows(fmt.read("rollup_1m")) == pre_rows


def test_epoch_time_travel_through_compact_and_expiry(spark, tmp_path):
    """Q2 x maintenance: the three manifest writers — rollup commits,
    compaction, snapshot expiry — interacting end-to-end. After a compact
    + expire(keep_last=1) cycle, an epoch pinned via lineage
    (run_snapshot_expiry pin_epochs / --pin-epoch) still time-travels
    through tier_fallback byte-identically; the unpinned control loses the
    epoch, proving the pin preserves something (pre-round-5 pinning was a
    no-op intersection with the keep-last window)."""
    import pytest

    from engine.query import tier_fallback
    from jobs.compact import compact_tier
    from jobs.retention import run_snapshot_expiry

    def build(wh):
        docs_v1 = synth_tokens(spark, 6, seed=7, n_tok=128)
        docs_v2 = docs_v1.withColumn(
            "tokens", F.transform("tokens", lambda v: v + F.lit(1))
        )
        run_rollup(spark, docs_v1, wh, epoch=1, tiers=["1m"])
        run_rollup(spark, docs_v2, wh, epoch=2, tiers=["1m"])
        fmt = ParquetManifestFormat(spark, wh)
        rows = sorted(
            tuple(r)
            for r in tier_fallback(spark, fmt, "1m", 1)
            .select("doc_id", "bucket", "vsum").collect()
        )
        compact_tier(spark, fmt, wh, "1m")
        return fmt, rows

    wh = str(tmp_path / "pin")
    fmt, v1_rows = build(wh)
    m = run_snapshot_expiry(spark, wh, ["1m"], keep_last=1, pin_epochs={1})
    assert m["1m"]["expired_snapshots"]  # the cycle did expire something
    again = sorted(
        tuple(r)
        for r in tier_fallback(spark, fmt, "1m", 1)
        .select("doc_id", "bucket", "vsum").collect()
    )
    assert again == v1_rows
    assert fmt.read("rollup_1m").count() > 0  # compacted current intact

    # control: same cycle, no pin -> the epoch-1 snapshot is gone
    wh2 = str(tmp_path / "nopin")
    fmt2, _ = build(wh2)
    run_snapshot_expiry(spark, wh2, ["1m"], keep_last=1)
    with pytest.raises(ValueError, match="no snapshot"):
        tier_fallback(spark, fmt2, "1m", 1).select("doc_id").collect()


def test_pin_epoch_unmatched_refuses_before_deleting(spark, tmp_path):
    """--pin-epoch with no matching lineage row in any tier (typo, or the
    epoch already expired) must refuse BEFORE committing any expiry — the
    flag's contract is 'must stay time-travelable', so deleting under a
    dangling pin and exiting 0 is the worst outcome."""
    import pytest

    from jobs.retention import run_snapshot_expiry

    wh = str(tmp_path / "whpin")
    run_rollup(spark, synth_tokens(spark, 4, seed=1, n_tok=128), wh,
               epoch=1, tiers=["1m"])
    run_rollup(
        spark,
        synth_tokens(spark, 4, seed=2, n_tok=128).withColumn(
            "doc_id", F.concat(F.lit("z_"), F.col("doc_id"))
        ),
        wh, epoch=2, tiers=["1m"],
    )
    fmt = ParquetManifestFormat(spark, wh)
    snaps_before = sorted(fmt._load("rollup_1m")["snapshots"])
    with pytest.raises(ValueError, match="pin-epoch"):
        run_snapshot_expiry(spark, wh, ["1m"], keep_last=1, pin_epochs={99})
    # nothing was expired: every snapshot still present
    assert sorted(fmt._load("rollup_1m")["snapshots"]) == snaps_before


def test_pin_epoch_already_expired_refuses(spark, tmp_path):
    """ADVICE r5: lineage rows outlive snapshot expiry, so a --pin-epoch
    whose snapshot a PREVIOUS expire-snapshots run already deleted used to
    resolve cleanly and then be silently skipped by expire_snapshots'
    membership guard — exit 0, nothing preserved. The pre-flight must now
    verify each resolved pin against the live manifest and refuse."""
    import pytest

    from jobs.retention import run_snapshot_expiry

    wh = str(tmp_path / "whexppin")
    run_rollup(spark, synth_tokens(spark, 4, seed=1, n_tok=128), wh,
               epoch=1, tiers=["1m"])
    run_rollup(
        spark,
        synth_tokens(spark, 4, seed=2, n_tok=128).withColumn(
            "doc_id", F.concat(F.lit("z_"), F.col("doc_id"))
        ),
        wh, epoch=2, tiers=["1m"],
    )
    fmt = ParquetManifestFormat(spark, wh)
    # first cycle (no pins) legitimately expires the epoch-1 snapshot
    m = run_snapshot_expiry(spark, wh, ["1m"], keep_last=1)
    assert m["1m"]["expired_snapshots"]
    snaps_after = fmt.snapshot_ids("rollup_1m")
    # pinning the now-gone epoch must refuse loudly, before deleting
    with pytest.raises(ValueError, match="already-expired"):
        run_snapshot_expiry(spark, wh, ["1m"], keep_last=1, pin_epochs={1})
    assert fmt.snapshot_ids("rollup_1m") == snaps_after


def test_interleave_bits_morton_values(spark):
    """interleave_bits (engine/zorder.py) against hand-computed Morton
    codes and a scalar Python re-implementation over a coordinate grid."""
    from engine.zorder import interleave_bits

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    # hand cases: x bits land at even positions, y at odd
    assert morton(0b11, 0b01) == 0b0111
    assert morton(0, 0b1) == 0b10

    df = spark.createDataFrame(
        [(x, y) for x in range(0, 70000, 4111) for y in range(0, 70000, 5333)],
        "x long, y long",
    )
    got = df.select(
        "x", "y", interleave_bits(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == morton(r["x"] & 0xFFFF, r["y"] & 0xFFFF), (r["x"], r["y"])


def test_compact_zorder_clusters_rows_preserving_everything(spark, tmp_path):
    """--cluster zorder: the rewrite is still row-preserving and
    time-travel-safe, AND every written file's rows are non-decreasing in
    the Morton key (the actual clustering mechanism parquet row-group
    min/max pruning relies on)."""
    import glob

    import pandas as pd

    from engine.zorder import rollup_zorder_key
    from jobs.compact import compact_tier

    wh = str(tmp_path / "whz")
    d1 = synth_tokens(spark, 6, seed=3, n_tok=256)
    d2 = synth_tokens(spark, 6, seed=5, n_tok=256).withColumn(
        "doc_id", F.concat(F.lit("z_"), F.col("doc_id"))
    )
    run_rollup(spark, d1, wh, epoch=1, tiers=["1m"])
    run_rollup(spark, d2, wh, epoch=2, tiers=["1m"])
    fmt = ParquetManifestFormat(spark, wh)
    pre_snap = fmt.current_snapshot("rollup_1m")
    pre_rows = _rows(fmt.read("rollup_1m"))

    m = compact_tier(spark, fmt, wh, "1m", cluster="zorder")
    assert not m["skipped"] and m["dirs_after"] == 1

    assert _rows(fmt.read("rollup_1m")) == pre_rows
    assert _rows(fmt.read_at("rollup_1m", pre_snap)) == pre_rows

    # per-file clustering: recompute the key on each file IN FILE ORDER
    snap_dir = next(iter(fmt.snapshot_dirs("rollup_1m")))
    files = glob.glob(os.path.join(snap_dir, "part_hash=*", "*.parquet"))
    assert files
    checked = 0
    for f in files:
        pdf = pd.read_parquet(f)
        if len(pdf) < 2:
            continue
        zs = [
            r["z"]
            for r in spark.createDataFrame(pdf[["doc_id", "bucket"]])
            .select(rollup_zorder_key().alias("z"))
            .collect()
        ]
        assert zs == sorted(zs), f
        checked += 1
    assert checked > 0

    # a zorder pass is not blocked by the min-dirs idempotence skip
    m2 = compact_tier(spark, fmt, wh, "1m", cluster="zorder")
    assert not m2["skipped"] and m2["dirs_after"] == 1
