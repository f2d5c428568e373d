"""Retention expiry (engine/retention.py): per-tier trailing windows,
metadata-only drops, straddler-only rewrites, time travel intact."""

from __future__ import annotations

from engine.io import ParquetManifestFormat, synth_tokens
from engine.retention import apply_retention, expired_cutoff_bucket
from jobs.rollup import run_rollup


def test_cutoff_bucket_math():
    # 1m buckets cover [b*60, (b+1)*60); expired iff end <= now - retain
    assert expired_cutoff_bucket("1m", now_t=4096, retain_seconds=1800) == 38
    assert expired_cutoff_bucket("1m", now_t=120, retain_seconds=60) == 1
    assert expired_cutoff_bucket("1m", now_t=119, retain_seconds=60) == 0
    assert expired_cutoff_bucket("1h", now_t=86400, retain_seconds=3600) == 23
    # retention window longer than history -> nothing expires
    assert expired_cutoff_bucket("1d", now_t=4096, retain_seconds=10**9) == 0


def test_retention_expires_and_preserves_history(spark, tmp_path):
    wh = str(tmp_path / "ret")
    tokens = synth_tokens(spark, 40, seed=42)  # mixed lengths incl. 4096
    run_rollup(spark, tokens, wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)

    before_1m = fmt.read("rollup_1m").select("doc_id", "bucket", "vsum", "part_hash")
    before_rows = {(r["doc_id"], r["bucket"], r["vsum"]) for r in before_1m.collect()}
    before_1h = {(r["doc_id"], r["bucket"]) for r in fmt.read("rollup_1h").select("doc_id", "bucket").collect()}
    snap_before = fmt.current_snapshot("rollup_1m")

    policy = {"1m": 1800}  # keep the last 30 minutes of the 1m tier only
    m = apply_retention(fmt, policy, now_t=4096)
    cutoff = m["1m"]["cutoff_bucket"]
    assert cutoff == 38
    assert m["1m"]["rows_dropped"] > 0
    # at least one of the two expiry paths must have fired on this fixture
    assert m["1m"]["dropped_partitions"] + m["1m"]["rewritten_partitions"] > 0

    after = {
        (r["doc_id"], r["bucket"], r["vsum"])
        for r in fmt.read("rollup_1m").select("doc_id", "bucket", "vsum").collect()
    }
    want = {t for t in before_rows if t[1] >= cutoff}
    assert after == want  # exactly the retained window, nothing else touched

    # coarser tier not in the policy is untouched
    assert {
        (r["doc_id"], r["bucket"])
        for r in fmt.read("rollup_1h").select("doc_id", "bucket").collect()
    } == before_1h

    # time travel: the pre-retention snapshot still serves the expired rows
    old = {
        (r["doc_id"], r["bucket"], r["vsum"])
        for r in fmt.read_at("rollup_1m", snap_before)
        .select("doc_id", "bucket", "vsum").collect()
    }
    assert old == before_rows

    # idempotent: a second pass with the same clock drops nothing more
    m2 = apply_retention(fmt, policy, now_t=4096)
    assert m2["1m"]["rows_dropped"] == 0
    assert m2["1m"]["dropped_partitions"] == 0 and m2["1m"]["rewritten_partitions"] == 0


def test_retention_cli_resume_and_time_travel(spark, tmp_path):
    """jobs/retention.py end-to-end: drop + straddler rewrite through the
    CLI surface, expiry recorded in lineage, same-epoch re-run is a no-op,
    and time travel to the pre-expiry snapshot still serves expired rows."""
    import pyarrow.compute as pc

    from engine.lineage import lineage_rows
    from jobs.retention import parse_duration, run_retention

    assert parse_duration("7d") == 7 * 86400
    assert parse_duration("30m") == 1800
    assert parse_duration("3600") == 3600

    wh = str(tmp_path / "retcli")
    run_rollup(spark, synth_tokens(spark, 40, seed=42), wh, epoch=1)
    fmt = ParquetManifestFormat(spark, wh)
    pre_rows = {
        (r["doc_id"], r["bucket"])
        for r in fmt.read("rollup_1m").select("doc_id", "bucket").collect()
    }
    snap_pre = fmt.current_snapshot("rollup_1m")

    m = run_retention(spark, wh, {"1m": parse_duration("30m")}, now_t=4096, epoch=7)
    assert not m["1m"]["skipped"]
    assert m["1m"]["rows_dropped"] > 0
    assert m["1m"]["post_snapshot"] > m["1m"]["pre_snapshot"] == snap_pre

    cutoff = m["1m"]["cutoff_bucket"]
    kept = {
        (r["doc_id"], r["bucket"])
        for r in fmt.read("rollup_1m").select("doc_id", "bucket").collect()
    }
    assert kept == {(d, b) for d, b in pre_rows if b >= cutoff}

    # expiry commit is durable lineage
    lin = lineage_rows(wh, ["checkpoint_epoch", "in_rows"], pc.field("tier") == "expire_1m")
    assert sum(e == 7 for e in lin["checkpoint_epoch"].to_pylist()) > 0
    assert pc.sum(lin["in_rows"]).as_py() == m["1m"]["rows_dropped"]

    # same-epoch re-run: resume short-circuit, no new snapshot
    snap_after = fmt.current_snapshot("rollup_1m")
    m2 = run_retention(spark, wh, {"1m": parse_duration("30m")}, now_t=4096, epoch=7)
    assert m2["1m"] == {"skipped": True}
    assert fmt.current_snapshot("rollup_1m") == snap_after

    # time travel to before the expiry still serves every pre-expiry row
    old = {
        (r["doc_id"], r["bucket"])
        for r in fmt.read_at("rollup_1m", snap_pre).select("doc_id", "bucket").collect()
    }
    assert old == pre_rows


def _parquet_files_per_part_dir(snap_dir: str) -> dict[str, int]:
    import os

    return {
        name: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(snap_dir, name)))
        for name in os.listdir(snap_dir)
        if name.startswith("part_hash=")
    }


def test_rewrites_write_one_file_per_partition_dir(spark, tmp_path):
    """A compaction and a retention straddler rewrite each leave exactly
    one parquet file in every part_hash dir of the snap dir they commit
    (every write is rebalanced on part_hash, however few partitions it
    rewrites)."""
    import os

    from pyspark.sql import functions as F

    from jobs.compact import compact_tier

    wh = str(tmp_path / "wh")
    run_rollup(spark, synth_tokens(spark, 6, seed=7, n_tok=4096), wh, epoch=1, tiers=["1m"])
    run_rollup(
        spark,
        synth_tokens(spark, 6, seed=9, n_tok=4096).withColumn(
            "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
        ),
        wh, epoch=2, tiers=["1m"],
    )
    fmt = ParquetManifestFormat(spark, wh)
    tdir = os.path.join(wh, "rollup_1m")

    c = compact_tier(spark, fmt, wh, "1m")
    assert not c["skipped"]
    files = _parquet_files_per_part_dir(os.path.join(tdir, f"snap-{c['snapshot']}"))
    assert files and set(files.values()) == {1}, files

    m = apply_retention(fmt, {"1m": 1800}, now_t=4096)["1m"]
    assert m["rewritten_partitions"] > 0
    snap = fmt.current_snapshot("rollup_1m")
    files = _parquet_files_per_part_dir(os.path.join(tdir, f"snap-{snap}"))
    assert len(files) == m["rewritten_partitions"] and set(files.values()) == {1}, files


def test_lineage_lookups_in_retention_and_expiry_run_no_spark_job(spark, tmp_path):
    """A same-epoch retention re-run (its expiry marker found in lineage)
    and snapshot expiry with an epoch pin (the pin resolved from lineage)
    read lineage on the driver: neither runs a Spark job."""
    import uuid

    from jobs.retention import run_retention, run_snapshot_expiry

    wh = str(tmp_path / "wh")
    tiers = ["1m", "1h", "1d"]
    run_rollup(spark, synth_tokens(spark, 8, seed=3, n_tok=4096), wh, epoch=1)
    run_retention(spark, wh, {"1m": 1800}, now_t=4096, epoch=7)
    sc = spark.sparkContext

    def spark_jobs(fn):
        group = f"lineage-lookup-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "lineage lookup")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    m, jobs = spark_jobs(lambda: run_retention(spark, wh, {"1m": 1800}, now_t=4096, epoch=7))
    assert m == {"1m": {"skipped": True}}
    assert jobs == []
    m, jobs = spark_jobs(
        lambda: run_snapshot_expiry(spark, wh, tiers, keep_last=1, pin_epochs={1})
    )
    assert [m[t]["pinned_snapshots"] for t in tiers] == [[1], [1], [1]]
    assert jobs == []
