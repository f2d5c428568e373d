"""Structured Streaming tests (engine/streaming.py): micro-batch rollup with
lineage dedupe, and the stateful detectors jobs/stream_detect.py runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, synth_tokens
from engine.lineage import lineage_rows
from engine.streaming import start_rollup_stream


def _lineage_epochs(wh: str) -> set[int]:
    return set(lineage_rows(wh, ["checkpoint_epoch"])["checkpoint_epoch"].to_pylist())


def test_stream_rollup_two_drops(spark, tmp_path):
    """Two file drops -> two micro-batches -> two epochs of committed
    tiers; a replayed stream (same checkpoint) processes nothing new."""
    inbox = str(tmp_path / "inbox")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)

    synth_tokens(spark, 8, seed=1, n_tok=256).write.parquet(f"{inbox}/drop1")
    # file source scans nested dirs? use flat files: write into inbox root
    # via separate subdir-then-move is overkill; point the stream at the
    # parquet leaf dirs instead
    q = start_rollup_stream(
        spark, f"{inbox}/*", wh, ckpt, available_now=True, compress=False
    )
    q.awaitTermination(300)
    epochs1 = _lineage_epochs(wh)
    assert len(epochs1) >= 1
    fmt = ParquetManifestFormat(spark, wh)
    rows1 = fmt.read("rollup_1m").count()
    assert rows1 > 0

    # second drop -> new batch id -> new epoch, old partitions untouched
    synth_tokens(spark, 8, seed=2, n_tok=256).write.parquet(f"{inbox}/drop2")
    q = start_rollup_stream(
        spark, f"{inbox}/*", wh, ckpt, available_now=True, compress=False
    )
    q.awaitTermination(300)
    epochs2 = _lineage_epochs(wh)
    assert len(epochs2) == len(epochs1) + 1

    # accumulation (merge_docs): batch 2 reuses batch 1's doc_ids' partitions
    # (same doc numbering), yet batch-1 rows must survive in the current tier
    # view — the merge carried them over. Here the doc sets are identical, so
    # the carried set is empty and rows simply reflect the latest batch; the
    # disjoint-docs accumulation case is test_stream_accumulates_disjoint_docs.
    rows2 = fmt.read("rollup_1m").count()
    assert rows2 >= rows1

    # replay with the same checkpoint: nothing new to process
    q = start_rollup_stream(
        spark, f"{inbox}/*", wh, ckpt, available_now=True, compress=False
    )
    q.awaitTermination(300)
    epochs3 = _lineage_epochs(wh)
    assert epochs3 == epochs2


def test_stream_accumulates_disjoint_docs(spark, tmp_path):
    """Two micro-batches with DISJOINT doc sets: the current tier must hold
    the union (merge-append), not just the latest batch — regression for the
    partition-eviction bug (round-2 ADVICE)."""
    inbox = str(tmp_path / "inbox")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)

    d1 = synth_tokens(spark, 5, seed=1, n_tok=128)
    d2 = synth_tokens(spark, 5, seed=2, n_tok=128).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id"))
    )
    d1.write.parquet(f"{inbox}/drop1")
    q = start_rollup_stream(spark, f"{inbox}/*", wh, ckpt,
                            available_now=True, compress=False)
    q.awaitTermination(300)
    d2.write.parquet(f"{inbox}/drop2")
    q = start_rollup_stream(spark, f"{inbox}/*", wh, ckpt,
                            available_now=True, compress=False)
    q.awaitTermination(300)

    fmt = ParquetManifestFormat(spark, wh)
    got = {
        r["doc_id"]
        for r in fmt.read("rollup_1m").select("doc_id").distinct().collect()
    }
    want = {r["doc_id"] for r in d1.unionByName(d2).select("doc_id").collect()}
    assert got == want


def test_stateful_detect_continues_across_batches(spark, tmp_path):
    """applyInPandasWithState detector (engine/streaming.py) with no
    reorder window: the per-user window tail carried in state must let
    batch-2 events be scored against batch-1 history — flags across two
    restarts (same checkpoint) equal the pandas rolling oracle over the
    concatenated series."""
    import numpy as np
    import pandas as pd

    from engine.streaming import stateful_detect_stream_late

    # self-inclusion ceiling (SURVEY.md §2.1a): max score = (w-1)/sqrt(w),
    # so detection needs (w-1)/sqrt(w) > k — w=12, k=2.5 gives 3.18 > 2.5
    w, k = 12, 2.5
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def mk(u, i):
        # low-variance base so the injected spikes clear k decisively
        return float(100 + ((u * 37 + i * 17) % 11))

    n1, n2 = 16, 6
    rows1, rows2 = [], []
    for u in range(3):
        for i in range(n1):
            rows1.append((u * 100 + i, 1704067200 + i, u, mk(u, i)))
        for j in range(n2):
            i = n1 + j
            # spike at the SECOND event of batch 2: its window reaches back
            # into batch 1 (j=1 < w-1), so detection requires carried state
            v = 500.0 if j == 1 else mk(u, i)
            rows2.append((u * 100 + i, 1704067200 + i, u, v))

    def write(rows, name):
        spark.createDataFrame(
            rows, "event_id long, epoch long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"), "user_id", "value"
        ).write.parquet(f"{src}/{name}")

    outdir = str(tmp_path / "out")

    def run():
        # file sink (not memory): the second start must RECOVER the state
        # store from the same checkpoint, which the memory sink cannot
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(f"{src}/*")
        q = (
            stateful_detect_stream_late(stream, w=w, k=k, reorder_seconds=0)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write(rows1, "d1")
    run()
    write(rows2, "d2")
    run()
    got = (
        spark.read.parquet(outdir)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(rows1) + len(rows2)

    # pandas oracle over the concatenated per-user series
    full = pd.DataFrame(
        [(e, u, v) for (e, _t, u, v) in rows1 + rows2],
        columns=["event_id", "user_id", "value"],
    ).sort_values(["user_id", "event_id"]).reset_index(drop=True)
    flags = []
    for u, g in full.groupby("user_id"):
        s = g["value"]
        ma = s.rolling(w).mean()
        sd = s.rolling(w).std(ddof=1)
        score = (s - ma).abs() / sd
        flags.append(score.fillna(0) > k)
    want = pd.concat(flags).to_numpy()
    assert (got["is_anom"].to_numpy() == want).all()
    # the state-dependent spike (batch-2 position 1) must actually fire
    spike_ids = {u * 100 + n1 + 1 for u in range(3)}
    fired = set(got.loc[got["is_anom"], "event_id"].astype(int))
    assert spike_ids <= fired


def test_stateful_detect_multichunk_batch(spark, tmp_path):
    """ADVICE r02: applyInPandasWithState delivers one key's batch as
    MULTIPLE unordered Arrow chunks once rows exceed arrow
    maxRecordsPerBatch. With the chunk size forced tiny (8) and the source
    file written in shuffled row order, per-chunk sorting alone would
    mis-window — the operator must concatenate chunks and sort once."""
    import random

    import pandas as pd

    from engine.streaming import stateful_detect_stream_late

    w, k = 12, 2.5
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)

    n = 64  # >> chunk size 8 -> ~8 chunks per user per batch
    rows = []
    for u in range(2):
        for i in range(n):
            v = 500.0 if i == 40 else float(100 + ((u * 37 + i * 17) % 11))
            rows.append((u * 1000 + i, 1704067200 + i, u, v))
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)

    spark.createDataFrame(
        shuffled, "event_id long, epoch long, user_id long, value double"
    ).select(
        "event_id", F.timestamp_seconds("epoch").alias("ts"), "user_id", "value"
    ).coalesce(1).write.parquet(f"{src}/d1")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(f"{src}/*")
        q = (
            stateful_detect_stream_late(stream, w=w, k=k, reorder_seconds=0)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = (
        spark.read.parquet(outdir)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(rows)

    full = pd.DataFrame(
        [(e, u, v) for (e, _t, u, v) in rows],
        columns=["event_id", "user_id", "value"],
    ).sort_values(["user_id", "event_id"]).reset_index(drop=True)
    flags = []
    for _u, g in full.groupby("user_id"):
        s = g["value"]
        score = (s - s.rolling(w).mean()).abs() / s.rolling(w).std(ddof=1)
        flags.append(score.fillna(0) > k)
    want = pd.concat(flags).to_numpy()
    assert (got["is_anom"].to_numpy() == want).all()
    assert {u * 1000 + 40 for u in range(2)} <= set(
        got.loc[got["is_anom"], "event_id"].astype(int)
    )


def test_stateful_detect_late_data(spark, tmp_path):
    """Late-data detector (engine/streaming.py): an out-of-order event
    arriving in batch 2 but timestamped inside batch 1's tail must land in
    its correct window slot (scores == pandas oracle over the fully sorted
    series); an event older than the reorder window is emitted flagged
    is_late with NULL score, not silently dropped."""
    import numpy as np
    import pandas as pd

    from engine.streaming import stateful_detect_stream_late

    w, k, reorder = 12, 2.5, 30
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1704067200

    def mk(i):
        return float(100 + ((i * 17) % 11))

    # batch 1: t = 0..39 EXCEPT 25 (arrives late); batch 2: the late event
    # at t=25 (within reorder of batch-1 max 39), a spike at 55, and a
    # TOO-late event at t=2 (horizon after batch 1 = 39-30 = 9 > 2)
    b1 = [(i, t0 + i, 0, mk(i)) for i in range(40) if i != 25]
    b2 = [(25, t0 + 25, 0, 555.0), (2000 + 2, t0 + 2, 0, mk(2)),
          *[(i, t0 + i, 0, (500.0 if i == 55 else mk(i))) for i in range(40, 70)]]

    def write(rows, name):
        spark.createDataFrame(
            rows, "event_id long, epoch long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"), "user_id", "value"
        ).coalesce(1).write.parquet(f"{src}/{name}")

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(f"{src}/*")
        q = (
            stateful_detect_stream_late(stream, w=w, k=k, reorder_seconds=reorder)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write(b1, "d1")
    run()
    write(b2, "d2")
    run()
    got = spark.read.parquet(outdir).toPandas().sort_values("event_id").reset_index(drop=True)

    # too-late event: present, flagged, null score
    late_row = got[got["event_id"] == 2002]
    assert len(late_row) == 1
    assert bool(late_row["is_late"].iloc[0]) and not bool(late_row["is_anom"].iloc[0])
    assert np.isnan(late_row["score"].iloc[0])

    # emitted in-order rows: horizon after batch 2 = 69-30 = 39 -> events
    # t<=39 emitted, INCLUDING the late t=25 in its proper slot
    emitted = got[~got["is_late"]]
    assert set(emitted["event_id"]) == set(range(40))

    # oracle over the fully sorted series (t = 0..39)
    s = pd.Series([555.0 if i == 25 else mk(i) for i in range(40)])
    score = (s - s.rolling(w).mean()).abs() / s.rolling(w).std(ddof=1)
    want = (score.fillna(0) > k).to_numpy()
    em = emitted.sort_values("event_id")
    assert (em["is_anom"].to_numpy() == want).all()
    # the late spike itself must have fired
    assert bool(em[em["event_id"] == 25]["is_anom"].iloc[0])


def test_stateful_detect_in_order_event_in_the_last_emitted_second(spark, tmp_path):
    """At reorder_seconds=0, an event of a later batch that falls in the
    same second as the last emitted event, but after it in (ts, event_id)
    order, is in order: scored, not late. Events order by full-precision
    ts, then event_id, as the batch query's window does. Batch 1 is
    t0..t0+39; batch 2 a new event_id at t0+39 (a spike) and, at t0+40,
    two events whose sub-second order is the reverse of their event_id
    order."""
    import numpy as np
    import pandas as pd

    from engine.streaming import stateful_detect_stream_late

    w, k = 12, 2.5
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1704067200

    def mk(i):
        return float(100 + ((i * 17) % 11))

    b1 = [(i, t0 + i + 0.0, 0, mk(i)) for i in range(40)]
    b2 = [(1000, t0 + 39.0, 0, 500.0), (60, t0 + 40.25, 0, mk(41)), (50, t0 + 40.75, 0, mk(42))]

    def write(rows, name):
        spark.createDataFrame(
            rows, "event_id long, epoch double, user_id long, value double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"), "user_id", "value"
        ).coalesce(1).write.parquet(f"{src}/{name}")

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(f"{src}/*")
        q = (
            stateful_detect_stream_late(stream, w=w, k=k, reorder_seconds=0)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write(b1, "d1")
    run()
    write(b2, "d2")
    run()
    got = spark.read.parquet(outdir).toPandas().set_index("event_id")
    assert len(got) == len(b1) + len(b2)
    assert not got["is_late"].any()

    # pandas oracle over the whole series in (ts, event_id) order
    order = sorted(b1 + b2, key=lambda r: (r[1], r[0]))
    s = pd.Series([r[3] for r in order])
    score = (s - s.rolling(w).mean()).abs() / s.rolling(w).std(ddof=1)
    eids = [r[0] for r in order]
    np.testing.assert_allclose(got.loc[eids, "score"].to_numpy(), score.to_numpy(), rtol=1e-9)
    assert (got.loc[eids, "is_anom"].to_numpy() == (score.fillna(0) > k).to_numpy()).all()
    assert bool(got.loc[1000, "is_anom"])


def test_stream_detect_cli_end_to_end(spark, tmp_path):
    """jobs/stream_detect.py (round-3 verdict #8): the streaming leg is
    drivable from the CLI like rollup/retention — two REAL process
    invocations (kill/restart story: separate JVMs, shared checkpoint).
    Run 1 drains drop 1; run 2 (a restart) drains drop 2; the late event
    lands in its proper slot via state carried through the checkpoint and
    the too-late event comes out flagged, exactly as the in-process
    operator test above."""
    import subprocess
    import sys as _sys

    import numpy as np
    import pandas as pd

    w, k, reorder = 12, 2.5, 30
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1704067200

    def mk(i):
        return float(100 + ((i * 17) % 11))

    b1 = [(i, t0 + i, 0, mk(i)) for i in range(40) if i != 25]
    b2 = [(25, t0 + 25, 0, 555.0), (2000 + 2, t0 + 2, 0, mk(2)),
          *[(i, t0 + i, 0, (500.0 if i == 55 else mk(i))) for i in range(40, 70)]]

    def write(rows, name):
        spark.createDataFrame(
            rows, "event_id long, epoch long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"), "user_id", "value"
        ).coalesce(1).write.parquet(f"{src}/{name}")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run_cli():
        cmd = [
            _sys.executable, os.path.join(repo, "jobs", "stream_detect.py"),
            "--events", f"{src}/*", "--out", outdir, "--checkpoint", ckpt,
            "--w", str(w), "--k", str(k), "--reorder-seconds", str(reorder),
            "--master", "local[2]", "--timeout", "300",
        ]
        env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
        r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                           env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-3000:]
        assert "sink rows=" in r.stdout, r.stdout

    write(b1, "d1")
    run_cli()
    write(b2, "d2")
    run_cli()

    got = spark.read.parquet(outdir).toPandas().sort_values("event_id").reset_index(drop=True)
    late_row = got[got["event_id"] == 2002]
    assert len(late_row) == 1
    assert bool(late_row["is_late"].iloc[0])
    assert np.isnan(late_row["score"].iloc[0])
    emitted = got[~got["is_late"]]
    assert set(emitted["event_id"]) == set(range(40))
    s = pd.Series([555.0 if i == 25 else mk(i) for i in range(40)])
    score = (s - s.rolling(w).mean()).abs() / s.rolling(w).std(ddof=1)
    want = (score.fillna(0) > k).to_numpy()
    em = emitted.sort_values("event_id")
    assert (em["is_anom"].to_numpy() == want).all()
    assert bool(em[em["event_id"] == 25]["is_anom"].iloc[0])


def test_session_window_batch_stream_parity(spark, tmp_path):
    """Round-5 twin pin: q_user_sessions (batch F.session_window,
    DuckDB-oracled) equals the same session_window aggregate run as a
    Structured Streaming query (availableNow) over the same events
    fixture — the 'one call, both modes' claim in its docstring."""
    import shutil
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
    src = str(tmp_path / "events_sess")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "events.parquet"))
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("vsum"),
            F.unix_timestamp(F.min("ts")).cast("long").alias("first_ts"),
            F.unix_timestamp(F.max("ts")).cast("long").alias("last_ts"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sesswin")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["first_ts"]): (r["duration_s"], r["n_events"], r["vsum"])
        for r in spark.sql(
            "SELECT user_id, first_ts, last_ts - first_ts AS duration_s, "
            "n_events, vsum FROM sesswin"
        ).collect()
    }
    want = {
        (r["user_id"], r["first_ts"]): (r["duration_s"], r["n_events"], r["vsum"])
        for r in entrymod.queries()["user_sessions"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 100


def test_cusum_batch_stream_parity(spark, tmp_path):
    """Round-5 twin pin: cusum_stream (O(1)-state applyInPandasWithState,
    prefix-sum + running-min carried form) over TWO file drops with a
    checkpointed restart must be BIT-EXACT — raw doubles, no rounding —
    against the batch Lindley-identity window query (_cusum_raw) on the
    full series: the carried state makes the stream's seeded cumsum the
    same left fold the batch window runs end-to-end. Calibration (med,
    iqr) is the shared _cusum_params table, broadcast into the stream."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "value"
    )
    params = entrymod._cusum_params(ev).cache()
    params.count()

    # split at the global median ts: every user's drop-1 events precede
    # its drop-2 events (the non-decreasing batch-over-batch contract)
    t_split = ev.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)").cast("long").alias("t")
    ).collect()[0]["t"]
    src = str(tmp_path / "events_cusum")
    ckpt = str(tmp_path / "ckpt_cusum")
    outdir = str(tmp_path / "out_cusum")
    os.makedirs(src)

    from engine.streaming import cusum_stream

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(f"{src}/*")
        q = (
            cusum_stream(stream, params)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    ev.where(F.unix_timestamp("ts") < t_split).write.parquet(f"{src}/d1")
    run()
    ev.where(F.unix_timestamp("ts") >= t_split).write.parquet(f"{src}/d2")
    run()

    got = {
        r["event_id"]: (r["cpos"], r["cneg"], r["alarm"])
        for r in spark.read.parquet(outdir).collect()
    }
    want = {
        r["event_id"]: (r["_cpos"], r["_cneg"], r["alarm"])
        for r in entrymod._cusum_raw(ev).collect()
    }
    assert set(got) == set(want) and len(got) == ev.count()
    # bit-exact: direct float equality, no tolerance
    mismatches = [
        (eid, got[eid], want[eid]) for eid in want if got[eid] != want[eid]
    ]
    assert not mismatches, mismatches[:5]
    assert any(v[2] for v in want.values()), "fixture should raise some alarm"


def test_stream_detect_cli_cusum_mode(spark, tmp_path):
    """jobs/stream_detect.py --cusum (round 5): the streaming CUSUM is
    drivable from the CLI — calibration table written by the batch helper,
    one real process drains the drop, and the sink rows equal the batch
    Lindley query (_cusum_raw) bit-exactly on the same input."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "events")
    pdir = str(tmp_path / "params")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)
    ev.coalesce(1).write.parquet(f"{src}/d1")
    entrymod._cusum_params(ev).coalesce(1).write.parquet(pdir)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [
        _sys.executable, os.path.join(repo, "jobs", "stream_detect.py"),
        "--events", f"{src}/*", "--out", outdir, "--checkpoint", ckpt,
        "--cusum", pdir, "--master", "local[2]", "--timeout", "300",
    ]
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       env=dict(os.environ, SPARK_DRIVER_MEMORY="2g"),
                       timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "sink rows=" in r.stdout, r.stdout

    got = {
        rr["event_id"]: (rr["cpos"], rr["cneg"], rr["alarm"])
        for rr in spark.read.parquet(outdir).collect()
    }
    want = {
        rr["event_id"]: (rr["_cpos"], rr["_cneg"], rr["alarm"])
        for rr in entrymod._cusum_raw(ev).collect()
    }
    assert got == want


def test_psi_batch_stream_parity(spark, tmp_path):
    """Round-5 twin pin for the drift family: psi_stream over TWO file
    drops with a checkpointed restart, calibrated on the full fixture's
    pooled histogram, must end (last emitted row per type) within 6e-5 of
    the 4-dp batch q_psi_drift on the same data — the integer bin
    counters are carried exactly across the restart, so the only slack is
    the batch value's rounding plus float reordering in the 10-term sum.
    n_events must match exactly."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from engine.streaming import psi_stream

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    params = entrymod._psi_params(ev).cache()
    params.count()

    t_split = ev.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)").cast("long").alias("t")
    ).collect()[0]["t"]
    src = str(tmp_path / "events_psi")
    ckpt = str(tmp_path / "ckpt_psi")
    outdir = str(tmp_path / "out_psi")
    os.makedirs(src)

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        ).parquet(f"{src}/*")
        q = (
            psi_stream(stream, params)
            .writeStream.format("parquet")
            .option("path", outdir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    ev.where(F.unix_timestamp("ts") < t_split).write.parquet(f"{src}/d1")
    run()
    ev.where(F.unix_timestamp("ts") >= t_split).write.parquet(f"{src}/d2")
    run()

    out = spark.read.parquet(outdir).collect()
    # two emissions per type (one per drained drop); keep the final one
    last = {}
    for r in out:
        if (
            r["event_type"] not in last
            or r["n_events"] > last[r["event_type"]]["n_events"]
        ):
            last[r["event_type"]] = r
    want = {
        r["event_type"]: r
        for r in entrymod.q_psi_drift(spark, sf_dir).collect()
    }
    assert set(last) == set(want)
    for et, w in want.items():
        assert last[et]["n_events"] == w["n_events"], et
        assert abs(last[et]["psi"] - w["psi"]) < 6e-5, (
            et,
            last[et]["psi"],
            w["psi"],
        )
    # restart carried state: drop-2 emission reflects BOTH drops
    assert all(
        last[et]["n_events"] == want[et]["n_events"] for et in want
    )


def test_stream_detect_cli_psi_mode(spark, tmp_path):
    """jobs/stream_detect.py --psi (round 5): the streaming drift monitor
    is drivable from the CLI — calibration written by _psi_params, one
    real process drains the drop, and the sink's final per-type rows
    match batch q_psi_drift (exact n_events; psi within the 4-dp
    rounding slack)."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "events")
    pdir = str(tmp_path / "params")
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    os.makedirs(src)
    ev.coalesce(1).write.parquet(f"{src}/d1")
    entrymod._psi_params(ev).coalesce(1).write.parquet(pdir)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [
        _sys.executable, os.path.join(repo, "jobs", "stream_detect.py"),
        "--events", f"{src}/*", "--out", outdir, "--checkpoint", ckpt,
        "--psi", pdir, "--master", "local[2]", "--timeout", "300",
    ]
    r = subprocess.run(cmd, cwd=repo, capture_output=True, text=True,
                       env=dict(os.environ, SPARK_DRIVER_MEMORY="2g"),
                       timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]

    rows = spark.read.parquet(outdir).collect()
    last = {}
    for rr in rows:
        if (
            rr["event_type"] not in last
            or rr["n_events"] > last[rr["event_type"]]["n_events"]
        ):
            last[rr["event_type"]] = rr
    want = {
        rr["event_type"]: rr
        for rr in entrymod.q_psi_drift(spark, sf_dir).collect()
    }
    assert set(last) == set(want)
    for et, w in want.items():
        assert last[et]["n_events"] == w["n_events"], et
        assert abs(last[et]["psi"] - w["psi"]) < 6e-5, et


def test_psi_stream_cent_quantization_matches_batch_round(spark):
    """ADVICE r5: psi_stream quantizes cents with sign-aware
    floor(|v|*100 + 0.5) — HALF_UP, the same semantics as the batch
    twin's F.round(value*100) — not np.round's half-to-even. Pin the
    two spellings equal on exact-.5 cents (0.125 -> 13, not 12) and
    negatives (-0.125 -> -13), the cases the parity fixture avoids."""
    import numpy as np

    vals = [0.125, -0.125, 0.135, -0.135, 2.005, -2.005, 0.0, 1.0,
            0.124999, 12.345, -12.345, 0.005, -0.005]
    want = [
        r["c"]
        for r in spark.createDataFrame(
            [(v,) for v in vals], "value double"
        )
        .select(F.round(F.col("value") * 100).cast("long").alias("c"))
        .collect()
    ]
    v = np.asarray(vals, dtype=np.float64) * 100
    got = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    assert got.tolist() == want
