"""Structured Streaming ingest (SURVEY.md §2.10 made concrete).

The north rule is batch-incremental — lineage (L1-L3) is the state story —
so streaming mode is a thin shell: a file-source stream of token parquet
drops, where every micro-batch runs the SAME rollup pipeline through
``foreachBatch`` with ``checkpoint_epoch = batch_id``. That gives:

  - exactly-once tiers: Structured Streaming's checkpoint dedupes batch
    replays at the source; within a batch, the lineage protocol dedupes
    partition recomputation (a replayed batch_id finds its lineage rows and
    skips everything);
  - the stream and batch paths share 100% of the operator code — no
    second implementation to drift.

For event-time analytics over a true event stream (watermarks, sliding
windows), see ``windowed_event_counts`` below — the standard
watermark + window form, kept UDF-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.schema import TOKENS_SCHEMA


def stream_tokens(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of token parquet drops (new files = new data)."""
    return (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def start_rollup_stream(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **rollup_kwargs,
):
    """Micro-batch rollup: each batch runs every rollup tier with
    epoch = batch_id (lineage-deduped, kill-safe — see module docstring)."""
    from jobs.rollup import run_rollup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # merge_docs: accumulate across micro-batches — a batch must never
        # evict earlier batches' docs from shared part_hash partitions
        rollup_kwargs.setdefault("merge_docs", True)
        run_rollup(
            spark, batch_df, warehouse, epoch=int(batch_id), **rollup_kwargs
        )

    writer = (
        stream_tokens(spark, input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_detect_stream(
    events_stream: DataFrame,
    w: int = 30,
    k: float = 3.0,
) -> DataFrame:
    """Custom stateful streaming operator (§2.10): the trailing-window
    anomaly detector (R1-R4 semantics: inclusive window w, min_periods=w,
    ddof=1, score = |v-ma|/sd, strict > k) running CONTINUOUSLY across
    micro-batches via ``applyInPandasWithState``.

    State per user = the last w-1 values (the window tail), so an event
    early in batch N+1 is scored against a window that reaches back into
    batch N — a batch-at-a-time recompute cannot do this without re-reading
    history. The kernel is vectorized NumPy over Arrow batches (cumulative
    sums, no per-row Python); state stays O(w) per key and survives
    restarts through the streaming state store.

    Within a batch, rows are ordered by (ts, event_id); correctness across
    batches assumes event time is non-decreasing batch-over-batch (the
    file-drop ingest pattern). Late data needs a watermark + buffer
    variant, out of scope per SURVEY.md §2.10.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, value double, score double, is_anom boolean"
    )
    state_schema = "tail array<double>"

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        tail = np.array(state.get[0], dtype=np.float64) if state.exists else np.empty(0)
        # applyInPandasWithState delivers ONE KEY's batch rows as MULTIPLE
        # Arrow chunks with no global order guarantee (chunk size follows
        # arrow.maxRecordsPerBatch). Sorting each chunk independently
        # (round-2 bug, ADVICE r02) mis-windows any batch larger than one
        # chunk — so concatenate all chunks, sort ONCE, run the kernel once.
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:
            state.update((tail.tolist(),))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy(dtype=np.float64)
        buf = np.concatenate([tail, vals])
        n0 = buf.size - vals.size
        c1 = np.concatenate([[0.0], np.cumsum(buf)])
        c2 = np.concatenate([[0.0], np.cumsum(buf * buf)])
        pos = np.arange(n0, buf.size)  # absolute index of each new point
        full = pos + 1 >= w
        lo = np.where(full, pos + 1 - w, 0)
        s = c1[pos + 1] - c1[lo]
        ss = c2[pos + 1] - c2[lo]
        ma = s / w
        var = np.maximum(ss - s * s / w, 0.0) / (w - 1)
        sd = np.sqrt(var)
        with np.errstate(divide="ignore", invalid="ignore"):
            score = np.abs(vals - ma) / sd
        score = np.where(full & (sd > 0), score, np.nan)
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "value": vals,
                "score": score,
                "is_anom": np.nan_to_num(score, nan=0.0) > k,
            }
        )
        tail = buf[-(w - 1):] if w > 1 else np.empty(0)
        state.update((tail.tolist(),))
        yield out

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stateful_detect_stream_late(
    events_stream: DataFrame,
    w: int = 30,
    k: float = 3.0,
    reorder_seconds: int = 60,
    flush_after_ms: int | None = None,
) -> DataFrame:
    """Late-data variant of :func:`stateful_detect_stream` (round-2 gap:
    the plain operator assumes event time is non-decreasing across
    batches).

    Semantics — bounded out-of-order buffer, TSDB-style:
      - per user, events are HELD BACK until the user's high watermark
        (max ts seen) has advanced past ``ts + reorder_seconds``; held
        events are kept sorted in state, so any late event arriving within
        the reorder window lands in its correct window position before
        scoring. Output is therefore delayed by up to the reorder window
        but scored exactly as if the stream had been in order.
      - an event arriving LATER than the reorder window (its slot already
        emitted) cannot be retro-inserted: it is emitted immediately with
        ``is_late = true`` and a NULL score, never silently dropped.
      - ``flush_after_ms`` (ProcessingTimeTimeout) flushes a user's
        remaining buffer after that much processing-time silence — the
        stream-end story; None disables.

    State per user: O(w + events-in-reorder-window). Scoring reuses the
    vectorized cumulative-sum kernel. Exactness vs the pandas oracle over
    the fully-ordered series is pinned by tests/test_streaming.py.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, value double, score double, "
        "is_anom boolean, is_late boolean"
    )
    state_schema = (
        "tail array<double>, buf_ts array<long>, buf_eid array<long>, "
        "buf_val array<double>, emitted_until long"
    )

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            tail0, bts, beid, bval, emitted_until = state.get
            tail = np.asarray(tail0, dtype=np.float64)
            buf = (
                np.asarray(bts, dtype=np.int64),
                np.asarray(beid, dtype=np.int64),
                np.asarray(bval, dtype=np.float64),
            )
        else:
            tail = np.empty(0)
            buf = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
            emitted_until = -(2**62)

        chunks = [pdf for pdf in pdf_iter]
        uid = int(key[0])
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            ts = (pdf["ts"].astype("int64") // 10**9).to_numpy()
            eid = pdf["event_id"].to_numpy(dtype=np.int64)
            val = pdf["value"].to_numpy(dtype=np.float64)
        else:
            ts = np.empty(0, np.int64)
            eid = np.empty(0, np.int64)
            val = np.empty(0)

        # events whose slot has already been emitted: flag, never insert
        too_late = ts < emitted_until
        late_out = (eid[too_late], val[too_late])
        ts, eid, val = ts[~too_late], eid[~too_late], val[~too_late]

        # merge new events into the sorted hold-back buffer
        all_ts = np.concatenate([buf[0], ts])
        all_eid = np.concatenate([buf[1], eid])
        all_val = np.concatenate([buf[2], val])
        order = np.lexsort((all_eid, all_ts))
        all_ts, all_eid, all_val = all_ts[order], all_eid[order], all_val[order]

        flushing = bool(getattr(state, "hasTimedOut", False)) or (
            chunks == [] and flush_after_ms is not None
        )
        if flushing:
            horizon = 2**62  # emit everything
        else:
            hi = int(all_ts.max()) if all_ts.size else emitted_until
            horizon = hi - int(reorder_seconds)
        ready = all_ts <= horizon
        n_ready = int(np.count_nonzero(ready))

        outs = []
        if n_ready:
            vals = all_val[:n_ready]
            buf2 = np.concatenate([tail, vals])
            n0 = buf2.size - vals.size
            c1 = np.concatenate([[0.0], np.cumsum(buf2)])
            c2 = np.concatenate([[0.0], np.cumsum(buf2 * buf2)])
            pos = np.arange(n0, buf2.size)
            full = pos + 1 >= w
            lo = np.where(full, pos + 1 - w, 0)
            s = c1[pos + 1] - c1[lo]
            ss = c2[pos + 1] - c2[lo]
            ma = s / w
            sd = np.sqrt(np.maximum(ss - s * s / w, 0.0) / (w - 1))
            with np.errstate(divide="ignore", invalid="ignore"):
                score = np.abs(vals - ma) / sd
            score = np.where(full & (sd > 0), score, np.nan)
            outs.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(n_ready, uid, dtype=np.int64),
                        "event_id": all_eid[:n_ready],
                        "value": vals,
                        "score": score,
                        "is_anom": np.nan_to_num(score, nan=0.0) > k,
                        "is_late": np.zeros(n_ready, dtype=bool),
                    }
                )
            )
            tail = buf2[-(w - 1):] if w > 1 else np.empty(0)
            emitted_until = int(all_ts[n_ready - 1]) + 1
        if late_out[0].size:
            outs.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(late_out[0].size, uid, dtype=np.int64),
                        "event_id": late_out[0],
                        "value": late_out[1],
                        "score": np.full(late_out[0].size, np.nan),
                        "is_anom": np.zeros(late_out[0].size, dtype=bool),
                        "is_late": np.ones(late_out[0].size, dtype=bool),
                    }
                )
            )

        state.update(
            (
                tail.tolist(),
                all_ts[n_ready:].tolist(),
                all_eid[n_ready:].tolist(),
                all_val[n_ready:].tolist(),
                int(emitted_until),
            )
        )
        if flush_after_ms is not None and not flushing:
            state.setTimeoutDuration(int(flush_after_ms))
        yield from outs

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_after_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding aggregate with late-data watermark —
    the §2.10 mapping (tumbling/sliding = window(); late data =
    withWatermark). Pure built-ins."""
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum("value").alias("vsum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id", "cnt", "vmin", "vmax", "vsum",
        )
    )


def cusum_stream(
    events_stream: DataFrame,
    params: DataFrame,
    h_mult: float = 5.0,
) -> DataFrame:
    """Streaming two-sided CUSUM drift detector — the stateful twin of the
    batch Lindley-identity query (__spark_entry__.py::_cusum_raw), pinned
    bit-exactly to it by test_streaming's parity test.

    ``params`` is the static per-user calibration table (user_id, med,
    iqr) from __spark_entry__._cusum_params — a stream-static broadcast
    join, the production shape: reference level and drift units come from
    a calibration window, never from the live stream. State per user is
    O(1): the two prefix sums and their running minima (sp, mp, sn, mn).
    The kernel carries the batch form S_t - min(0, min_j S_j) instead of
    the max(0, s+d) recursion so every floating-point operation (a
    sequential cumsum and a running min, both seeded from state) matches
    the batch window plan's sequential fold EXACTLY — cross-batch results
    are bit-equal to the batch query over the concatenated series, which a
    reset-form recursion would not be (a reset re-anchors the sum and
    rounds differently).

    Same ordering contract as stateful_detect_stream: all chunks of a
    key's batch are concatenated and sorted once by (ts, event_id);
    event time must be non-decreasing batch-over-batch (file-drop
    ingest); late data belongs to the watermark variant.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, cpos double, cneg double, alarm boolean"
    )
    state_schema = "sp double, mp double, sn double, mn double"
    joined = events_stream.join(F.broadcast(params), "user_id")

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        sp0, mp0, sn0, mn0 = state.get if state.exists else (0.0, 0.0, 0.0, 0.0)
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:
            state.update((sp0, mp0, sn0, mn0))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy(dtype=np.float64)
        med = pdf["med"].to_numpy(dtype=np.float64)
        iqr = pdf["iqr"].to_numpy(dtype=np.float64)
        # identical expression order to the batch columns: (v - med) - iqr
        dp = vals - med - iqr
        dn = med - vals - iqr
        # np.cumsum / minimum.accumulate are strictly sequential left
        # folds; seeding with the carried state reproduces the one long
        # fold the batch window runs over the full series
        sp = np.cumsum(np.concatenate([[sp0], dp]))[1:]
        sn = np.cumsum(np.concatenate([[sn0], dn]))[1:]
        mp = np.minimum.accumulate(np.concatenate([[mp0], sp]))[1:]
        mn = np.minimum.accumulate(np.concatenate([[mn0], sn]))[1:]
        # mp0 starts at 0.0, so mp == min(0, min_j S_j) == the batch's
        # least(0, min-over-window)
        cpos = sp - mp
        cneg = sn - mn
        alarm = (cpos > h_mult * iqr) | (cneg > h_mult * iqr)
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "cpos": cpos,
                "cneg": cneg,
                "alarm": alarm,
            }
        )
        state.update(
            (float(sp[-1]), float(mp[-1]), float(sn[-1]), float(mn[-1]))
        )
        yield out

    return joined.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def psi_stream(
    events_stream: DataFrame,
    params: DataFrame,
    nbins: int = 10,
) -> DataFrame:
    """Streaming Population Stability Index — the stateful twin of the
    batch drift query (__spark_entry__.py::q_psi_drift): per event_type,
    the PSI of the stream's CUMULATIVE value distribution against a
    static calibration histogram, re-emitted after every micro-batch (the
    model-monitoring shape: live traffic vs training-time reference; a
    rising curve is the drift alarm).

    ``params`` is the static calibration table from
    __spark_entry__._psi_params — (event_type, lo, hi, ref: array<long>,
    rtot) — broadcast into the stream like cusum_stream's calibration:
    bin edges and reference mass come from a calibration window, never
    from the live stream. State per key is the nbins int64 bin counters
    (array<long> state column), O(nbins) regardless of stream length.
    Counting is EXACT integer accumulation, so when the calibration
    histogram is the pooled histogram of the same data the final per-type
    PSI equals the batch query's to float reordering (≈1e-15; pinned in
    test_streaming at 6e-5 against the 4-dp batch value). Stream values
    outside the calibration range clip into the edge bins (documented
    production behavior; a no-op under the parity fixture where lo/hi
    are the data's own extrema).

    Same ingest contract as the other stateful ops: file-drop source,
    availableNow drains, checkpointed restart carries the counters.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "event_type string, n_events long, psi double"
    state_schema = "cnt array<long>"
    joined = events_stream.join(F.broadcast(params), "event_type")

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        cnt = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(nbins, dtype=np.int64)
        )
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:
            state.update((cnt.tolist(),))
            return
        pdf = pd.concat(chunks, ignore_index=True)
        # HALF_UP (away from zero), matching the batch twin's
        # F.round(value*100) — np.round is half-to-even and would bin
        # exact-.5 cents differently stream-vs-batch.
        v = pdf["value"].to_numpy(np.float64) * 100
        c = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
        lo = int(pdf["lo"].iloc[0])
        hi = int(pdf["hi"].iloc[0])
        b = (c - lo) * nbins // (hi - lo + 1)
        b = np.clip(b, 0, nbins - 1)
        cnt = cnt + np.bincount(b, minlength=nbins)
        ref = np.asarray(pdf["ref"].iloc[0], dtype=np.float64)
        rtot = float(pdf["rtot"].iloc[0])
        n = float(cnt.sum())
        # identical smoothing spelling to the batch query
        p = (cnt + 1.0) / (n + float(nbins))
        q = (ref + 1.0) / (rtot + float(nbins))
        psi = float(np.sum((p - q) * np.log(p / q)))
        state.update((cnt.tolist(),))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [int(cnt.sum())],
                "psi": [psi],
            }
        )

    return joined.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def dedup_stream(
    events_stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once event dedup on an unbounded stream —
    ``dropDuplicatesWithinWatermark``: keep the first arrival per key and
    drop re-deliveries that land within the event-time watermark (the
    at-least-once-source -> exactly-once-sink repair every ingest
    pipeline needs). Batch twin: ``SELECT DISTINCT`` / first-per-key over
    the same key set (pinned in test_streaming).

    vs plain ``dropDuplicates`` on a stream: that keeps EVERY key seen
    forever (unbounded state); the WithinWatermark form evicts a key's
    state once the watermark passes its event time, so state is bounded
    by (dup horizon x arrival rate) — the only shape that survives at
    100 TB/day ingest. Keys default to the natural event identity
    ``event_id``. Pure built-in operator; one stateful exchange on the
    dedup keys.
    """
    return events_stream.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(keys or ["event_id"])


def latest_state_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming CDC compaction — the stateful twin of the batch
    ``q_latest_state`` serving view (round 6): per user, the single most
    recent event by the deterministic (ts, event_id) recency order,
    carried as O(1) state across micro-batches and checkpointed
    restarts. Each micro-batch that touches a key APPENDS that key's
    current state row, so the sink compacts to the serving table by
    keeping each key's max-(last_ts_us, last_event_id) row — exactly
    what a foreachBatch MERGE upsert sink does, and exactly the batch
    first-row-window plan's answer (parity pinned in test_streaming).

    Recency compares the integer (microsecond, event_id) tuple — never
    a float, never a wall clock — so same-timestamp ties cannot flap
    between batch and stream or across a restart. ``value`` is emitted
    RAW (the batch query's 4-dp rounding is presentational; the parity
    test applies Spark's own round to both sides). State per user is
    one 4-field record; the only stateful exchange keys on user_id —
    the same bounded-state contract as cusum_stream.

    Ordering contract: none needed within a batch (the argmax scans all
    chunks), and cross-batch correctness needs no event-time ordering
    either — an out-of-order LATE event simply loses the (ts, event_id)
    comparison, matching the batch semantics over the full log.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, last_event_id long, last_type string, "
        "last_value double, last_ts_us long"
    )
    state_schema = "ts_us long, event_id long, event_type string, value double"

    def fn(key, pdf_iter, state):
        import pandas as pd

        best = tuple(state.get) if state.exists else None
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            pdf = pdf.assign(_ts_us=ts_us)
            row = pdf.sort_values(["_ts_us", "event_id"]).iloc[-1]
            cand = (
                int(row["_ts_us"]),
                int(row["event_id"]),
                str(row["event_type"]),
                float(row["value"]),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "last_event_id": [best[1]],
                    "last_type": [best[2]],
                    "last_value": [best[3]],
                    "last_ts_us": [best[0]],
                }
            )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def interval_pair_stream(
    a_stream: DataFrame,
    b_stream: DataFrame,
    interval_s: int = 60,
    watermark: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM interval self-join — the remaining §2.10 join
    surface: same-user event pairs with b.ts in (a.ts, a.ts+interval],
    exactly the batch q_event_pairs_within_minute predicate (pinned to
    it in test_streaming). Both sides carry event-time watermarks and
    the join condition bounds b_ts relative to a_ts on BOTH ends, so
    Spark can size the join state and EVICT rows once the watermark
    passes a_ts + interval — the only stream-stream join shape whose
    state is bounded at 100 TB/day (an unbounded-range condition would
    buffer each side forever). Emits the joined pairs append-mode; any
    aggregation belongs downstream (or in batch on the sink)."""
    a = a_stream.select(
        "user_id",
        F.col("event_id").alias("a_event_id"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", watermark)
    b = b_stream.select(
        F.col("user_id").alias("b_user_id"),
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", watermark)
    return a.join(
        b,
        F.expr(
            f"user_id = b_user_id AND b_ts > a_ts "
            f"AND b_ts <= a_ts + interval {int(interval_s)} seconds"
        ),
    ).select("user_id", "a_event_id", "b_event_id", "a_ts", "b_ts")


def flatline_stream(events_stream: DataFrame, flat_min: int = 5) -> DataFrame:
    """Streaming stuck-sensor alarm — the stateful twin of the batch
    ``q_flatline_runs`` gaps-and-islands census (round 6). The batch
    query reports the COMPLETED-run census; this fires in real time on
    the ``flat_min``-th consecutive identical reading, per user, with
    O(1) state: (current run's cents value, its length so far). Emits
    one row per event carrying the run length ENDING at that event and
    the is_flat flag — the append log's per-event run lengths equal the
    batch window count over the run id exactly, across restarts,
    because run identity is pure integer equality on HALF_UP cents (the
    psi_stream rounding discipline; no float accumulates in state).

    Ordering contract as stateful_detect_stream / cusum_stream: all
    chunks of a key's batch are concatenated and sorted once by
    (ts, event_id); event time must be non-decreasing batch-over-batch
    (file-drop ingest); late data belongs to a watermark variant.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, cents long, run_len long, "
        "is_flat boolean"
    )
    state_schema = "cur long, run long"

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        cur0, run0 = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:
            state.update((int(cur0), int(run0)))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        v = pdf["value"].to_numpy(np.float64) * 100
        # HALF_UP (away from zero) — matches batch F.round(value*100)
        c = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
        n = len(c)
        idx = np.arange(n)
        brk = np.ones(n, dtype=bool)
        brk[1:] = c[1:] != c[:-1]
        carried = run0 > 0 and c[0] == cur0
        # run lengths within the batch: distance to the last break,
        # then the carried prefix extends every row of the FIRST run
        run_start = np.maximum.accumulate(np.where(brk, idx, -1))
        run_len = (idx - run_start + 1).astype(np.int64)
        if carried:
            run_len[run_start == 0] += run0
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "cents": c,
                "run_len": run_len,
                "is_flat": run_len >= flat_min,
            }
        )
        state.update((int(c[-1]), int(run_len[-1])))
        yield out

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def burn_stream(events_stream: DataFrame, factor: int = 2) -> DataFrame:
    """Streaming error-budget burn-rate alert — the causal twin of the
    batch q_error_burn (__spark_entry__.py X82), re-anchored for a
    stream: the batch op compares the trailing hour to the series'
    ALL-TIME error share (it can see the whole corpus); a stream cannot,
    so this emits one row per CLOSED utc-hour per user with the hour's
    error share compared to the series' cumulative share up to and
    including that hour (the prefix baseline — every number the row
    reports was knowable at emission time). The page decision is the
    same EXACT INTEGER cross-multiplication as the batch op
    (e_h·cum_n ≥ factor·n_h·cum_e — no float boundary), so stream and
    reference can never disagree on a flag.

    State per user is O(1) whatever the series length: the OPEN hour's
    (hour, n, e) plus the closed-prefix totals (cum_n, cum_e). An hour
    closes when a strictly later hour appears for that user; the open
    hour is never emitted (a half-observed hour would alert on partial
    data — the multi-window SRE rule evaluates complete windows).
    Ordering contract as cusum_stream: chunks concatenated and sorted
    by (ts, event_id); event time non-decreasing batch-over-batch
    (file-drop ingest); late data belongs to the watermark variants.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, hour long, n long, n_err long,"
        " cum_n long, cum_err long, burning boolean"
    )
    state_schema = "open_h long, open_n long, open_e long, cum_n long, cum_e long"

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        open_h, open_n, open_e, cum_n, cum_e = (
            state.get if state.exists else (-1, 0, 0, 0, 0)
        )
        chunks = [pdf for pdf in pdf_iter]
        if not chunks:
            state.update((open_h, open_n, open_e, cum_n, cum_e))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        # unit-robust: datetime64 -> whole seconds regardless of whether
        # pandas hands the column over as ns- or us-resolution
        secs = pdf["ts"].to_numpy(dtype="datetime64[s]").astype(np.int64)
        hrs = secs // 3600
        errs = (pdf["event_type"].to_numpy() == "error").astype(np.int64)
        g = (
            pd.DataFrame({"h": hrs, "e": errs})
            .groupby("h", sort=True)
            .agg(n=("e", "size"), e=("e", "sum"))
        )
        hs = g.index.to_numpy(dtype=np.int64)
        ns = g["n"].to_numpy(dtype=np.int64)
        es = g["e"].to_numpy(dtype=np.int64)
        if open_h >= 0:
            if hs[0] == open_h:
                ns[0] += open_n
                es[0] += open_e
            else:
                hs = np.concatenate([[open_h], hs])
                ns = np.concatenate([[open_n], ns])
                es = np.concatenate([[open_e], es])
        # everything but the LAST hour closes; it becomes the new open
        ch, cn, ce = hs[:-1], ns[:-1], es[:-1]
        if len(ch):
            run_n = cum_n + np.cumsum(cn)
            run_e = cum_e + np.cumsum(ce)
            burning = ce * run_n >= factor * cn * run_e
            # an error-free prefix has nothing to burn: flag NULL, the
            # batch op's (et > 0) guard
            burn_col = pd.array(burning, dtype="boolean")
            burn_col[run_e == 0] = pd.NA
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(ch), key[0], dtype=np.int64),
                    "hour": ch,
                    "n": cn,
                    "n_err": ce,
                    "cum_n": run_n,
                    "cum_err": run_e,
                    "burning": burn_col,
                }
            )
            cum_n, cum_e = int(run_n[-1]), int(run_e[-1])
        state.update((int(hs[-1]), int(ns[-1]), int(es[-1]), cum_n, cum_e))

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
