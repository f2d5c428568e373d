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

Beside it sit the three stateful event-stream detectors that
``jobs/stream_detect.py`` runs (``applyInPandasWithState``): the
trailing-window anomaly detector with a bounded reorder buffer, and the
CUSUM and PSI drift monitors, each pinned to its batch query.
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


def stateful_detect_stream_late(
    events_stream: DataFrame,
    w: int = 30,
    k: float = 3.0,
    reorder_seconds: int = 60,
    flush_after_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming anomaly detector (§2.10): the trailing-window
    detector (R1-R4 semantics: inclusive window w, min_periods=w, ddof=1,
    score = |v-ma|/sd, strict > k) running CONTINUOUSLY across
    micro-batches via ``applyInPandasWithState``, with a bounded reorder
    buffer for late data.

    Semantics — bounded out-of-order buffer, TSDB-style:
      - events are ordered by ``ts`` at full (microsecond) precision,
        then ``event_id`` — the batch query's window order
        (``__spark_entry__._scored_events``);
      - per user, events are HELD BACK until the user's high watermark
        (max ts seen) has advanced past ``ts + reorder_seconds``; held
        events are kept sorted in state, so any late event arriving within
        the reorder window lands in its correct window position before
        scoring. Output is therefore delayed by up to the reorder window
        but scored exactly as if the stream had been in order.
      - an event that sorts at or before the last emitted ``(ts,
        event_id)`` (its slot already emitted) cannot be retro-inserted:
        it is emitted immediately with ``is_late = true`` and a NULL
        score, never silently dropped. An event that sorts after it is
        in order, even in the same second.
      - ``flush_after_ms`` (ProcessingTimeTimeout) flushes a user's
        remaining buffer after that much processing-time silence — the
        stream-end story; None disables.

    State per user: O(w + events-in-reorder-window), plus the last emitted
    ``(ts, event_id)`` key. Scoring is a vectorized cumulative-sum kernel.
    Exactness vs the pandas oracle over the fully-ordered series is pinned
    by tests/test_streaming.py.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, value double, score double, "
        "is_anom boolean, is_late boolean"
    )
    state_schema = (
        "tail array<double>, buf_ts array<long>, buf_eid array<long>, "
        "buf_val array<double>, last_ts long, last_eid long"
    )

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            tail0, bts, beid, bval, last_ts, last_eid = state.get
            tail = np.asarray(tail0, dtype=np.float64)
            buf = (
                np.asarray(bts, dtype=np.int64),
                np.asarray(beid, dtype=np.int64),
                np.asarray(bval, dtype=np.float64),
            )
        else:
            tail = np.empty(0)
            buf = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
            last_ts = last_eid = -(2**62)

        chunks = [pdf for pdf in pdf_iter]
        uid = int(key[0])
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            ts = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            eid = pdf["event_id"].to_numpy(dtype=np.int64)
            val = pdf["value"].to_numpy(dtype=np.float64)
        else:
            ts = np.empty(0, np.int64)
            eid = np.empty(0, np.int64)
            val = np.empty(0)

        # events whose slot has already been emitted: flag, never insert
        too_late = (ts < last_ts) | ((ts == last_ts) & (eid <= last_eid))
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
            hi = int(all_ts.max()) if all_ts.size else last_ts
            horizon = hi - int(reorder_seconds) * 1_000_000
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
            last_ts, last_eid = int(all_ts[n_ready - 1]), int(all_eid[n_ready - 1])
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
                int(last_ts),
                int(last_eid),
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

    Ordering contract: all chunks of a key's batch are concatenated and
    sorted once by (ts, event_id); event time must be non-decreasing
    batch-over-batch (file-drop ingest).
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
