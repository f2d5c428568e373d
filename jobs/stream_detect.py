"""Drivable streaming anomaly detection (SURVEY.md §2.10; round-3 verdict
task #8): wires engine/streaming.py::stateful_detect_stream_late to a
file-source event stream with checkpointing, making the streaming leg a
first-class CLI like jobs/rollup.py / jobs/retention.py.

Run (sandbox):
    python jobs/stream_detect.py --events /tmp/ev-drops --out /tmp/anoms \
        --checkpoint /tmp/ckpt --reorder-seconds 60
Run (cluster):
    spark-submit --py-files engine.zip jobs/stream_detect.py ...

Semantics (engine/streaming.py docstring): per-user bounded out-of-order
buffer — events are scored exactly as if the stream were ordered, provided
they arrive within ``--reorder-seconds`` of the user's high watermark;
later arrivals are emitted immediately flagged ``is_late`` (never dropped).
Restart-safe: the state store lives in the checkpoint, so re-running the
same command resumes with window tails and hold-back buffers intact and
the file source never re-reads consumed drops (exactly-once output with
the parquet sink's transactional log). The detector's state holds the last
emitted ``(ts, event_id)`` key; a checkpoint whose state holds the older
``emitted_until`` second instead does not match that schema, so such a
stream must be restarted with a new checkpoint.

Default trigger is ``availableNow`` (drain pending drops, then exit) so
the job is drivable/testable; ``--follow`` switches to a continuous
micro-batch trigger for a long-running tail.

``--cusum PARAMS.parquet`` (round 5) swaps the detector for the O(1)-state
streaming CUSUM (engine/streaming.py::cusum_stream): PARAMS is the per-user
calibration table (user_id, med, iqr) written beforehand from a history
window — e.g. ``__spark_entry__._cusum_params(batch_df).write.parquet(...)``
— and is broadcast-joined into the stream. Output columns become
(user_id, event_id, cpos, cneg, alarm).

``--psi PARAMS.parquet`` (round 5) runs the streaming distribution-drift
monitor instead (engine/streaming.py::psi_stream): PARAMS is the
calibration table (event_type, lo, hi, ref, rtot) from
``__spark_entry__._psi_params(batch_df)``; the sink receives one
(event_type, n_events, psi) row per type per drained micro-batch — the
row with the highest n_events per type is the current drift level.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from engine.session import get_spark
from engine.streaming import stateful_detect_stream_late

EVENTS_DDL = "event_id long, ts timestamp, user_id bigint, value double"
PSI_EVENTS_DDL = (
    "event_id long, ts timestamp, user_id bigint, "
    "event_type string, value double"
)


def start_detect_stream(
    spark,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    w: int = 30,
    k: float = 3.0,
    reorder_seconds: int = 60,
    flush_after_ms: int | None = None,
    available_now: bool = True,
    trigger_seconds: int = 5,
    max_files_per_trigger: int = 64,
    cusum_params: str | None = None,
    cusum_h_mult: float = 5.0,
    psi_params: str | None = None,
):
    """Build and start the query; returns the StreamingQuery handle."""
    ddl = PSI_EVENTS_DDL if psi_params is not None else EVENTS_DDL
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    if psi_params is not None:
        from engine.streaming import psi_stream

        params = spark.read.parquet(psi_params)
        flagged = psi_stream(stream, params)
    elif cusum_params is not None:
        from engine.streaming import cusum_stream

        params = spark.read.parquet(cusum_params)
        flagged = cusum_stream(stream, params, h_mult=cusum_h_mult)
    else:
        flagged = stateful_detect_stream_late(
            stream, w=w, k=k, reorder_seconds=reorder_seconds,
            flush_after_ms=flush_after_ms,
        )
    writer = (
        flagged.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True,
                    help="directory of event parquet drops (file source)")
    ap.add_argument("--out", required=True, help="parquet sink directory")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--w", type=int, default=30)
    ap.add_argument("--k", type=float, default=3.0)
    ap.add_argument("--reorder-seconds", type=int, default=60)
    ap.add_argument("--flush-after-ms", type=int, default=None,
                    help="flush a user's hold-back buffer after this much "
                         "processing-time silence (stream-end story)")
    ap.add_argument("--cusum", default=None, metavar="PARAMS_PARQUET",
                    help="run the streaming CUSUM detector instead, "
                         "calibrated by this (user_id, med, iqr) table")
    ap.add_argument("--cusum-h-mult", type=float, default=5.0,
                    help="alarm threshold in IQR units (default 5)")
    ap.add_argument("--psi", default=None, metavar="PARAMS_PARQUET",
                    help="run the streaming PSI drift monitor instead, "
                         "calibrated by this _psi_params table")
    ap.add_argument("--follow", action="store_true",
                    help="run continuously instead of draining and exiting")
    ap.add_argument("--trigger-seconds", type=int, default=5)
    ap.add_argument("--timeout", type=int, default=None,
                    help="max seconds to await (with --follow: run window)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="stream-detect", master=args.master)
    q = start_detect_stream(
        spark, args.events, args.out, args.checkpoint,
        w=args.w, k=args.k, reorder_seconds=args.reorder_seconds,
        flush_after_ms=args.flush_after_ms,
        available_now=not args.follow, trigger_seconds=args.trigger_seconds,
        cusum_params=args.cusum, cusum_h_mult=args.cusum_h_mult,
        psi_params=args.psi,
    )
    if args.follow and args.timeout:
        q.awaitTermination(args.timeout)
        q.stop()
    else:
        q.awaitTermination(args.timeout) if args.timeout else q.awaitTermination()
    n = spark.read.parquet(args.out).count()
    print(f"stream-detect: sink rows={n} out={args.out}")


if __name__ == "__main__":
    main()
