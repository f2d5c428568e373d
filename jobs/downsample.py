"""Drivable downsample read path (SURVEY.md §2.8 / §3.2): Q1-Q5 from the
command line, completing the CLI surface (rollup = write, retention =
expiry, stream_detect = streaming, downsample = serve).

Run (sandbox):
    python jobs/downsample.py --warehouse /tmp/wh --epoch 1 \
        --resolution 3600 --t0 0 --t1 86400 --anomalies-only --out /tmp/q
    python jobs/downsample.py --warehouse /tmp/wh --epoch 1 --raw \
        --t0 120 --t1 600 --doc-ids d1,d2 --out /tmp/raw
Run (cluster):
    spark-submit --py-files engine.zip jobs/downsample.py ...

``--raw`` switches from the tier-aggregate form (resolution pick + tier
fallback + anomaly filter + range slice) to Q5 serve_raw_points — raw
points decoded from the 1m tier's compression payloads, never from the
token table. Output is parquet at --out (or a row-count/preview print when
--out is omitted — the smoke path).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from engine.io import ParquetManifestFormat
from engine.query import downsample, serve_raw_points, tier_fallback
from engine.schema import DEFAULT_N_BUCKETS
from engine.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--epoch", type=int, default=1)
    ap.add_argument("--resolution", type=int, default=3600,
                    help="requested resolution in seconds (Q1 picks the tier)")
    ap.add_argument("--t0", type=int, default=None)
    ap.add_argument("--t1", type=int, default=None)
    ap.add_argument("--doc-ids", default=None, help="comma-separated filter")
    ap.add_argument("--anomalies-only", action="store_true")
    ap.add_argument("--raw", action="store_true",
                    help="serve RAW points from 1m payloads (Q5) instead of "
                         "tier aggregates")
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    ap.add_argument("--out", default=None, help="parquet output dir")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="downsample-query", master=args.master)
    fmt = ParquetManifestFormat(spark, args.warehouse)
    doc_ids = args.doc_ids.split(",") if args.doc_ids else None
    if args.raw:
        r1m = tier_fallback(spark, fmt, "1m", args.epoch, args.n_buckets, doc_ids)
        df = serve_raw_points(r1m, t0=args.t0, t1=args.t1, doc_ids=doc_ids)
    else:
        df = downsample(
            spark, fmt, args.epoch,
            doc_ids=doc_ids, t0=args.t0, t1=args.t1,
            resolution_seconds=args.resolution,
            anomalies_only=args.anomalies_only,
            n_buckets=args.n_buckets,
        )
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        n = df.count()
    print(f"downsample: rows={n}" + (f" out={args.out}" if args.out else ""))


if __name__ == "__main__":
    main()
