"""Run the benchmark over several seeds and report each end-to-end metric's
median and spread (interquartile range over median) against its bound.

    python3 perfbench/spread.py --workload bulk_ingest --seeds 1-10 \\
        [--out perfbench/out/set-a.json]

Runs one seed at a time from the repository root; a run that fails or
prints no result is reported and counted, not retried.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = spec["run_seconds"]
    runs = []
    for seed in args.seeds:
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(secs), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=600)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}, no result", flush=True)
            runs.append({"seed": seed, "wall_s": wall, "result": None})
            continue
        res = json.loads(lines[-1])
        rec = json.loads(lines[-2])  # the full record: keep the per-op samples
        runs.append({"seed": seed, "wall_s": wall, "result": res,
                     "samples_s": rec["samples_s"], "cpu_s": rec["cpu_s"],
                     **{f: {k: [d[f] for d in v] for k, v in rec["host_per_op"].items()}
                        for f in ("jvm_cpu_s", "steal_s")}})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} {vals}", flush=True)
    ok = [r["result"] for r in runs if r["result"]]
    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(vals) < 2:
            continue
        med, sp = spread(vals)
        summary[m["name"]] = {"median": med, "spread": sp, "bound": m["bound"],
                              "within_third": sp < m["bound"] / 3}
        print(f"{m['name']:>24}: median {med:.4g}  spread {sp:.3f}  "
              f"bound {m['bound']}  {'ok' if sp < m['bound'] / 3 else 'WIDE'}")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "seconds": secs, "runs": runs,
             "summary": summary}, indent=1))
    return 0 if len(ok) == len(runs) and all(r["correct"] for r in ok) else 1


if __name__ == "__main__":
    sys.exit(main())
