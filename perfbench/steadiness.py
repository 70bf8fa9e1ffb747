"""Steadiness record: run each workload on several seeds and store, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median, as ``statistics.quantiles(values, n=4)`` gives
them).

    python3 perfbench/steadiness.py [--runs 10] [--seconds 24] [workload ...]

Runs are sequential, one process each, seeds 1..runs. The record is
written to ``perfbench/steadiness.json`` (merged per workload) together
with the host canary samples of every run; the bounds in BENCHMARK.json
are set from these spreads.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
RECORD = BENCH / "steadiness.json"
WORKLOADS = ("live_cdc", "backfill", "analytics")


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def run_one(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    report = json.loads(
        (BENCH.parent / ".perfbench_runs" / f"{workload}-s{seed}-t{trace}.json").read_text()
    )
    return {"seed": seed, "wall_s": wall, "result": res, "canary": report["canary"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    record = json.loads(RECORD.read_text()) if RECORD.exists() else {}
    for w in args.workloads:
        runs = []
        for seed in range(1, args.runs + 1):
            r = run_one(w, seed, args.seconds)
            runs.append(r)
            print(w, seed, f"{r['wall_s']:.1f}s", json.dumps(r["result"]), flush=True)
        names = list(runs[0]["result"]["metrics"])
        record[w] = {
            "runs": len(runs),
            "seconds": args.seconds,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "wall_s": spread([r["wall_s"] for r in runs]),
            "metrics": {
                m: {
                    **spread([r["result"]["metrics"][m]["value"] for r in runs]),
                    "unit": runs[0]["result"]["metrics"][m]["unit"],
                    "values": [r["result"]["metrics"][m]["value"] for r in runs],
                }
                for m in names
            },
            "canary_s": [r["canary"]["samples_s"] for r in runs],
        }
        for m, s in record[w]["metrics"].items():
            print(f"  {m}: median {s['median']:.4g} spread {s['spread']:.3f}")
        RECORD.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
