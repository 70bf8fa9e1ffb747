"""Traced-run report.

    python3 perfbench/trace_report.py [--seconds 24] [--seed 101] [workload ...]

Makes one traced run per workload and writes ``perfbench/trace_report.json``
with, per workload:

- the tracing overhead: each end-to-end metric of the traced run minus the
  untraced median stored in ``steadiness.json`` (and as a share of it);
- the workload's layer metrics and the span self times of the traced run;
- for ``analytics``, per entry, the share of warm wall time covered by
  stage time plus planning, and the entries under ``COVERAGE_FLOOR``.
"""

from __future__ import annotations

import argparse
import json

from steadiness import BENCH, RECORD, WORKLOADS, run_one

REPORT = BENCH / "trace_report.json"
COVERAGE_FLOOR = 0.9


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    steady = json.loads(RECORD.read_text())
    out = json.loads(REPORT.read_text()) if REPORT.exists() else {}
    for w in args.workloads:
        run_one(w, args.seed, args.seconds, trace=1)
        rep = json.loads((BENCH.parent / ".perfbench_runs" / f"{w}-s{args.seed}-t1.json").read_text())
        overhead = {}
        for m, traced in rep["end_to_end"].items():
            base = steady[w]["metrics"][m]["median"]
            overhead[m] = {"traced": traced, "untraced_median": base,
                           "delta": traced - base, "share": (traced - base) / base}
        entry = {"seed": args.seed, "correct": rep["correct"], "overhead": overhead,
                 "layers": rep["layers"], "self_s": rep.get("self_s", {})}
        cov = rep["layers"].get("coverage")
        if cov:
            entry["coverage_gaps"] = {n: v for n, v in cov.items() if v < COVERAGE_FLOOR}
        out[w] = entry
        print(w, json.dumps({m: round(o["share"], 3) for m, o in overhead.items()}), flush=True)
        REPORT.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
