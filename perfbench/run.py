"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_cdc --seed 1 --seconds 10 --trace 0

Runs ``local[nproc]`` in this process. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns on the Spark event log and the span wrappers
and prints the per-layer metrics instead. Either way a full report (every
layer metric of the workload, host canary samples, span self times) is
written to ``.perfbench_runs/`` in the checkout. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
import tracing  # noqa: E402

#: workload -> fixture scale under perfbench/data.
WORKLOADS = {"live_cdc": "sf0.1", "backfill": "sf0.01", "analytics": "sf0.01"}

#: End-to-end metrics every workload reports (name -> unit).
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "request_p50_s": "s"}

#: Per-layer metrics every workload reports in a traced run (name -> unit).
#: Workload-specific layer metrics go to the report file.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms",
    "spark.wait_frac": "ratio",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.codegen_compiles": "count",
    "spark.codegen_ms": "ms",
    "mem.peak_rss_mb": "MB",
}

RUNS = common.ROOT / ".perfbench_runs"


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    sf_dir: str
    scale: str
    work: Path
    tracer: object


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="fixture dir under perfbench/data (default per workload)")
    args = ap.parse_args(argv)
    args.scale = args.scale or WORKLOADS[args.workload]

    sf_dir = common.DATA_ROOT / args.scale
    if not (sf_dir / "events.parquet").exists():
        print(f"no fixture at {sf_dir}", file=sys.stderr)
        return 2
    work = common.prepare_work()
    from kafka_exercise_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench", extra_conf=common.session_conf(work, event_log=bool(args.trace))
    )
    tracer = tracing.NULL
    try:
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        common.warmup(spark)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS

        if args.trace:
            tracer = tracing.Tracer(f"{args.workload}-s{args.seed}", spark)
            tracer.install()
        codegen = tracing.CodegenCounters(spark)
        cg0 = codegen.read()
        ctx = Ctx(spark, args.seed, args.seconds, str(sf_dir), args.scale, work, tracer)
        res = importlib.import_module(args.workload).run(ctx)
        cg1 = codegen.read()
        rss = common.peak_rss_mb()
    finally:
        if tracer.enabled:
            tracer.uninstall()
        common.stop_session(spark)

    layers = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "spark.codegen_compiles": cg1[0] - cg0[0],
        "spark.codegen_ms": cg1[1] - cg0[1],
        "mem.peak_rss_mb": rss,
        **res["layers"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
    }
    if tracer.enabled:
        log = tracing.read_event_log(work / "eventlog")
        layers.update({f"spark.{k}": v for k, v in log["totals"].items()})
        layers["python.worker_start_ms"] = layers.pop("spark.python_start_ms")
        layers["python.worker_run_ms"] = layers.pop("spark.python_run_ms")
        report["self_s"] = tracing.self_times(tracer.spans)
        if "traced_layers" in res:
            layers.update(res["traced_layers"](tracer.spans, log["stages"]))
        RUNS.mkdir(exist_ok=True)
        tracer.dump(RUNS / f"spans-{args.workload}-s{args.seed}.json")
    from host_canary import run_canary

    metrics = {**res["metrics"], "setup_s": (setup_s, "s")}
    assert {k: u for k, (_, u) in metrics.items()} == END_TO_END, metrics
    report.update({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "errors": res.get("errors", []),
        "series": res.get("series"),
        "end_to_end": {k: v for k, (v, _) in metrics.items()},
        "layers": layers,
        "canary": run_canary(),
    })
    RUNS.mkdir(exist_ok=True)
    with open(RUNS / f"{args.workload}-s{args.seed}-t{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1, default=str)

    if args.trace:
        shown = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": shown,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
