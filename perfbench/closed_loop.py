"""One closed-loop client over ``queries()`` entries, shared by the
``backfill`` and ``analytics`` workloads.

Pass 1 is cold: it pays code generation, landings and memo builds. Pass 2
is a warm-up, untimed: the JIT is still compiling the hot paths, and warm
times fell by up to a quarter over the first passes. Measured warm passes
follow until ``seconds`` have passed since pass 1 began, and there are at
least ``MIN_WARM_PASSES``. Each pass runs the entries in an order
drawn from the seed. Every invocation is ``fn(spark, sf_dir)`` (the eager
part, which for replays runs the stream) followed by a noop-sink write
(the action). After timing, the last pass's frames are collected and
compared with the stored oracle digests.
"""

from __future__ import annotations

import random
import time
from statistics import median

from common import digest, load_golden

#: Enough warm samples per entry that a median outlasts a short host stall.
MIN_WARM_PASSES = 4
#: Passes after the cold one that are run but not counted as warm.
WARMUP_PASSES = 1


def _plan_ms(df) -> float:
    """Analysis + optimization + planning time of the frame's query, re-planned
    on a fresh query execution (the frame's own may have been planned when
    a memo was built)."""
    qe = df.select("*")._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def run_passes(ctx, names: list[str]) -> dict:
    import __spark_entry__ as entrymod
    from kafka_exercise_spark.catalog import drain_memo_build_log

    spark, tracer = ctx.spark, ctx.tracer
    queries = entrymod.queries()
    rng = random.Random(ctx.seed)
    calls: list[dict] = []
    errors: list[str] = []
    last_df: dict = {}
    pass_wall: list[float] = []
    drain_memo_build_log()
    t_start = time.perf_counter()
    p = 0
    while p <= WARMUP_PASSES + MIN_WARM_PASSES or time.perf_counter() - t_start < ctx.seconds:
        order = list(names)
        rng.shuffle(order)
        tp = time.perf_counter()
        for name in order:
            fn = queries[name]
            rec = {"name": name, "pass": p, "module": fn.__module__.rsplit(".", 1)[-1]}
            try:
                with tracer.span(f"entry:{name}", pass_no=p) as span:
                    a = time.perf_counter()
                    with tracer.span(f"call:{name}"):
                        df = fn(spark, ctx.sf_dir)
                    b = time.perf_counter()
                    with tracer.span(f"action:{name}"):
                        df.write.format("noop").mode("overwrite").save()
                    c = time.perf_counter()
                rec.update(wall=c - a, call_s=b - a, action_s=c - b)
                if tracer.enabled:
                    rec["span"] = span["id"]
                    rec["plan_ms"] = _plan_ms(df)
                last_df[name] = df
            except Exception as e:  # noqa: BLE001 — a failed operation, counted
                errors.append(f"{name} pass {p}: {e!r}"[:500])
                rec["error"] = True
            rec["builds"] = drain_memo_build_log()
            calls.append(rec)
        pass_wall.append(time.perf_counter() - tp)
        p += 1

    golden = load_golden()[ctx.scale]
    problems = []
    for name in names:
        if name not in last_df:
            continue
        got = digest(last_df[name].toPandas())
        if got != golden[name]:
            problems.append(f"{name}: digest {got} != {golden[name]}")
    for msg in problems + errors:
        print(f"check: {msg}", flush=True)
    return {
        "calls": calls,
        "pass_wall": pass_wall,
        "errors": errors + problems,
        "attempted": len(calls),
        "failed": sum(1 for c in calls if c.get("error")) + len(problems),
        "correct": not problems and not errors,
    }


def end_to_end(res: dict) -> dict:
    """The closed loops' end-to-end metrics: the cold pass, a warm pass (the
    sum of each entry's warm median) and one warm request (the median over
    entries of each entry's warm median)."""
    warm = warm_medians(res["calls"])
    return {
        "cold_s": (res["pass_wall"][0], "s"),
        "warm_s": (sum(warm.values()), "s"),
        "request_p50_s": (median(warm.values()) if warm else 0.0, "s"),
    }


def outcome(res: dict) -> dict:
    """The run-level fields of a closed-loop workload's result."""
    return {k: res[k] for k in ("attempted", "failed", "correct", "errors")}


def cold_walls(calls: list[dict]) -> dict[str, float]:
    return {f"entry.{c['name']}.cold_s": c["wall"] for c in calls if c["pass"] == 0 and "wall" in c}


def is_warm(call: dict) -> bool:
    """A call of a measured warm pass."""
    return call["pass"] > WARMUP_PASSES


def warm_medians(calls: list[dict], key: str = "wall") -> dict[str, float]:
    per: dict[str, list[float]] = {}
    for c in calls:
        if is_warm(c) and key in c:
            per.setdefault(c["name"], []).append(c[key])
    return {n: median(v) for n, v in per.items()}


def module_split(calls: list[dict]) -> dict[str, float]:
    """``ops.<module>.{cold,warm}_s``: pass-1 wall and the sum of warm
    medians per operator module."""
    out: dict[str, float] = {}
    warm = warm_medians(calls)
    for c in calls:
        if c["pass"] == 0 and "wall" in c:
            k = f"ops.{c['module']}.cold_s"
            out[k] = out.get(k, 0.0) + c["wall"]
    mod = {c["name"]: c["module"] for c in calls}
    for n, v in warm.items():
        k = f"ops.{mod[n]}.warm_s"
        out[k] = out.get(k, 0.0) + v
    return out


def memo_split(calls: list[dict]) -> dict[str, float]:
    """Memo builds (from the package's build log) and served reads: a warm
    invocation of an entry that built a memo on pass 1 and builds none now."""
    builds = [b for c in calls for b in c["builds"]]
    memo_entries = {c["name"] for c in calls if c["pass"] == 0 and c["builds"]}
    served = [
        c["wall"] for c in calls
        if c["pass"] > 0 and c["name"] in memo_entries and not c["builds"] and "wall" in c
    ]
    n = len(builds) + len(served)
    return {
        "memo.builds": len(builds),
        "memo.build_s": sum(b["seconds"] for b in builds),
        "memo.served": len(served),
        "memo.hit_ratio": len(served) / n if n else 0.0,
        "memo.served_p50_ms": median(served) * 1e3 if served else 0.0,
    }


def coverage(calls: list[dict], spans: list[dict], stages: list[dict]) -> dict:
    """Per entry, the share of its warm wall time covered by stage time plus
    planning (median over warm passes)."""
    from tracing import stage_coverage

    by_id = {s["id"]: s for s in spans}
    per: dict[str, list[float]] = {}
    for c in calls:
        if is_warm(c) and "span" in c:
            per.setdefault(c["name"], []).append(
                stage_coverage(by_id[c["span"]], stages, c.get("plan_ms", 0.0))
            )
    return {n: median(v) for n, v in per.items()}
