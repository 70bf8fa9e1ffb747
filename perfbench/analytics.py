"""analytics — registry entries through the noop sink (closed loop, one
client, fresh session).

The entries cover the reference pipeline's batch forms, the ksql
translator, a Python-boundary stage (the
mapInArrow Misra-Gries sketch), a BroadcastNestedLoopJoin similarity plan
and the catalog memo used both ways: built on pass 1, served afterwards
(``dedup_minhash_lsh``). No streaming.
"""

from __future__ import annotations

import closed_loop

ENTRIES = [
    "jovens",
    "ksql_idadecont",
    "heavy_hitters_topk",
    "ann_cosine_topk",
    "dedup_minhash_lsh",
]


def run(ctx) -> dict:
    res = closed_loop.run_passes(ctx, ENTRIES)
    calls = res["calls"]
    warm = closed_loop.warm_medians(calls)
    layers = {f"entry.{n}.warm_s": v for n, v in warm.items()}
    layers.update(closed_loop.cold_walls(calls))
    layers.update(closed_loop.module_split(calls))
    layers.update(closed_loop.memo_split(calls))
    layers.update({
        "passes": len(res["pass_wall"]),
        "ops.call_s": sum(closed_loop.warm_medians(calls, "call_s").values()),
        "ops.action_s": sum(closed_loop.warm_medians(calls, "action_s").values()),
    })

    def traced_layers(spans, stages):
        ks = [s for s in spans if s["name"] == "KsqlEngine.execute"]
        return {
            "spark.plan_ms": sum(c.get("plan_ms", 0.0) for c in calls),
            "ksql.execute_calls": len(ks),
            "ksql.execute_ms": sum(s["end"] - s["start"] for s in ks) * 1e3,
            "coverage": closed_loop.coverage(calls, spans, stages),
        }

    return {
        "metrics": closed_loop.end_to_end(res),
        **closed_loop.outcome(res),
        "layers": layers,
        "traced_layers": traced_layers,
    }
