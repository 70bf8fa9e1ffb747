"""backfill — bounded replays of the whole ``events`` log (closed loop, one
client).

The streaming layer used in bulk: each entry replays the full log through
StreamExecution in one or two large micro-batches with the HDFS state
profile of ``streaming.tuning``. ``streaming_user_state_replay`` adds one
Python stateful operator (``applyInPandasWithState``). Pass 1 pays
``land_events_replay`` and code generation. No CDC, sink files or BI.
"""

from __future__ import annotations

import closed_loop
from common import ProgressLog

ENTRIES = [
    "streaming_idadecont_replay",
    "streaming_user_state_replay",
]


def run(ctx) -> dict:
    import pyarrow.parquet as pq

    n_events = pq.ParquetFile(f"{ctx.sf_dir}/events.parquet").metadata.num_rows
    progress = ProgressLog()
    listener = progress.listener()
    ctx.spark.streams.addListener(listener)
    try:
        res = closed_loop.run_passes(ctx, ENTRIES)
    finally:
        ctx.spark.streams.removeListener(listener)
    calls = res["calls"]
    warm = [c for c in calls if closed_loop.is_warm(c) and "wall" in c]
    warm_s = sum(c["wall"] for c in warm)
    layers = {
        f"replay.{n}.wall_p50_s": v
        for n, v in closed_loop.warm_medians(calls).items()
    }
    layers.update(closed_loop.cold_walls(calls))
    layers.update({
        "replay.batches": len(progress.batches),
        "replay.rows": sum(b["rows"] for b in progress.batches),
        "state.replay.commit_ms": sum(
            s["commit_ms"] for b in progress.batches for s in b["state"]
        ),
        "passes": len(res["pass_wall"]),
        "ops.call_s": sum(c["call_s"] for c in warm),
        "ops.action_s": sum(c["action_s"] for c in warm),
    })

    def traced_layers(spans, stages):
        user = [s for s in spans if s["name"] == "entry:streaming_user_state_replay"]
        user_stages = [
            st for st in stages
            if any(u["start"] <= st["submitted"] <= u["end"] for u in user)
        ]
        return {
            "replay.land_s": sum(
                s["end"] - s["start"] for s in spans if s["name"] == "land_events_replay"
            ),
            "python.user_state.start_ms": sum(st["python_start_ms"] for st in user_stages),
            "python.user_state.run_ms": sum(st["python_run_ms"] for st in user_stages),
        }

    layers["backfill_rows_per_s"] = n_events * len(warm) / warm_s if warm_s else 0.0
    layers["backfill_first_s"] = res["pass_wall"][0]
    return {
        "metrics": closed_loop.end_to_end(res),
        **closed_loop.outcome(res),
        "layers": layers,
        "traced_layers": traced_layers,
    }
