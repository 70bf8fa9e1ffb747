"""Tests of the benchmark itself: the percentile rule, the chunk-to-batch
mapping, the output digest, and a smoke run of each workload at sf0.001.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(BENCH.parent / "tools"))

import common  # noqa: E402
from live_cdc import chunk_bounds, map_chunks_to_batches  # noqa: E402


def test_percentile_rule_needs_ten_samples_beyond_the_tail():
    assert common.beyond(100, 0.9) == 10 and common.tail_ok(100, 0.9)
    assert not common.tail_ok(99, 0.9)
    assert common.tail_ok(150, 0.9) and common.beyond(150, 0.9) == 15
    assert not common.tail_ok(1000, 0.999)
    assert common.percentile(list(range(1, 101)), 0.9) == 90
    assert common.percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_chunks_map_to_the_first_batch_covering_their_rows():
    # chunks end at cumulative rows 40, 80, 120, 160
    chunks = [40, 80, 120, 160]
    batches = [
        {"rows": 40, "end": 10.0},   # exactly chunk 0
        {"rows": 0, "end": 11.0},    # no-data batch covers nothing new
        {"rows": 50, "end": 12.0},   # chunk 1 and part of chunk 2
        {"rows": 30, "end": 13.0},   # rest of chunk 2
    ]
    assert map_chunks_to_batches(chunks, batches) == [10.0, 12.0, 13.0, None]


def test_chunk_sizes_come_from_the_seed_and_stop_at_the_data():
    a = chunk_bounds(10_000, 50, seed=7)
    assert a == chunk_bounds(10_000, 50, seed=7)
    assert a != chunk_bounds(10_000, 50, seed=8)
    assert all(lo < hi for lo, hi in a) and a[0][0] == 0
    assert all(x[1] == y[0] for x, y in zip(a, a[1:]))
    short = chunk_bounds(100, 50, seed=7)
    assert short[-1][1] == 100


def _frame():
    return pd.DataFrame(
        {
            "k": [1, 2, 3],
            "name": ["a", "b", "c"],
            "v": [0.5, 1.0, 2.25],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
        }
    )


def test_digest_is_order_and_dtype_insensitive():
    df = _frame()
    d = common.digest(df)
    assert common.digest(df.iloc[::-1].reset_index(drop=True)) == d
    assert common.digest(df[["v", "ts", "name", "k"]]) == d
    assert common.digest(df.astype({"k": "float64"})) == d


def test_digest_detects_a_swapped_column_and_a_changed_row():
    df = _frame()
    d = common.digest(df)
    swapped = df.rename(columns={"k": "v", "v": "k"})
    assert common.digest(swapped) != d
    changed = df.copy()
    changed.loc[1, "v"] = 1.0000001
    assert common.digest(changed) != d
    assert common.digest(df.iloc[:2]) != d


@pytest.mark.parametrize("workload", ["live_cdc", "backfill", "analytics"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "0", "--scale", "sf0.001"],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_smoke_run_prints_every_per_layer_metric():
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "backfill",
         "--seed", "3", "--seconds", "1", "--trace", "1", "--scale", "sf0.001"],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    spans = json.loads((BENCH.parent / ".perfbench_runs" / "spans-backfill-s3.json").read_text())
    names = {s["name"] for s in spans["spans"]}
    assert {"run_bounded_replay", "land_events_replay", "load_table"} <= names
