"""live_cdc — the paper's pipeline fed at a fixed rate (open loop).

Three client threads run against one session while two persistent
queries consume the bronze dir:

- generator: lands ``ts``-ordered slices of ``events`` (the stand-in for the
  reference's ``customers`` table) as parquet files into the source dir, one
  every ``CHUNK_INTERVAL_S``, written with pyarrow rather than Spark;
- CDC: ``ConnectorRegistry.run_source_to_sink(polls=1)`` every
  ``POLL_INTERVAL_S`` with the JdbcSource fields of the reference's
  connect_postgres.config over a ``parquet://`` backend, landing into the
  bronze dir that plays the Kafka topic;
- BI: one closed-loop client registering the jovens lake and running
  ``serving.JOVENS_DAILY_ROLLUP``, with ``BI_THINK_S`` between queries;
- ``PipelineManager.start_jovens`` (parquet lake, flush.size 10) and
  ``start_idadecont`` (keyed JSON, RocksDB state) on ``file_stream``.

A chunk's freshness is the time from its scheduled landing to the end of
the later of the two queries' batches that contain it. Batches are mapped
to chunks by cumulative ``numInputRows`` from a ``StreamingQueryListener``.
The end-to-end metrics: ``warm_s`` is the median freshness of the chunks
landed after the warm-up, ``cold_s`` the first chunk's freshness (its poll
and both queries' first batches run cold) and ``request_p50_s`` the median
BI query time.

The bronze hop is a topic stand-in, so its sink gets a flush.size that
never splits a poll into 10-row files; the two lake sinks keep the
reference's 10.

At 500 rows/s each CDC poll took 2-3 s against its 500 ms cadence on
4 cores and the lake grew by 50 files a second. At 100 rows/s in 80 ms
chunks polls still took ~2 s, since each poll lists and prunes every
source file; 200 ms chunks make 2.5x fewer files and polls take ~1.4 s.
The BI think time keeps the BI client from taking a core of its own.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from pathlib import Path

from common import ProgressLog, beyond, percentile, tail_ok

#: Offered load: 20 rows every 200 ms on average, 100 rows/s.
CHUNK_INTERVAL_S = 0.2
CHUNK_ROWS = 20
CHUNK_JITTER = 5
#: Think time of the BI client between queries.
BI_THINK_S = 0.5
POLL_INTERVAL_S = 0.5
#: Chunks landed before the measured window, so the queries' first-batch
#: costs and the slow first polls (JIT warm-up) fall outside it.
WARMUP_S = 4.0
#: First landed event: at sf0.1, about 140 rows (1.4 s at this rate) before
#: the jovens cutoff (2024-01-15), so the lake filter drops some rows and
#: the lake is readable before the measured window starts.
START_TS = "2024-01-14 23:00"
BRONZE_FLUSH_SIZE = 1_000_000
LAKE_FLUSH_SIZE = 10
DRAIN_DEADLINE_S = 30.0


def chunk_bounds(n_rows: int, n_chunks: int, seed: int) -> list[tuple[int, int]]:
    """Seeded chunk sizes around CHUNK_ROWS, cut from the first n_rows."""
    rng = random.Random(seed)
    out, lo = [], 0
    for _ in range(n_chunks):
        hi = min(n_rows, lo + CHUNK_ROWS + rng.randint(-CHUNK_JITTER, CHUNK_JITTER))
        if hi <= lo:
            break
        out.append((lo, hi))
        lo = hi
    return out


def map_chunks_to_batches(
    chunk_cum_rows: list[int], batches: list[dict]
) -> list[float | None]:
    """End time of the first batch whose cumulative input covers each chunk
    (None when no batch does); ``batches`` sorted by batch id."""
    out: list[float | None] = []
    cum, j = 0, 0
    ends: list[tuple[int, float]] = []
    for b in batches:
        cum += b["rows"]
        ends.append((cum, b["end"]))
    for c in chunk_cum_rows:
        while j < len(ends) and ends[j][0] < c:
            j += 1
        out.append(ends[j][1] if j < len(ends) else None)
    return out


def _load_slice(sf_dir: str):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = t.column("ts").cast(pa.timestamp("us"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("us", tz="UTC")))
    keep = pc.greater_equal(ts, pa.scalar(_iso_us(START_TS), pa.timestamp("us")))
    return t.filter(keep).sort_by("ts")


def _iso_us(day: str) -> int:
    from datetime import datetime, timezone

    return int(datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp() * 1e6)


def _data_files(path: Path, ext: str) -> list[str]:
    return [
        f
        for f in glob.glob(str(path / "**" / f"*{ext}"), recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
        and "_spark_metadata" not in f
    ]


def run(ctx) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from kafka_exercise_spark.connectors import (
        JDBC_SOURCE_CLASS, PARQUET_FORMAT, S3_SINK_CLASS, ConnectorRegistry,
    )
    from kafka_exercise_spark.serving import JOVENS_DAILY_ROLLUP, ServingLayer
    from kafka_exercise_spark.streaming.pipeline import PipelineManager
    from kafka_exercise_spark.streaming.sources import file_stream

    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    table = _load_slice(ctx.sf_dir)
    n_warm = round(WARMUP_S / CHUNK_INTERVAL_S)
    n_chunks = n_warm + max(1, round(ctx.seconds / CHUNK_INTERVAL_S))
    bounds = chunk_bounds(table.num_rows, n_chunks, ctx.seed)
    n_warm = min(n_warm, len(bounds) // 2)  # a small fixture runs out early
    cum_rows = [hi for _, hi in bounds]
    total_rows = cum_rows[-1]

    src = work / "source" / "customers"
    lake = work / "lake"
    src.mkdir(parents=True)
    lake.mkdir()
    reg = ConnectorRegistry(spark)
    reg.register({
        "name": "psg-customers-source",
        "config": {
            "connector.class": JDBC_SOURCE_CLASS,
            "mode": "timestamp",
            "timestamp.column.name": "ts",
            "table.whitelist": "public.customers",
            "topic.prefix": "psg-",
            "poll.interval.ms": str(int(POLL_INTERVAL_S * 1000)),
            "connection.url": f"parquet://{src}",
            "offsets.path": str(work / "cdc_offsets.json"),
        },
    })
    reg.register({
        "name": "bronze-sink",
        "config": {
            "connector.class": S3_SINK_CLASS,
            "format.class": PARQUET_FORMAT,
            "flush.size": str(BRONZE_FLUSH_SIZE),
            "topics": "psg-customers",
            "topics.dir": "topics",
            "local.root": str(work / "bronze"),
        },
    })
    bronze = work / "bronze" / "topics" / "psg-customers"
    bronze.mkdir(parents=True)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    progress = ProgressLog()
    listener = progress.listener()
    spark.streams.addListener(listener)
    mgr = PipelineManager(spark, checkpoint_root=str(work / "ckpt"))
    mgr.start_jovens(
        file_stream(spark, str(bronze), schema, max_files_per_trigger=None),
        str(lake / "jovens"), flush_size=LAKE_FLUSH_SIZE,
    )
    mgr.start_idadecont(
        file_stream(spark, str(bronze), schema, max_files_per_trigger=None),
        str(lake / "idadecont"),
    )

    errors: list[str] = []
    stop_live = threading.Event()
    stop_cdc = threading.Event()
    landed = [0.0] * len(bounds)
    due = [0.0] * len(bounds)
    polls: list[dict] = []
    bi: list[dict] = []
    n_landed = [0]  # chunks landed so far, read by the CDC thread

    def guarded(fn):
        def body():
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — recorded as a failed run part
                import traceback

                errors.append(f"{threading.current_thread().name}: {e!r}")
                traceback.print_exc()
                stop_live.set()
                stop_cdc.set()

        return body

    t0 = time.time() + 0.2
    t_measure = t0 + n_warm * CHUNK_INTERVAL_S

    def generator():
        for i, (lo, hi) in enumerate(bounds):
            due[i] = t0 + i * CHUNK_INTERVAL_S
            wait = due[i] - time.time()
            if wait > 0:
                time.sleep(wait)
            if stop_live.is_set():
                return
            tmp = src / f".chunk-{i:05d}.parquet"
            pq.write_table(table.slice(lo, hi - lo), tmp)
            os.replace(tmp, src / f"chunk-{i:05d}.parquet")
            landed[i] = time.time()
            n_landed[0] = i + 1
        stop_live.set()

    def cdc():
        while n_landed[0] == 0 and not stop_cdc.is_set():
            time.sleep(0.01)
        tick = time.time()
        moved = 0
        while not stop_cdc.is_set():
            avail = cum_rows[n_landed[0] - 1]
            a = time.time()
            n = reg.run_source_to_sink("psg-customers-source", "bronze-sink", polls=1)
            moved += n
            polls.append({"start": a, "s": time.time() - a, "rows": n, "lag_rows": avail - (moved - n)})
            tick += POLL_INTERVAL_S
            wait = tick - time.time()
            if wait > 0:
                stop_cdc.wait(wait)
            else:
                tick = time.time()

    def bi_client():
        from pyspark.errors import AnalysisException

        serving = ServingLayer(spark)
        jovens_dir = lake / "jovens"
        # The lake is unreadable until the sink commits its first non-empty
        # batch; BI starts with the first query that succeeds. A run too
        # short to have one in the live window keeps trying while it drains.
        while not stop_cdc.is_set():
            try:
                serving.register_dataset("jovens", str(jovens_dir))
                break
            except (AnalysisException, ValueError):
                time.sleep(0.05)
        while not stop_cdc.is_set() and not (stop_live.is_set() and bi):
            files = _data_files(jovens_dir, ".parquet")
            with tracer.span("bi.query"):
                a = time.time()
                serving.register_dataset("jovens", str(jovens_dir))
                b = time.time()
                serving.sql(JOVENS_DAILY_ROLLUP).collect()
                c = time.time()
            bi.append({"s": c - a, "start": a, "register_ms": (b - a) * 1e3,
                       "sql_ms": (c - b) * 1e3, "lake_files": len(files)})
            stop_cdc.wait(BI_THINK_S)

    threads = [
        threading.Thread(target=guarded(f), name=f.__name__)
        for f in (generator, cdc, bi_client)
    ]
    for t in threads:
        t.start()
    threads[0].join()
    live_end = time.time()
    deadline = live_end + DRAIN_DEADLINE_S
    while time.time() < deadline and not errors:
        if all(progress.total_rows(q) >= total_rows for q in ("jovens", "idadecont")):
            break
        time.sleep(0.05)
    drain_s = time.time() - live_end
    stop_cdc.set()
    threads[1].join()
    threads[2].join()
    for q in list(mgr.queries.values()):
        exc = q.exception()
        if exc is not None:
            errors.append(f"{q.name}: {exc}")
    mgr.stop_all()
    spark.streams.removeListener(listener)

    # ---- freshness ----
    ends = {q: map_chunks_to_batches(cum_rows, progress.of(q)) for q in ("jovens", "idadecont")}
    fresh, undrained, first_fresh = [], 0, None
    for i in range(len(bounds)):
        e = [ends["jovens"][i], ends["idadecont"][i]]
        if None in e:
            undrained += 1
        elif i == 0:
            first_fresh = max(e) - due[i]
        if None not in e and i >= n_warm:
            fresh.append(max(e) - due[i])

    # ---- output checks (outside the live window) ----
    landed_tbl = table.slice(0, total_rows).to_pandas()
    problems = check_jovens(landed_tbl, lake / "jovens") + check_idadecont(
        landed_tbl, lake / "idadecont"
    )
    for p in problems:
        print(f"live_cdc check: {p}", flush=True)

    attempted = len(bounds) + len(polls) + len(bi)
    failed = undrained + len(errors) + (1 if problems else 0)
    # BI queries that started in the warm-up are dropped, unless the run
    # was too short to have any others.
    bi_s = [b["s"] for b in bi if b["start"] >= t_measure] or [b["s"] for b in bi]
    metrics = {
        "warm_s": (_p(fresh, 0.5), "s"),
        "cold_s": (first_fresh or 0.0, "s"),
        "request_p50_s": (_p(bi_s, 0.5), "s"),
    }
    layers = _layer_metrics(progress, polls, bi, lake, bronze, landed, due, drain_s)
    layers["fresh_p50_s"] = _p(fresh, 0.5)
    layers["fresh_p90_s"] = _p(fresh, 0.9)
    layers["fresh.first_s"] = first_fresh
    layers["bi_p50_s"] = _p(bi_s, 0.5)
    layers["fresh.samples"] = len(fresh)
    layers["fresh.beyond_p90"] = beyond(len(fresh), 0.9)
    if not tail_ok(len(fresh), 0.9):
        print(f"live_cdc: only {layers['fresh.beyond_p90']} chunks beyond p90", flush=True)
    return {
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "correct": not problems and not errors and undrained == 0,
        "layers": layers,
        "errors": errors,
        "series": {
            "t0": t0,
            "fresh_s": fresh,
            "polls": polls,
            "bi": bi,
            "batches": {q: [(b["batch"], b["rows"], b["end"]) for b in progress.of(q)]
                        for q in ("jovens", "idadecont")},
        },
    }


def _p(xs: list[float], q: float) -> float:
    return percentile(xs, q) if xs else 0.0


def _layer_metrics(progress, polls, bi, lake, bronze, landed, due, drain_s) -> dict:
    out: dict = {
        "gen.chunks": len(landed),
        "gen.late_max_ms": max((l - d) * 1e3 for l, d in zip(landed, due)) if landed else 0.0,
        "drain_s": drain_s,
        "cdc.polls": len(polls),
        "cdc.poll_p50_s": _p([p["s"] for p in polls], 0.5),
        "cdc.poll_p90_s": _p([p["s"] for p in polls], 0.9),
        "cdc.rows_per_poll": _p([p["rows"] for p in polls if p["rows"]], 0.5),
        "cdc.bronze_files": len(_data_files(bronze, ".parquet")),
        "cdc.lag_rows_p50": _p([p["lag_rows"] for p in polls], 0.5),
        "bi.queries": len(bi),
        "bi.register_p50_ms": _p([b["register_ms"] for b in bi], 0.5),
        "bi.sql_p50_ms": _p([b["sql_ms"] for b in bi], 0.5),
        "bi.lake_files_p50": _p([b["lake_files"] for b in bi], 0.5),
    }
    for q in ("jovens", "idadecont"):
        bs = [b for b in progress.of(q) if b["rows"]]
        out[f"stream.{q}.batches"] = len(bs)
        out[f"stream.{q}.rows_per_batch"] = _p([b["rows"] for b in bs], 0.5)
        for k in ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
                  "latestOffset", "walCommit", "commitOffsets"):
            key = "trigger" if k == "triggerExecution" else k
            out[f"stream.{q}.{key}_p50_ms"] = _p([b["duration_ms"].get(k, 0) for b in bs], 0.5)
    st = [s for b in progress.of("idadecont") if b["rows"] for s in b["state"]]
    out["state.idadecont.rows"] = st[-1]["rows"] if st else 0
    out["state.idadecont.memory_bytes"] = st[-1]["memory_bytes"] if st else 0
    out["state.idadecont.commit_p50_ms"] = _p([s["commit_ms"] for s in st], 0.5)
    jf = _data_files(lake / "jovens", ".parquet")
    idf = _data_files(lake / "idadecont", ".json")
    out["sink.jovens.files"] = len(jf)
    out["sink.idadecont.files"] = len(idf)
    out["sink.bytes"] = sum(os.path.getsize(f) for f in jf + idf)
    return out


# ---- output checks: recomputed from the landed chunks, without Spark ----


def check_jovens(landed, lake_dir: Path) -> list[str]:
    """The lake holds exactly the landed rows on or after the jovens cutoff,
    projected and formatted as the CSAS does."""
    import pandas as pd
    import pyarrow.parquet as pq

    from kafka_exercise_spark.streaming.pipeline import JOVENS_STREAM_CUTOFF

    ts = landed["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    exp = pd.DataFrame({
        "event_id": landed["event_id"],
        "user_id": landed["user_id"],
        "event_type": landed["event_type"],
        "dt_event": ts.dt.strftime("%Y-%m-%d"),
        "ts_conv": ts.dt.strftime("%Y-%m-%d %H:%M:%S.%f").str[:-3],
    })
    exp = exp[exp["dt_event"] >= JOVENS_STREAM_CUTOFF]
    files = _data_files(lake_dir, ".parquet")
    if not files:
        return ["jovens lake is empty"] if len(exp) else []
    got = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    cols = list(exp.columns)
    if sorted(got.columns) != sorted(cols):
        return [f"jovens columns {sorted(got.columns)} != {sorted(cols)}"]
    a = sorted(map(tuple, exp[cols].astype(str).values.tolist()))
    b = sorted(map(tuple, got[cols].astype(str).values.tolist()))
    if a != b:
        return [f"jovens rows differ: lake {len(b)} expected {len(a)}"]
    return []


def check_idadecont(landed, lake_dir: Path) -> list[str]:
    """For every (idadecat, window) key, the last exported update equals the
    count of landed rows in that 30 s window and category."""
    import pandas as pd

    ts = landed["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    cat = landed["value"].ge(100.0).map({True: "JOVEM", False: "ADULTO"})
    exp = (
        pd.DataFrame({"w": ts.dt.floor("30s"), "c": cat})
        .groupby(["c", "w"]).size().to_dict()
    )
    latest: dict = {}
    for f in _data_files(lake_dir, ".json"):
        batch = int(Path(f).parent.name.split("=", 1)[1])
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                w = pd.Timestamp(r["window_start"]).tz_convert("UTC").tz_localize(None)
                key = (r["idadecat"], w)
                if key not in latest or latest[key][0] < batch:
                    latest[key] = (batch, int(r["contagem"]))
    got = {k: v for k, (_, v) in latest.items()}
    if got != exp:
        diff = sorted(set(got.items()) ^ set(exp.items()))[:3]
        return [f"idadecont differs on {len(set(got.items()) ^ set(exp.items()))} keys, e.g. {diff}"]
    return []
