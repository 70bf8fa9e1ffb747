"""Streaming layer (SURVEY.md §2.4, §7 stages C/D).

Strategy per SURVEY.md §5: replay a bounded ``events`` slice as micro-batches
and assert the streaming final state equals the batch result — the
"streaming = incremental batch" equivalence of the Structured Streaming
model. Plus: sink file-granularity parity, late-data watermark behavior, and
the incremental timestamp-mode source's capture semantics.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.operators.pipeline_ops import (
    idadeclass_transform,
    idadecont_transform,
)
from kafka_exercise_spark.sources.incremental import (
    TimestampModeSource,
    parquet_dir_reader,
)
from kafka_exercise_spark.streaming import sinks, sources
from kafka_exercise_spark.streaming.pipeline import PipelineManager


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 chronological parquet chunks for micro-batch replay."""
    from kafka_exercise_spark.catalog import load_table

    out = str(tmp_path_factory.mktemp("replay"))
    events = load_table(spark, sf_dir, "events")
    chunked = events.withColumn(
        "chunk", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    for i in range(1, 5):
        (
            chunked.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"chunk{i}"))
        )
    # flatten: move part files into one dir so the file source sees 4 files
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(out, "chunk*", "*.parquet")))):
        os.rename(f, os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def _events_schema(spark, sf_dir):
    from kafka_exercise_spark.catalog import load_table

    return load_table(spark, sf_dir, "events").schema


def test_streaming_window_count_equals_batch(spark, sf_dir, replay_dir, tmp_path):
    """Final state of the watermarked tumbling count == batch result
    (reference A3-A5 semantics, README.md:271-276)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    counted = idadecont_transform(
        idadeclass_transform(stream), watermark_delay="10 minutes"
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("idadecont_replay")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["idadecat"]): r["contagem"]
        for r in spark.table("idadecont_replay").collect()
    }
    from kafka_exercise_spark.catalog import load_table

    batch = idadecont_transform(
        idadeclass_transform(load_table(spark, sf_dir, "events"))
    )
    want = {
        (r["window_start"], r["idadecat"]): r["contagem"] for r in batch.collect()
    }
    assert got == want


def test_jovens_parquet_sink_flush_size(spark, sf_dir, replay_dir, tmp_path):
    """flush.size parity: no output file holds more than max_records_per_file
    rows (reference connect_s3_sink_jovens.config:6, flush.size 10)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    mgr = PipelineManager(spark, str(tmp_path / "ckpt"))
    out = str(tmp_path / "jovens_out")
    q = mgr.start_jovens(stream, out, flush_size=10, trigger_once=True)
    q.awaitTermination(120)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files, "sink produced no files"
    for f in files:
        assert spark.read.parquet(f).count() <= 10
    # content parity with the batch transform
    total = spark.read.parquet(out).count()
    from kafka_exercise_spark.operators.pipeline_ops import custstream_pretty_transform

    from kafka_exercise_spark.catalog import load_table

    batch = custstream_pretty_transform(load_table(spark, sf_dir, "events")).filter(
        F.col("dt_event") >= "2024-01-15"
    )
    assert total == batch.count()


def test_keyed_json_sink_writes_keys(spark, sf_dir, replay_dir, tmp_path):
    """S7 analog: JSON objects carry the aggregate's key columns
    (reference connect_s3_sink_count.config:18 store.kafka.keys)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    mgr = PipelineManager(spark, str(tmp_path / "ckpt"))
    out = str(tmp_path / "idadecont_out")
    q = mgr.start_idadecont(stream, out, watermark="10 minutes", trigger_once=True)
    q.awaitTermination(120)
    json_files = glob.glob(os.path.join(out, "batch=*", "*.json"))
    assert json_files
    with open(json_files[0]) as f:
        rec = json.loads(f.readline())
    assert {"idadecat", "window_start", "window_end", "contagem"} <= set(rec)


def test_upsert_store_keeps_latest_per_key(spark, sf_dir, replay_dir, tmp_path):
    """T7 upsert form: after replaying the changelog, the store holds ONE
    row per (window, idadecat) with the FINAL count — identical to the
    batch aggregate, with the _batch stamp proving multi-batch merges."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    counted = idadecont_transform(
        idadeclass_transform(stream), watermark_delay="10 minutes"
    )
    store = str(tmp_path / "store")
    q = sinks.upsert_store_sink(
        counted,
        store,
        checkpoint=str(tmp_path / "ck"),
        name="idadecont_store",
        key_cols=["window_start", "idadecat"],
        trigger_once=True,
    )
    q.awaitTermination(120)
    got_df = spark.read.parquet(store)
    # one row per key — the upsert compacted the changelog
    assert (
        got_df.groupBy("window_start", "idadecat").count().filter("count > 1").count()
        == 0
    )
    got = {
        (r["window_start"], r["idadecat"]): r["contagem"]
        for r in got_df.collect()
    }
    from kafka_exercise_spark.catalog import load_table

    batch = idadecont_transform(
        idadeclass_transform(load_table(spark, sf_dir, "events"))
    )
    want = {
        (r["window_start"], r["idadecat"]): r["contagem"] for r in batch.collect()
    }
    assert got == want
    # replay really ran >1 micro-batch (4 files, 1 per trigger), so the
    # read-store/union/latest-wins merge path was exercised, not just the
    # first-batch create path
    assert got_df.select(F.max("_batch")).collect()[0][0] >= 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than watermark - delay are dropped in append mode
    (SURVEY.md §2.4 T4 — our explicit policy vs the reference's silent 24h)."""
    import datetime as dt

    import time as time_mod

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    on_time = [(i, base + dt.timedelta(minutes=i)) for i in range(5)]
    late = [(99, base - dt.timedelta(hours=2))]  # behind watermark when seen
    advance = [(100, base + dt.timedelta(hours=1))]  # pushes watermark past 12:05
    src_dir = str(tmp_path / "late_src")
    schema = "event_id LONG, ts TIMESTAMP"
    for i, rows_ in enumerate([on_time, late, advance]):
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"f{i}")
        )
    del time_mod  # batching is forced by sequential runs, not mtimes
    flat = str(tmp_path / "late_flat")
    os.makedirs(flat)
    sch = spark.createDataFrame(on_time, schema).schema
    out = str(tmp_path / "late_out")
    # One availableNow run per file against a SHARED checkpoint: the
    # watermark persists in checkpoint state, so file i+1 is genuinely
    # processed after the watermark advanced over file i's event times.
    # (Parquet sink — the memory sink cannot recover from a checkpoint.)
    for i in range(3):
        src = glob.glob(os.path.join(src_dir, f"f{i}", "*.parquet"))[0]
        os.rename(src, os.path.join(flat, f"{i:02d}.parquet"))
        stream = sources.file_stream(spark, flat, sch, max_files_per_trigger=None)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "30 seconds"))
            .count()
            .select(F.col("window.start").alias("wstart"), "count")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    emitted = {r["wstart"] for r in spark.read.parquet(out).collect()}
    # finalized on-time windows were emitted (run 3's watermark passed them)…
    assert base in emitted
    # …but the late row — behind the watermark when its file arrived — was
    # dropped: its window never reached the output in any run
    assert (base - dt.timedelta(hours=2)) not in emitted


def test_incremental_source_captures_appends_only(spark, sf_dir, tmp_path):
    """S3 semantics: first poll takes everything, later polls only rows with
    a cursor beyond the persisted high-water mark; replays nothing."""
    table_dir = str(tmp_path / "table")
    sink_dir = str(tmp_path / "bronze")
    state = str(tmp_path / "hwm.json")
    from kafka_exercise_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").orderBy("ts")
    first, second = events.limit(600), events.subtract(events.limit(600))
    first.write.mode("overwrite").parquet(table_dir)

    captured: list[int] = []

    def sink(df, batch_id):
        df.write.mode("append").parquet(sink_dir)
        captured.append(df.count())

    src = TimestampModeSource(
        spark, parquet_dir_reader(table_dir), cursor_col="ts", state_path=state
    )
    n1 = src.run(sink, polls=1)
    assert n1 == 600
    # append the remainder (simulates generator inserts between polls)
    second.write.mode("append").parquet(table_dir)
    n2 = src.run(sink, polls=1)
    assert n1 + n2 == events.count()
    # third poll with no new data: nothing captured, hwm unchanged
    n3 = src.run(sink, polls=1)
    assert n3 == 0
    # bronze content equals the source exactly once
    assert spark.read.parquet(sink_dir).count() == events.count()
    with open(state) as f:
        assert json.load(f)["cursor_col"] == "ts"


def test_streaming_curation_gate_routes_every_doc(spark, sf_dir):
    """The gate's landed totals must partition the corpus exactly and agree
    with the batch curation decision (shared projection — no drift)."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.catalog import load_table
    from kafka_exercise_spark.operators.textops import curation_pipeline
    from kafka_exercise_spark.streaming.pipeline import streaming_curation_gate

    gate = streaming_curation_gate(spark, sf_dir)
    rows = gate.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    batch_kept = curation_pipeline(spark, sf_dir).filter(F.col("keep")).count()
    assert sum(r.n_kept for r in rows) == batch_kept
    for r in rows:
        assert r.n_kept + r.n_rejected == r.n_docs
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs


def test_streaming_merge_replay_equals_batch_merge(spark, sf_dir):
    """The live CDC apply's final store must equal the one-shot batch
    MERGE row-for-row — the commutative-associative-fold property that
    makes an incremental apply trustworthy."""
    from kafka_exercise_spark.operators.merge import merge_upsert_profiles
    from kafka_exercise_spark.streaming.pipeline import (
        streaming_merge_replay,
    )

    got = {tuple(r) for r in streaming_merge_replay(spark, sf_dir).collect()}
    want = {tuple(r) for r in merge_upsert_profiles(spark, sf_dir).collect()}
    assert got == want and len(want) > 0
    actions = {r[-1] for r in want}
    assert "update" in actions


def test_streaming_scd2_replay_equals_batch_apply(spark, sf_dir):
    """The staging-fold replay's final history must equal the one-shot
    batch SCD2 apply row-for-row (tuples, not just counts)."""
    from kafka_exercise_spark.operators.merge import merge_scd2_apply
    from kafka_exercise_spark.streaming.pipeline import streaming_scd2_replay

    got = {tuple(r) for r in streaming_scd2_replay(spark, sf_dir).collect()}
    want = {tuple(r) for r in merge_scd2_apply(spark, sf_dir).collect()}
    assert got == want


def test_streaming_soft_draw_replay_equals_batch_draw(spark, sf_dir):
    """The replayed admission sheet must equal the batch draw exactly:
    the draw is a pure function of (salt, doc_id), so micro-batch
    arrival cannot change membership — re-derive keep decisions
    batch-side from the published soft-weights sheet and compare."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.functions.text import md5_hash64, tokens
    from kafka_exercise_spark.operators.dedup import dedup_soft_weights
    from kafka_exercise_spark.streaming.pipeline import (
        streaming_soft_draw_replay,
    )

    got = {
        r.source: r
        for r in streaming_soft_draw_replay(spark, sf_dir).collect()
    }
    w = dedup_soft_weights(spark, sf_dir).select("doc_id", "weight_ppm")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    draw = F.pmod(
        md5_hash64(
            F.concat(F.lit("softdraw:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    )
    expected = {
        r.source: r
        for r in docs.join(w, "doc_id")
        .withColumn("kept", draw < F.col("weight_ppm"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_tok"))), F.lit(0)
            ).alias("kept_tokens"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for src, e in expected.items():
        g = got[src]
        assert (g.n_docs, g.n_kept, g.kept_tokens) == (
            e.n_docs,
            e.n_kept,
            e.kept_tokens,
        )
        assert g.kept_ppm == g.n_kept * 1_000_000 // g.n_docs
    # idempotent replay: the second call serves the same landed state
    again = {
        r.source: r
        for r in streaming_soft_draw_replay(spark, sf_dir).collect()
    }
    assert {s: (r.n_docs, r.n_kept) for s, r in again.items()} == {
        s: (r.n_docs, r.n_kept) for s, r in got.items()
    }


def test_streaming_compaction_replay_equals_batch_compaction(spark, sf_dir):
    """The state-store fold of the changelog must equal the one-shot batch
    log compaction row-for-row, schema included."""
    from kafka_exercise_spark.operators.merge import log_compaction
    from kafka_exercise_spark.streaming.pipeline import (
        streaming_compaction_replay,
    )

    streamed = streaming_compaction_replay(spark, sf_dir)
    batch = log_compaction(spark, sf_dir)
    assert streamed.schema == batch.schema
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0
