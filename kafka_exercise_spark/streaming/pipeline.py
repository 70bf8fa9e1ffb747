"""Persistent-query manager + the reference topology as streaming plans.

The reference runs three persistent queries forever on the ksqlDB server
(CSAS ``jovens`` README.md:233, CSAS ``idadeclass`` README.md:258, CTAS
``idadecont`` README.md:271), each feeding a topic/sink. Here each is a
Structured Streaming query with its own checkpoint — ``PipelineManager``
tracks them by name, the engine-side analog of ``show queries`` /
``show connectors`` (README.md:167-175).

Watermark policy (SURVEY.md §7 risk 3 / §2.4 T4): the reference declares no
grace period and inherits ksqlDB's implicit 24 h. We make it explicit and
configurable (default "1 minute") — an intentional, documented divergence:
unbounded implicit state is exactly what breaks at 100 TB.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_exercise_spark.catalog import load_table, memo, rm_parent_dir
from kafka_exercise_spark.operators.merge import (
    MERGE_SPLIT_US,
    _profiles,
    compact_log,
    merge_apply,
    scd2_rows,
)
from kafka_exercise_spark.operators.pipeline_ops import (
    custstream_pretty_transform,
    idadeclass_transform,
    idadecont_transform,
)
from kafka_exercise_spark.streaming import sinks
from kafka_exercise_spark.streaming.sources import file_stream, land_events_replay
from kafka_exercise_spark.streaming.stateful import run_bounded_replay

DEFAULT_WATERMARK = "1 minute"

#: The jovens CSAS cutoff on the formatted event date (reference
#: README.md:238's '2000-01-01' mapped to the fixture's time range).
#: Shared by the persistent query, the serving drain, and the oracle.
JOVENS_STREAM_CUTOFF = "2024-01-15"


@dataclass
class PipelineManager:
    """Named persistent queries over one SparkSession."""

    spark: SparkSession
    checkpoint_root: str
    queries: dict[str, StreamingQuery] = field(default_factory=dict)

    def _ckpt(self, name: str) -> str:
        return f"{self.checkpoint_root}/{name}"

    def register(self, name: str, query: StreamingQuery) -> StreamingQuery:
        self.queries[name] = query
        return query

    def start_jovens(
        self, events: DataFrame, out_path: str, flush_size: int = 10,
        trigger_once: bool = False,
    ) -> StreamingQuery:
        """CSAS jovens analog: project+format+filter → parquet lake path
        (reference README.md:233-239 + connect_s3_sink_jovens.config)."""
        pretty = custstream_pretty_transform(events)
        young = pretty.filter(pretty.dt_event >= JOVENS_STREAM_CUTOFF)
        return self.register(
            "jovens",
            sinks.parquet_sink(
                young, out_path, self._ckpt("jovens"), "jovens",
                max_records_per_file=flush_size, trigger_once=trigger_once,
            ),
        )

    def start_idadecont(
        self,
        events: DataFrame,
        out_path: str,
        watermark: str = DEFAULT_WATERMARK,
        trigger_once: bool = False,
    ) -> StreamingQuery:
        """CTAS idadecont analog: classify → watermark → tumbling 30 s count
        → keyed JSON export (reference README.md:271-276 +
        connect_s3_sink_count.config:18)."""
        classified = idadeclass_transform(events)
        counted = idadecont_transform(classified, watermark_delay=watermark)
        return self.register(
            "idadecont",
            sinks.keyed_json_sink(
                counted, out_path, self._ckpt("idadecont"), "idadecont",
                key_cols=["idadecat", "window_start", "window_end"],
                trigger_once=trigger_once,
            ),
        )

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()
        self.queries.clear()


# ---- driver-contract entries (bounded, self-contained runs) ----


def streaming_idadecont_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CTAS idadecont topology run as a REAL streaming query over a
    bounded replay of ``events``, returning the final state.

    This is the driver-checkable form of SURVEY.md §2.4: source →
    watermark → tumbling 30 s count → sink, executed by StreamExecution
    (micro-batches, state store), not the batch planner. Because streaming
    final state ≡ batch aggregation (the Structured Streaming model), the
    DuckDB oracle is the plain windowed GROUP BY.
    """
    from kafka_exercise_spark.functions import timestamptostring

    # shared memoized landing (one write per session+sf); ckpt stays fresh
    src_dir, schema = land_events_replay(spark, sf_dir)
    name = "idadecont_replay_contract"
    stream = file_stream(spark, src_dir, schema, max_files_per_trigger=None)
    counted = idadecont_transform(
        idadeclass_transform(stream), watermark_delay=DEFAULT_WATERMARK
    )
    with tempfile.TemporaryDirectory(prefix="idadecont_replay_ckpt_") as work:
        run_bounded_replay(
            spark,
            counted,
            checkpoint=os.path.join(work, "ckpt"),
            name=name,
            output_mode="complete",
        )
    # window bounds as strings — same hash-stable shape as the batch
    # idadecont entry (FIXTURES.md §4)
    return spark.table(name).select(
        timestamptostring("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        timestamptostring("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "idadecat",
        "contagem",
    )


def streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch data-quality gate with dead-letter routing, run under
    REAL StreamExecution: each arriving batch is tagged by the shared
    row-level contract (operators/dataquality.event_row_violations), clean
    rows land in the publish dir, tagged rows in the quarantine dir WITH
    their violation tags — the ingest-side quality gate every production
    stream runs in front of its lake.

    foreachBatch makes ONE write per micro-batch, partitioned by the
    routing decision (``routed=publish`` / ``routed=quarantine`` under
    ``batch=<id>``) — a single job over a single scan of the batch, with
    overwrite for idempotent replay (same exactly-once contract as the
    keyed JSON sink). Routing is a map-side expression — the gate adds
    zero shuffles to the stream. Final landed state ≡ the batch tagging of
    the whole fixture, so the oracle is a plain GROUP BY over the same
    CASE logic.
    """
    from kafka_exercise_spark.operators.dataquality import (
        event_row_violations,
    )

    def _gate():
        src_dir, schema = land_events_replay(spark, sf_dir)
        work = tempfile.mkdtemp(prefix="dq_gate_")
        out = os.path.join(work, "gated")

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            tagged = batch_df.withColumn("violations", event_row_violations())
            routed = tagged.withColumn(
                "routed",
                F.when(F.col("violations") == "", "publish").otherwise(
                    "quarantine"
                ),
            )
            routed.write.mode("overwrite").partitionBy("routed").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        stream = file_stream(spark, src_dir, schema, max_files_per_trigger=None)
        run_bounded_replay(
            spark,
            stream,
            checkpoint=os.path.join(work, "ckpt"),
            foreach_batch=gate,
        )
        return out

    out = memo(spark, "dq_gate", sf_dir, _gate, cleanup=rm_parent_dir)

    landed = spark.read.option("recursiveFileLookup", "true").parquet(out)
    return landed.groupBy("violations").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


def incremental_source_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timestamp-mode incremental source (SURVEY.md §2.1 S3) polled once
    from a persisted high-water mark — returns exactly the rows with a
    cursor beyond the mark, the connector's ``WHERE dt_update > :hwm``
    capture (reference connect_postgres.config:9-10)."""
    import json

    from kafka_exercise_spark.sources.incremental import TimestampModeSource

    def reader(s: SparkSession) -> DataFrame:
        return load_table(s, sf_dir, "events")

    # poll_once reads the mark when called; the frame does not need the file
    with tempfile.TemporaryDirectory(prefix="hwm_") as work:
        state = os.path.join(work, "state.json")
        with open(state, "w") as f:
            json.dump({"hwm": "2024-01-16 00:00:00", "cursor_col": "ts"}, f)
        src = TimestampModeSource(spark, reader, cursor_col="ts", state_path=state)
        polled = src.poll_once()
    return polled.select("event_id", "user_id", "event_type", "value", "props")


def streaming_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation admission control under REAL StreamExecution:
    documents replayed in micro-batches, each batch scored by the SHARED
    curation decision projection (operators/textops.curation_decisions —
    batch and stream can never disagree on policy) and routed
    keep → publish dir, drop → reject dir WITH its reason string — the
    ingest-side shape of continuous corpus curation.

    One write per micro-batch, partitioned by the routing decision under
    ``batch=<id>`` with overwrite for idempotent replay (the
    ``streaming_dq_gate`` contract). The decision is a map-side expression
    — zero added shuffles. Final landed state ≡ the batch curation of the
    whole fixture rolled up per source, so the oracle is a plain GROUP BY
    over the same signal expressions.
    """
    from kafka_exercise_spark.operators.textops import curation_decisions

    def _gate():
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        work = tempfile.mkdtemp(prefix="curation_gate_")
        src = os.path.join(work, "src")
        out = os.path.join(work, "gated")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        schema = docs.schema

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            decided = curation_decisions(batch_df).withColumn(
                "routed",
                F.when(F.col("keep"), "publish").otherwise("reject"),
            )
            decided.drop("text").write.mode("overwrite").partitionBy(
                "routed"
            ).parquet(os.path.join(out, f"batch={batch_id}"))

        stream = file_stream(spark, src, schema, max_files_per_trigger=2)
        run_bounded_replay(
            spark,
            stream,
            checkpoint=os.path.join(work, "ckpt"),
            foreach_batch=gate,
        )
        return out

    out = memo(spark, "curation_gate", sf_dir, _gate, cleanup=rm_parent_dir)

    # plain partition discovery (NOT recursiveFileLookup, which disables
    # it): batch=<id>/routed=<decision> both come back as columns
    landed = spark.read.parquet(out)
    kept = F.when(F.col("routed") == "publish", 1).otherwise(0)
    return (
        landed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(1 - kept).cast("long").alias("n_rejected"),
        )
        .withColumn(
            "kept_ppm", F.expr("(n_kept * 1000000) div n_docs")
        )
    )


def _state_store_fold(spark: SparkSession, sf_dir: str, name: str, fold) -> DataFrame:
    """Run ``fold`` — a per-key aggregate — on the events landing replayed
    as a REAL multi-batch stream (8 files, 2 per trigger → 4 triggers) in
    complete mode: Spark's state store carries the aggregate across
    micro-batches, and the memory sink ``name`` holds its final state,
    which is returned. The checkpoint dir goes away with the run, failed
    or not; the memory table does not live in it."""
    src_dir, schema = land_events_replay(spark, sf_dir)
    stream = file_stream(spark, src_dir, schema, max_files_per_trigger=2)
    with tempfile.TemporaryDirectory(prefix=f"{name}_ckpt_") as work:
        run_bounded_replay(
            spark,
            fold(stream),
            checkpoint=os.path.join(work, "ckpt"),
            name=name,
            output_mode="complete",
        )
    return spark.table(name)


def _replayed_profiles(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, DataFrame]:
    """(pre-split target, post-split change) ``_profiles`` frames; the
    change side is the state-store fold of the replayed stream."""
    us = F.unix_micros(F.col("ts"))
    target = _profiles(
        load_table(spark, sf_dir, "events").where(us < MERGE_SPLIT_US)
    )
    changes = _state_store_fold(
        spark, sf_dir, name, lambda ev: _profiles(ev.where(us >= MERGE_SPLIT_US))
    )
    return target, changes


def streaming_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch MERGE (operators/merge.py) as a LIVE CDC apply under real
    StreamExecution: the post-split change profiles are the SAME
    ``_profiles`` aggregate run on the replayed stream, folded across
    micro-batches by Spark's state store, then applied to the pre-split
    target through the SAME ``merge_apply`` the batch entry uses. The
    aggregate is order-insensitive (count, min, ``max_by`` on the exact
    (us, event_id) tuple), so any micro-batch split converges to the
    one-shot batch merge, which is the oracle; the state store's
    checkpointed versions make a re-delivered batch idempotent.
    """

    def _replay():
        return merge_apply(
            *_replayed_profiles(spark, sf_dir, "merge_replay_contract")
        ).localCheckpoint()

    return memo(spark, "merge_replay", sf_dir, _replay)


def streaming_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 apply (operators/merge.py merge_scd2_apply) fed by a LIVE
    CDC staging fold: the post-split change profiles are the SAME
    ``_profiles`` aggregate run on the replayed stream and folded by
    Spark's state store, and the close-old/open-new history apply runs
    once over the final staging through the SAME ``scd2_rows`` — the
    nightly-apply pattern a warehouse runs against a streaming-landed CDC
    staging table. Final history ≡ the one-shot batch SCD2, same oracle.
    """

    def _replay():
        return scd2_rows(
            *_replayed_profiles(spark, sf_dir, "scd2_replay_contract")
        ).localCheckpoint()

    return memo(spark, "scd2_replay", sf_dir, _replay)


def streaming_compaction_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction as the LIVE process it actually is on a broker: the
    events changelog arrives in micro-batches under real StreamExecution
    and the SAME ``compact_log`` aggregate as the batch
    ``operators/merge.log_compaction`` folds them in Spark's state store
    (max-(us, event_id) record per key, counts add). The final state with
    tombstones filtered equals the batch compaction — the SAME oracle, by
    design — whatever the micro-batch split, the property that lets Kafka
    compact segments in any order.
    """

    def _replay():
        return _state_store_fold(
            spark, sf_dir, "compaction_replay_contract", compact_log
        ).localCheckpoint()

    return memo(spark, "compaction_replay", sf_dir, _replay)


def streaming_model_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the TRAINED quality model online: documents replayed in
    micro-batches under real StreamExecution, each batch featurized LIVE
    by the SAME ``perceptron_featurize`` primitive the training table
    used and scored against the SAME served weights
    (``perceptron_model_weights``) — the fastText-gate-at-ingest shape,
    and the model twin of ``streaming_curation_gate`` (which deploys the
    rule battery). Because featurizer and weights are shared objects,
    train-time and serve-time scoring can never skew; per-doc scores are
    independent, so the union over micro-batches equals the batch
    ``perceptron_apply_scores`` exactly and the two entries share one
    oracle.

    Scale shape: the weights ride in the closure as a 66-int literal
    (at 100 TB: the model artifact every executor holds); each
    micro-batch pays one map + (doc, bucket) combine + doc aggregate —
    no state store, no corpus access. Results append to a parquet sink
    dir (exactly-once via the foreachBatch append + file-source log).
    """
    from kafka_exercise_spark.operators.dedup import _split_of  # noqa: PLC0415
    from kafka_exercise_spark.operators.textops import (  # noqa: PLC0415
        perceptron_featurize,
        perceptron_model_weights,
        perceptron_score,
    )

    def _replay():
        w = perceptron_model_weights(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        with tempfile.TemporaryDirectory(prefix="model_gate_") as work:
            src = os.path.join(work, "src")
            out = os.path.join(work, "out")
            docs.repartition(4).write.mode("overwrite").parquet(src)
            schema = docs.schema

            def score(batch_df: DataFrame, batch_id: int) -> None:
                scored = perceptron_score(perceptron_featurize(batch_df), w)
                scored.select(
                    "doc_id",
                    _split_of(F.col("doc_id")).alias("split"),
                    "margin",
                    "keep",
                ).write.mode("append").parquet(out)

            stream = file_stream(spark, src, schema, max_files_per_trigger=2)
            run_bounded_replay(
                spark,
                stream,
                checkpoint=os.path.join(work, "ckpt"),
                name="model_gate_contract",
                foreach_batch=score,
            )
            final = spark.read.parquet(out).localCheckpoint()
        return final

    return memo(spark, "model_gate", sf_dir, _replay)


def streaming_model_update_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ONLINE form of ``perceptron_incremental_update``: the arriving
    src0 batch replayed in micro-batches under real StreamExecution, each
    micro-batch featurized LIVE (``perceptron_featurize``), rule-labeled
    LIVE (``gopher_decisions`` — the SAME frame-shaped battery the
    training labels came from), scored against the FIXED served weights,
    and its misclassified docs' partial weight deltas appended to the
    sink. Because the synchronized round's misclassification test reads
    only the FIXED pre-round weights, per-doc delta contributions are
    additive across micro-batches — the summed partials equal the batch
    round's ledger EXACTLY, so the two entries share one oracle (the
    ``streaming_model_gate_replay`` contract, applied to maintenance).

    Scale shape per micro-batch: one map + (doc, bucket) combine, one
    doc aggregate against the 66-int weight literal, one bounded
    ≤``PERC_DIM``-row partial-delta append — no state store, no corpus
    access; the final fold is one ``PERC_DIM``-bounded groupBy over the
    landed partials. This is the parameter-server gradient-push shape:
    workers push bounded deltas, the fold applies them once per round.
    """
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        INCREMENTAL_NEW_SOURCE,
    )
    from kafka_exercise_spark.operators.textops import (  # noqa: PLC0415
        PERC_DIM,
        gopher_decisions,
        perceptron_featurize,
        perceptron_model_weights,
        perceptron_score,
    )

    def _replay():
        w = perceptron_model_weights(spark, sf_dir)
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("source") == INCREMENTAL_NEW_SOURCE)
            .select("doc_id", "text")
        )
        with tempfile.TemporaryDirectory(prefix="model_update_") as work:
            src = os.path.join(work, "src")
            out = os.path.join(work, "out")
            docs.repartition(4).write.mode("overwrite").parquet(src)
            schema = docs.schema

            def push_deltas(batch_df: DataFrame, batch_id: int) -> None:
                feats = perceptron_featurize(batch_df)
                labels = gopher_decisions(batch_df).select(
                    "doc_id",
                    F.when(F.col("keep"), F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    .alias("y"),
                )
                miscl = (
                    perceptron_score(feats, w)
                    .join(labels, "doc_id")
                    .filter(F.col("y") * F.col("margin") <= 0)
                    .select("doc_id", "y")
                )
                (
                    feats.join(miscl, "doc_id")
                    .groupBy("bucket")
                    .agg(F.sum(F.col("y") * F.col("cnt")).cast("long").alias("dw"))
                    .write.mode("append")
                    .parquet(out)
                )

            stream = file_stream(spark, src, schema, max_files_per_trigger=2)
            run_bounded_replay(
                spark,
                stream,
                checkpoint=os.path.join(work, "ckpt"),
                name="model_update_contract",
                foreach_batch=push_deltas,
            )
            folded = (
                spark.read.parquet(out)
                .groupBy("bucket")
                .agg(F.sum("dw").cast("long").alias("dw"))
            )
            w_lit = F.lit(w).cast("array<bigint>")
            grid = spark.range(PERC_DIM).select(
                F.col("id").cast("int").alias("bucket")
            )
            w_before = F.element_at(w_lit, F.col("bucket") + 1)
            final = (
                grid.join(folded, "bucket", "left")
                .select(
                    F.col("bucket").cast("long").alias("bucket"),
                    w_before.cast("long").alias("w_before"),
                    F.coalesce(F.col("dw"), F.lit(0)).cast("long").alias("dw"),
                    (w_before + F.coalesce(F.col("dw"), F.lit(0)))
                    .cast("long")
                    .alias("w_after"),
                )
                .localCheckpoint()
            )
        return final

    return memo(spark, "model_update", sf_dir, _replay)


def streaming_soft_draw_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup sampling as STREAMING admission control under real
    StreamExecution — the construction layer's ingest twin (the
    ``streaming_curation_gate`` shape applied to the weighted-selection
    capstone's DRAW stage): documents arrive in micro-batches, each
    batch probes the served near-dup component frame (the long-lived
    index side — ``dedup_components`` is already memo-served, the lake
    table analog), computes its soft weight via the SHARED
    ``SOFT_WEIGHT_PPM_EXPR`` fragment, and keeps a doc iff its
    hash-Bernoulli draw lands under the weight — Lee et al. 2022's
    count-once-in-expectation sampling, live at ingest.

    The draw is a pure integer function of (salt, doc_id) — the exact
    property that makes it STREAMABLE: no per-batch state, no order
    dependence, union over micro-batches ≡ the batch draw, so the
    oracle composes from the published soft-weights sheet. (The fill
    stage is deliberately NOT streamed: greedy budget fill is a global
    hash-order decision — its streaming form needs a per-source
    running-total state whose admissions would depend on arrival order,
    a different contract than the batch selection; the draw is the
    stage with an exact streaming twin.)

    Each micro-batch lands keep/drop-routed parquet with its token
    count and weight under ``batch=<id>`` (overwrite → idempotent
    replay, the gate family's contract); the entry folds the landed
    state to the per-source admission sheet: docs seen, docs kept,
    kept token mass, realized keep rate in ppm — vs the weights sheet's
    EXPECTED rate, the acceptance check a continuous-ingest owner
    reads. Zero added shuffles inside a batch (one doc-keyed join to
    the O(near-dup) served frame — AQE broadcasts while it fits — and
    map-side expressions).
    """
    from kafka_exercise_spark.functions.text import (  # noqa: PLC0415
        md5_hash64,
        tokens,
    )
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        SOFT_WEIGHT_PPM_EXPR,
        dedup_components,
    )

    def _draw():
        comps = dedup_components(spark, sf_dir).select(
            "doc_id", "comp_size"
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        work = tempfile.mkdtemp(prefix="soft_draw_")
        src = os.path.join(work, "src")
        out = os.path.join(work, "drawn")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        schema = docs.schema
        draw = F.pmod(
            md5_hash64(
                F.concat(
                    F.lit("softdraw:"), F.col("doc_id").cast("string")
                )
            ),
            F.lit(1_000_000),
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            decided = (
                batch_df.join(comps, "doc_id", "left")
                .withColumn(
                    "weight_ppm",
                    F.expr(SOFT_WEIGHT_PPM_EXPR).cast("long"),
                )
                .withColumn(
                    "n_tok", F.size(tokens(F.col("text"))).cast("long")
                )
                .withColumn(
                    "routed",
                    F.when(draw < F.col("weight_ppm"), "keep").otherwise(
                        "drop"
                    ),
                )
            )
            decided.select(
                "doc_id", "source", "n_tok", "weight_ppm", "routed"
            ).write.mode("overwrite").partitionBy("routed").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        stream = file_stream(spark, src, schema, max_files_per_trigger=2)
        run_bounded_replay(
            spark,
            stream,
            checkpoint=os.path.join(work, "ckpt"),
            foreach_batch=admit,
        )
        return out

    out = memo(spark, "soft_draw", sf_dir, _draw, cleanup=rm_parent_dir)

    landed = spark.read.parquet(out)
    kept = F.when(F.col("routed") == "keep", 1).otherwise(0)
    return (
        landed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("routed") == "keep", F.col("n_tok"))),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("(n_kept * 1000000) div n_docs").cast("long"),
        )
    )
