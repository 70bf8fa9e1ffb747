"""Streaming sinks (SURVEY.md §2.1 S5-S8).

- **parquet_sink** — checkpointed append to a lake path; ``flush.size``
  parity via ``maxRecordsPerFile`` (reference connect_s3_sink_jovens.config:6
  rolls a file every 10 records). Exactly-once from the file-sink manifest.
- **keyed_json_sink** — the S7 analog (connect_s3_sink_count.config:18
  ``store.kafka.keys: true``): an update-mode aggregate drained as JSON
  objects *including the record key columns*. Spark's file sink is
  append-only, so this is ``foreachBatch`` writing each micro-batch's
  updates — the documented pattern for changelog→file export.
- **avro_topic_sink** — CSAS into an Avro-valued topic, as Confluent-framed
  binary values (S5); ``read_avro_topic`` decodes the landing back.
- **upsert_store_sink** — changelog → keyed store, latest write wins (T7).

The S8 inspection surface (push query / ``print topic``) is the memory sink
``stateful.run_bounded_replay`` writes for every contract replay.

Every sink takes an explicit checkpoint dir: the engine-side analog of the
Connect offsets topic (reference docker-compose.yml:70-76).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    name: str,
    max_records_per_file: int = 10,
    trigger_once: bool = False,
) -> StreamingQuery:
    writer = (
        df.writeStream.format("parquet")
        .queryName(name)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("maxRecordsPerFile", max_records_per_file)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def keyed_json_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    name: str,
    key_cols: list[str],
    trigger_once: bool = False,
) -> StreamingQuery:
    """foreachBatch JSON writer for update-mode aggregates.

    Each micro-batch's changed rows land as ``batch=<id>`` JSON files with
    the key columns first (the reference exports changelog records with
    their Kafka keys). Idempotent per batch id: re-running a batch
    overwrites its own directory, preserving exactly-once on retry.
    """

    ordered = key_cols + [c for c in df.columns if c not in key_cols]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(*ordered)
            .write.mode("overwrite")
            .json(os.path.join(path, f"batch={batch_id}"))
        )

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def avro_topic_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    name: str,
    schema_json: str,
    schema_id: int = 1,
    trigger_once: bool = False,
) -> StreamingQuery:
    """CSAS → Avro-valued topic, materialized as a binary ``value`` landing.

    The reference's CSAS output (``CREATE STREAM jovens WITH
    (value_format='AVRO') AS SELECT …``, reference README.md:233-239) is a
    Kafka topic of Confluent-framed Avro binary values (keyless stream —
    keyed changelog export is S7/``keyed_json_sink``). This sink produces
    byte-identical payloads into a parquet landing of one binary ``value``
    column — exactly what ``writeStream.format("kafka")`` would publish, so
    pointing at a real broker is a format-only swap. Encoding uses the
    spec-pinned pure-Python codec (functions/avro_wire.py); with the
    spark-avro jar present, swap in ``to_avro`` JVM-side (``use_jvm_avro``).

    foreachBatch keeps the wire encode Arrow-batched (never row-at-a-time):
    each micro-batch is encoded, framed with the Confluent header, and
    written to its own ``batch-<id>`` directory with overwrite — a replayed
    micro-batch (failure between sink write and checkpoint commit)
    overwrites its own output instead of appending duplicates, preserving
    the exactly-once the Kafka sink gets from checkpointed offsets.
    """
    from pyspark.sql import functions as F

    from kafka_exercise_spark.functions.avro_wire import avro_encode, frame_confluent

    header = frame_confluent(b"", schema_id)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        encoded = avro_encode(batch_df, schema_json, out_col="value")
        framed = encoded.select(
            F.concat(F.lit(bytearray(header)), F.col("value")).alias("value")
        )
        framed.write.mode("overwrite").parquet(
            os.path.join(path, f"batch-{batch_id}")
        )

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_avro_topic(
    spark, path: str, schema_json: str, mode: str = "FAILFAST"
) -> DataFrame:
    """Decode a landed Avro topic dir back to typed wire columns — the
    consumer side of ``avro_topic_sink`` (S4's decode applied to the S5
    landing). The Confluent magic byte is validated JVM-side before any
    body bytes reach the codec."""
    from kafka_exercise_spark.functions.avro_wire import avro_decode, unframe_column

    raw = spark.read.option("recursiveFileLookup", "true").parquet(path)
    body = raw.select(unframe_column("value", mode=mode))
    return avro_decode(body, schema_json, mode=mode)


def upsert_store_sink(
    df: DataFrame,
    store_path: str,
    checkpoint: str,
    name: str,
    key_cols: list[str],
    trigger_once: bool = False,
) -> StreamingQuery:
    """Changelog → keyed external store with UPSERT semantics (§2.4 T7).

    The reference drains its table changelog to S3 as append-only keyed
    JSON (connect_s3_sink_count.config) and leaves compaction to the
    reader; a real serving store wants one row per key, latest write wins.
    This sink maintains exactly that: each update-mode micro-batch merges
    into a parquet store keyed on ``key_cols`` — read current store, union
    the batch (stamped with batch_id), keep ``row_number() = 1`` per key by
    descending batch stamp, atomically swap directories.

    Scale posture: this is the MERGE pattern a table format (Delta/Hudi/
    Iceberg) runs transactionally with file-level pruning; on plain parquet
    the rewrite is O(store) per batch, correct for modest keyed state (an
    aggregate changelog: |keys| rows, not |events|). Single-writer by
    construction (one streaming query owns the store); the swap/crash
    recovery is the shared ``recover_swap_state``/``commit_dir_swap``
    machinery from sources/lake.py.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_exercise_spark.sources.lake import (
        commit_dir_swap,
        recover_swap_state,
        swap_side_dir,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamped = batch_df.withColumn("_batch", F.lit(batch_id))
        recover_swap_state(store_path)
        if os.path.exists(store_path):
            merged = spark.read.parquet(store_path).unionByName(stamped)
        else:
            merged = stamped
        w = Window.partitionBy(*key_cols).orderBy(F.desc("_batch"))
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        latest.write.mode("overwrite").parquet(swap_side_dir(store_path))
        commit_dir_swap(store_path)

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
