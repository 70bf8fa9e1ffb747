"""kafka_exercise_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (neylsoncrepalde/kafka-exercise: Postgres → Kafka Connect →
ksqlDB → S3), re-expressed Spark-first:

- Query layer: DataFrame/SQL on Catalyst (projection, datetime formatting,
  filters, CASE classification, tumbling-window aggregation — SURVEY.md §2.2/§2.3).
- Pipeline layer: Structured Streaming (watermarked windowed aggregation,
  checkpointed parquet sinks, keyed-JSON foreachBatch sinks, memory sinks —
  SURVEY.md §2.1/§2.4) plus a custom incremental timestamp-mode source
  (SURVEY.md §2.1 S3).
- Scale layer: LLM-training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) designed for 100 TB / multi-executor scale.

Nothing here is copied from the reference; reference files are cited in
docstrings (file:line) purely to document behavioral parity.
"""

from kafka_exercise_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
