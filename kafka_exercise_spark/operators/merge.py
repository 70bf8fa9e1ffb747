"""Batch MERGE INTO semantics: apply a change batch to a keyed target.

The reference's pipeline continuously upserts operational state (its
JDBC-source → topic → sink loop, /root/reference/README.md:120-180); the
warehouse-side twin is ``MERGE INTO target USING changes`` — the Delta/
Iceberg maintenance statement Spark expresses as one full-outer join with
per-column CASE logic. The streaming analog already exists here
(``upsert_store_sink``, latest-write-wins per key); this is the batch
form with an explicit action audit column, the shape a nightly CDC apply
job takes. ``merge_apply`` and ``scd2_rows`` take two ``_profiles`` frames,
so the streaming replays (streaming/pipeline.py) apply a change side that
Spark's state store folded through the SAME functions.

Fixture framing: per-user profiles built from events BEFORE the split
instant are the target; events from AFTER it are the change batch. The
merge emits every resulting row tagged ``insert`` (new key), ``update``
(key in both — counts accumulate, last-observation fields take the
source side), or ``keep`` (untouched target row).

Scale shape: both sides aggregate with map-side combine onto the SAME
user_id key, and the merge itself is ONE full-outer shuffle join on that
key — no second pass, no driver state. Deterministic last-observation
choice via ``max_by`` on the exact (micros, event_id) tuple (the
resample op's trick), so the merge is bit-reproducible and the oracle
replays it with a row_number window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table

#: Change-batch split instant (epoch micros, 2024-01-16 00:00:00 UTC):
#: events before it form the target table, events at/after it the batch.
MERGE_SPLIT_US = 1_705_363_200_000_000


def _profiles(ev: DataFrame) -> DataFrame:
    """Per-user profile: event count, deterministic last observation and
    first-seen micros.

    The single source of truth for the profile definition. The batch
    entries aggregate a static frame with it; the streaming replays
    (streaming/pipeline.py) run the SAME aggregate on the replayed stream,
    where Spark's state store carries it across micro-batches. Every part
    is an order-insensitive aggregate (count, min, ``max_by`` on the exact
    (us, event_id) tuple), so the streamed fold equals the one-shot one.
    """
    us = F.unix_micros(F.col("ts"))
    last = F.max_by(
        F.struct("value", "us", "event_id"), F.struct("us", "event_id")
    )
    return (
        ev.select("user_id", "value", us.alias("us"), "event_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            last.alias("last"),
            F.min("us").alias("first_us"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("last.value").alias("last_value"),
            F.col("last.us").alias("last_seen_us"),
            "first_us",
        )
    )


def _merge_join(target: DataFrame, source: DataFrame) -> DataFrame:
    """target ⟗ source on the merge key, two ``_profiles`` frames in,
    columns (user_id, t_n, t_v, t_us, t_first, s_n, s_v, s_us, s_first)
    out."""

    def side(p: DataFrame, pre: str) -> DataFrame:
        return p.select(
            "user_id",
            F.col("n_events").alias(f"{pre}_n"),
            F.col("last_value").alias(f"{pre}_v"),
            F.col("last_seen_us").alias(f"{pre}_us"),
            F.col("first_us").alias(f"{pre}_first"),
        )

    return side(target, "t").join(side(source, "s"), "user_id", "full_outer")


def merge_apply(target: DataFrame, source: DataFrame) -> DataFrame:
    """MERGE the change-batch profiles into the target profiles.

    WHEN MATCHED: n_events accumulates, last_value/last_seen take the
    source side (the batch is strictly later). WHEN NOT MATCHED BY
    TARGET: insert. WHEN NOT MATCHED BY SOURCE: keep. One full-outer
    join on the merge key. Shared by ``merge_upsert_profiles`` and
    ``streaming_merge_replay``.
    """
    m = _merge_join(target, source)
    in_t = F.col("t_n").isNotNull()
    in_s = F.col("s_n").isNotNull()
    return m.select(
        "user_id",
        (F.coalesce("t_n", F.lit(0)) + F.coalesce("s_n", F.lit(0)))
        .cast("long")
        .alias("n_events"),
        F.when(in_s, F.col("s_v")).otherwise(F.col("t_v")).alias("last_value"),
        F.when(in_s, F.col("s_us")).otherwise(F.col("t_us")).alias("last_seen_us"),
        F.when(in_t & in_s, F.lit("update"))
        .when(in_s, F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def merge_upsert_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE the post-split change batch into the pre-split profile table
    (``merge_apply``)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return merge_apply(
        _profiles(ev.where(us < MERGE_SPLIT_US)),
        _profiles(ev.where(us >= MERGE_SPLIT_US)),
    )


def merge_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history apply: the same change batch as
    ``merge_upsert_profiles``, but the target keeps HISTORY — a matched
    key closes its old version and opens a new one instead of updating
    in place. This is the warehouse-side consumer the reference's
    inserts-only CDC capture implies (/root/reference/
    connect_postgres.config:9-14 captures an append stream; the
    dimension its dashboards join against needs validity intervals to
    answer "what did this profile look like when the order shipped").

    Versioning scheme (all exact integers, fully deterministic):

    - matched key → TWO rows: the CLOSED old version
      (``valid_from_us`` = first pre-split event, ``valid_to_us`` =
      the key's first post-split event = the instant the change became
      visible) and the OPEN new version (counts accumulated,
      last-observation fields from the batch, ``valid_to_us`` NULL);
    - batch-only key → one OPEN ``insert`` row;
    - target-only key → one OPEN ``keep`` row (untouched history).

    Scale shape: identical to the flat merge — two map-side-combined
    aggregates onto user_id and ONE full-outer shuffle join; the 1→2 row
    fan-out is a per-row ``explode`` of a 2-element array, map-side, no
    extra shuffle. At 100 TB the SCD2 table is partitioned by
    (is_current, bucket(user_id)) so the close-old/open-new rewrite
    touches only current-partition files.

    Oracle: a UNION ALL of per-action projections over the same
    full-outer join — plain ANSI SQL, value-hash-exact (counts, epoch
    micros, and pass-through doubles only; no float arithmetic).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return scd2_rows(
        _profiles(ev.where(us < MERGE_SPLIT_US)),
        _profiles(ev.where(us >= MERGE_SPLIT_US)),
    )


def scd2_rows(target: DataFrame, source: DataFrame) -> DataFrame:
    """The SCD2 close/open/insert/keep projection over target ⟗ source,
    two ``_profiles`` frames in — ONE definition shared by the batch apply
    above and ``streaming_scd2_replay``, whose change side is the
    state-store fold of the same aggregate."""
    m = _merge_join(target, source)
    in_t = F.col("t_n").isNotNull()
    in_s = F.col("s_n").isNotNull()
    null_us = F.lit(None).cast("long")

    def version(action, n, v, seen, frm, to):
        return F.struct(
            F.lit(action).alias("action"),
            n.cast("long").alias("n_events"),
            v.alias("last_value"),
            seen.cast("long").alias("last_seen_us"),
            frm.cast("long").alias("valid_from_us"),
            to.cast("long").alias("valid_to_us"),
        )

    closed_old = version(
        "close", F.col("t_n"), F.col("t_v"), F.col("t_us"),
        F.col("t_first"), F.col("s_first"),
    )
    opened_new = version(
        "open", F.col("t_n") + F.col("s_n"), F.col("s_v"), F.col("s_us"),
        F.col("s_first"), null_us,
    )
    inserted = version(
        "insert", F.col("s_n"), F.col("s_v"), F.col("s_us"),
        F.col("s_first"), null_us,
    )
    kept = version(
        "keep", F.col("t_n"), F.col("t_v"), F.col("t_us"),
        F.col("t_first"), null_us,
    )
    rows = (
        F.when(in_t & in_s, F.array(closed_old, opened_new))
        .when(in_s, F.array(inserted))
        .otherwise(F.array(kept))
    )
    # explode in its own select (generators can't nest), fields next
    exploded = m.select("user_id", F.explode(rows).alias("r"))
    return exploded.select(
        "user_id",
        F.col("r.action").alias("action"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.last_value").alias("last_value"),
        F.col("r.last_seen_us").alias("last_seen_us"),
        F.col("r.valid_from_us").alias("valid_from_us"),
        F.col("r.valid_to_us").alias("valid_to_us"),
        F.col("r.valid_to_us").isNull().alias("is_current"),
    )


#: Log-compaction tombstone rule for the fixture changelog: an event whose
#: ``value`` falls below this marks a DELETE of its key — the stand-in for
#: Kafka's null-value tombstone record (the fixture carries no nulls).
TOMBSTONE_BELOW = 2.0


def compact_log(ev: DataFrame) -> DataFrame:
    """Per (user_id, event_type) key: the max-(us, event_id) record and the
    key's record count, keys whose latest record is a tombstone dropped.

    ONE aggregate, shared by ``log_compaction`` (a static frame) and
    ``streaming_compaction_replay`` (the replayed stream, folded by Spark's
    state store). ``max_by`` over a total order and ``count`` are both
    order-insensitive, so any micro-batch split converges to the same
    compacted log — the property that lets a broker compact segments in
    any order.
    """
    us = F.unix_micros(F.col("ts")).alias("us")
    last = F.max_by(
        F.struct("event_id", "value", "props", us), F.struct(us, "event_id")
    )
    return (
        ev.groupBy("user_id", "event_type")
        .agg(last.alias("l"), F.count("*").alias("n"))
        .filter(F.col("l.value") >= TOMBSTONE_BELOW)
        .select(
            "user_id",
            "event_type",
            F.col("l.event_id").alias("last_event_id"),
            F.col("l.value").alias("value"),
            F.col("l.props").alias("props"),
            F.col("l.us").alias("last_us"),
            (F.col("n") - 1).cast("long").alias("n_superseded"),
        )
    )


def log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka log-compaction semantics over the events changelog — the
    log-side dual of MERGE INTO: for every key only the LATEST record
    matters, and a key whose latest record is a tombstone disappears
    from the compacted log entirely (kafka.apache.org compaction
    contract; the reference's Connect pipeline lands on compact-style
    keyed topics, /root/reference/connect_postgres.config:9-14).

    Fixture framing: key = (user_id, event_type); records order by the
    exact (unix_micros(ts), event_id) tuple — the same total order every
    CDC op here uses, so compaction is bit-reproducible; a record with
    ``value < TOMBSTONE_BELOW`` stands in for Kafka's null-value
    tombstone. Emitted per SURVIVING key: the latest value/props/ts and
    how many superseded records compaction dropped (the log-shrink
    audit a topic owner reads).

    Scale shape: one map-side-combined aggregate (``compact_log``), so ONE
    shuffle on the key. At 100 TB keys partition freely (no global
    order), exactly how broker-side compaction scales by partition.
    """
    return compact_log(load_table(spark, sf_dir, "events"))
