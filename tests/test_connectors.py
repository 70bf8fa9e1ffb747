"""S1→S2→S3→S6 end-to-end: generator → source dir → timestamp-mode CDC →
registered sink, driven through the Connect-REST-shaped registry."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.connectors import (
    JDBC_SOURCE_CLASS,
    JSON_FORMAT,
    PARQUET_FORMAT,
    S3_SINK_CLASS,
    ConnectorRegistry,
)
from kafka_exercise_spark.sources import generator


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="connector_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_generator_is_deterministic_and_shaped(spark):
    a = generator.customers_batch(spark, 50, tick=3)
    b = generator.customers_batch(spark, 50, tick=3)
    assert a.columns == [
        "nome", "sexo", "endereco", "telefone", "email",
        "foto", "nascimento", "profissao", "dt_update",
    ]
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # dt_update is strictly increasing across ticks
    t3_max = a.agg(F.max("dt_update")).collect()[0][0]
    t4_min = (
        generator.customers_batch(spark, 50, tick=4)
        .agg(F.min("dt_update")).collect()[0][0]
    )
    assert t4_min > t3_max


def _source_payload(src_dir: str, state: str) -> dict:
    # field vocabulary of reference connect_postgres.config
    return {
        "name": "psg-customers-source",
        "config": {
            "connector.class": JDBC_SOURCE_CLASS,
            "mode": "timestamp",
            "timestamp.column.name": "dt_update",
            "table.whitelist": "public.customers",
            "topic.prefix": "psg-",
            "poll.interval.ms": "500",
            "connection.url": f"parquet://{src_dir}",
            "offsets.path": state,
        },
    }


def _sink_payload(root: str, fmt: str, topic: str = "psg-customers") -> dict:
    # field vocabulary of reference connect_s3_sink_*.config
    return {
        "name": f"sink-{topic}",
        "config": {
            "connector.class": S3_SINK_CLASS,
            "format.class": fmt,
            "flush.size": "10",
            "topics": topic,
            "topics.dir": "raw-data/kafka",
            "local.root": root,
        },
    }


def test_registry_lifecycle_and_cdc_flow(spark, workdir):
    src_dir = os.path.join(workdir, "customers")
    state = os.path.join(workdir, "offsets.json")
    generator.append_ticks(spark, src_dir, n=40, ticks=2)

    reg = ConnectorRegistry(spark)
    reg.register(_source_payload(src_dir, state))
    reg.register(_sink_payload(workdir, PARQUET_FORMAT))
    assert reg.list() == ["psg-customers-source", "sink-psg-customers"]
    assert reg.status("psg-customers-source")["state"] == "RUNNING"

    # poll 1: full snapshot (no hwm yet)
    moved = reg.run_source_to_sink(
        "psg-customers-source", "sink-psg-customers", polls=1
    )
    assert moved == 80

    # new ticks arrive; poll again — ONLY the delta moves (hwm persisted)
    generator.append_ticks(spark, src_dir, n=40, ticks=1, start_tick=2)
    moved = reg.run_source_to_sink(
        "psg-customers-source", "sink-psg-customers", polls=1
    )
    assert moved == 40

    # landed data: complete, no duplicates
    sink_path = f"{workdir}/raw-data/kafka/psg-customers"
    landed = spark.read.parquet(sink_path)
    assert landed.count() == 120
    assert landed.select("email").distinct().count() == 120
    # flush.size parity: no file holds more than 10 records
    files = [
        f for f in os.listdir(sink_path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    assert len(files) >= 12


def test_paused_connector_moves_nothing(spark, workdir):
    src_dir = os.path.join(workdir, "customers")
    state = os.path.join(workdir, "offsets.json")
    generator.append_ticks(spark, src_dir, n=10, ticks=1)
    reg = ConnectorRegistry(spark)
    reg.register(_source_payload(src_dir, state))
    reg.register(_sink_payload(workdir, JSON_FORMAT))
    reg.pause("sink-psg-customers")
    assert reg.run_source_to_sink(
        "psg-customers-source", "sink-psg-customers", polls=1
    ) == 0
    reg.resume("sink-psg-customers")
    assert reg.run_source_to_sink(
        "psg-customers-source", "sink-psg-customers", polls=1
    ) == 10


def test_commit_ignores_null_cursor(spark, tmp_path):
    """A batch whose cursor values are all NULL must not poison the hwm:
    persisting str(None) would turn every later poll's predicate into
    `> CAST('None' AS TIMESTAMP)` = NULL and emit zero rows forever."""
    from kafka_exercise_spark.sources.generator import append_ticks
    from kafka_exercise_spark.sources.incremental import (
        TimestampModeSource,
        parquet_dir_reader,
    )

    src_dir = str(tmp_path / "cust")
    append_ticks(spark, src_dir, n=3, ticks=1)
    source = TimestampModeSource(
        spark,
        reader=parquet_dir_reader(src_dir),
        cursor_col="dt_update",
        state_path=str(tmp_path / "state.json"),
    )
    n0 = source.poll_once().count()
    assert n0 == 3
    source.commit(None)  # all-NULL-cursor batch: hwm unchanged
    assert source.poll_once().count() == 3  # NOT zero — source still alive
    # a real cursor advances the mark as before
    real_max = source.poll_once().agg({"dt_update": "max"}).collect()[0][0]
    source.commit(real_max)
    assert source.poll_once().count() == 0


def test_jdbc_reader_roundtrip_embedded_derby(spark, tmp_path):
    """The PRODUCTION ``jdbc_reader`` backend executed against a real JDBC
    database — embedded Apache Derby, whose driver ships in Spark's own
    classpath — so the `spark.read.jdbc` path (DriverRegistry, dialect,
    predicate pushdown into the database WHERE clause) actually runs
    in-sandbox instead of only against the parquet-dir analog. A NETWORKED
    database is still env-gated (test_integration_gated.py): Derby here is
    in-process, which exercises the full Spark JDBC code path but not the
    wire. Write side uses `df.write.jdbc` — the JDBC-style append sink
    (SURVEY.md §2.1 S2) against a real database too."""
    from kafka_exercise_spark.sources.incremental import (
        TimestampModeSource,
        jdbc_reader,
    )

    url = f"jdbc:derby:{tmp_path}/cdcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def rows(ids):
        return spark.createDataFrame(
            [(i, f"2024-01-01 00:00:{i:02d}") for i in ids],
            "id bigint, dt_update string",
        ).select("id", F.col("dt_update").cast("timestamp").alias("dt_update"))

    rows(range(5)).write.jdbc(url, "customers", mode="overwrite", properties=props)

    source = TimestampModeSource(
        spark,
        reader=jdbc_reader(url, "customers", props),
        cursor_col="dt_update",
        state_path=str(tmp_path / "state.json"),
    )
    # snapshot poll sees the full table
    snap = source.poll_once()
    assert snap.count() == 5
    source.commit(snap.agg(F.max("dt_update")).collect()[0][0])
    # delta arrives via the JDBC append sink; next poll must move ONLY it
    rows(range(5, 8)).write.jdbc(url, "customers", mode="append", properties=props)
    delta = source.poll_once()
    # the cursor predicate must push into the database query, not filter
    # post-scan: the JDBC relation advertises it as a pushed GreaterThan
    plan = delta._jdf.queryExecution().toString()
    assert "GreaterThan(dt_update" in plan, plan
    got = sorted(r.id for r in delta.collect())
    assert got == [5, 6, 7]


@pytest.mark.parametrize("zone", ["America/Sao_Paulo", "Asia/Tokyo"])
def test_hwm_exactly_once_whatever_the_host_zone(spark, tmp_path, zone):
    """The persisted high-water mark must not depend on the host's time
    zone. ``collect()`` hands timestamps to Python in the HOST's local
    zone while ``poll_once`` reads the mark back in the session zone
    (UTC): a mark stored as local wall-clock time re-emits rows on a
    host west of UTC and loses them for good east of it. Both the
    ``run`` loop and the manual ``poll_once``/``commit`` loop must
    capture every row exactly once."""
    import time

    from kafka_exercise_spark.sources.incremental import (
        TimestampModeSource,
        parquet_dir_reader,
    )

    src_dir = str(tmp_path / "rows")

    def land(i: int, ts: str) -> None:
        spark.createDataFrame([(i, ts)], "id bigint, dt_update string").select(
            "id", F.col("dt_update").cast("timestamp").alias("dt_update")
        ).write.mode("append").parquet(src_dir)

    captured: list[int] = []

    def sink(df, _batch_id):
        captured.extend(r.id for r in df.collect())

    saved = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        source = TimestampModeSource(
            spark,
            reader=parquet_dir_reader(src_dir),
            cursor_col="dt_update",
            state_path=str(tmp_path / "state.json"),
        )
        land(1, "2024-01-01 10:00:00")
        source.run(sink, polls=1)
        land(2, "2024-01-01 11:00:00")
        source.run(sink, polls=1)
        # manual loop: commit() gets the collected (host-local) datetime
        land(3, "2024-01-01 12:00:00")
        batch = source.poll_once()
        sink(batch, 2)
        source.commit(batch.agg(F.max("dt_update")).collect()[0][0])
        land(4, "2024-01-01 13:00:00")
        sink(source.poll_once(), 3)
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert captured == [1, 2, 3, 4]
