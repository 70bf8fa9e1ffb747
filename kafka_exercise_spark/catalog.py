"""Dataset catalog: register parquet tables as named views.

The reference's "catalog" is the Kafka broker's topic namespace plus ksqlDB's
stream/table registry (reference README.md:155-199 `show topics/streams`);
schemas come from Schema Registry. Here the catalog is Spark's own: each
parquet table under a scale-factor directory is registered as a temp view so
both the DataFrame API and ``spark.sql`` resolve it. Schema is read from
parquet footers (columnar, self-describing — strictly stronger than the
reference's registry-inferred Avro).

Scale note: views are lazy — registration reads footers only. Filters and
projections expressed on these views push down to the parquet scan (Catalyst
``PushedFilters`` / ``ReadSchema``), which is what makes a 100 TB scan of a
3-column projection read 3 columns, not 40.

Results built from these tables and read repeatedly (materialized frames,
indexes, landings) are served by ``memo``, which rebuilds them whenever
the parquet files they were built from change.
"""

from __future__ import annotations

import os
import shutil
import time

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Columns stored as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (session conf spark.sql.legacy.parquet.nanosAsLong) and we restore
#: TimestampType here with integer division (no double round-trip — epoch
#: nanos exceed 2^53 and would lose precision through a float).
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy DataFrame over one parquet table, nano-timestamps restored.

    Robust to the caller's session conf: if ``name`` has TIMESTAMP(NANOS)
    columns, ``spark.sql.legacy.parquet.nanosAsLong`` is required for the scan
    itself, so we set it on the fly (it is a static-read conf consulted per
    query, not a session-construction-time conf). The long column is then
    converted JVM-side with integer division — no double round-trip, since
    epoch nanos exceed 2^53.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # Deterministic semantics regardless of the caller's session: UTC
    # formatting (the reference passes 'UTC' explicitly, README.md:212) and
    # the nanos-as-long read path. Both are runtime-settable SQL confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in NANO_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP_NTZ, which
    # epoch extractors (unix_millis/unix_micros) and withWatermark reject.
    # With the session tz pinned UTC the instant is unchanged by this cast,
    # and it is a zero-cost metadata projection (no shuffle, no UDF).
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _source_fingerprint(sf_dir: str) -> tuple:
    """Sorted ``(file, size, mtime_ns)`` of every parquet table under
    ``sf_dir``, single-file and directory tables alike; ``()`` when the
    dir does not exist (a hand-frame test's placeholder dir)."""
    try:
        tables = [e for e in os.scandir(sf_dir) if e.name.endswith(".parquet")]
    except OSError:
        return ()
    files = []
    for e in tables:
        if e.is_dir():
            files += [os.path.join(r, f) for r, _, fs in os.walk(e.path) for f in fs]
        else:
            files.append(e.path)
    return tuple(
        sorted((p, (st := os.stat(p)).st_size, st.st_mtime_ns) for p in files)
    )


#: The served-result memo: (applicationId, name, sf_dir) →
#: (source fingerprint, value, cleanup).
_MEMO: dict[tuple, tuple] = {}

#: Append-only log of memo builds, {"memo", "seconds"} per build; the
#: bench and scaling harnesses drain it around each timed run.
MEMO_BUILD_LOG: list[dict] = []


def drain_memo_build_log() -> list[dict]:
    """Return and clear the accumulated build records (harness hook)."""
    out = list(MEMO_BUILD_LOG)
    MEMO_BUILD_LOG.clear()
    return out


def _evict(key: tuple) -> None:
    """Drop one entry: unpersist its DataFrames (a persisted frame left in
    Spark's cache is substituted into any later plan over the same path,
    rewritten files or not), then run its cleanup."""
    _fp, value, cleanup = _MEMO.pop(key)
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist(blocking=True)
            except Py4JError:  # its application is stopped: nothing cached
                pass
    if cleanup is not None:
        cleanup(value)


def memo(spark: SparkSession, name: str, sf_dir: str, build, cleanup=None):
    """Serve ``build()`` once per (application, name, sf_dir) for as long
    as the parquet files under ``sf_dir`` are unchanged.

    Each call compares ``_source_fingerprint(sf_dir)`` with the one stored
    at build time and rebuilds on a mismatch; entries of other (dead)
    applications are evicted on every call. Every build is logged under
    ``name``. ``cleanup(value)`` runs when the entry is evicted (e.g.
    removing its tempdir).

    Tests that monkeypatch ``load_table`` with hand frames must pass a
    UNIQUE placeholder sf_dir per hand frame: a placeholder has no files,
    so its fingerprint never changes and the first frame would be served
    to the second test.
    """
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        _evict(k)
    key = (app, name, sf_dir)
    fp = _source_fingerprint(sf_dir)
    hit = _MEMO.get(key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        _evict(key)
    t0 = time.perf_counter()
    value = build()
    MEMO_BUILD_LOG.append(
        {"memo": name, "seconds": round(time.perf_counter() - t0, 3)}
    )
    _MEMO[key] = (fp, value, cleanup)
    return value


def memo_frame(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    """``memo`` of ``build().localCheckpoint()``: the frame is executed
    once and served lineage-free to every caller."""
    return memo(spark, name, sf_dir, lambda: build().localCheckpoint())


def rm_parent_dir(path: str) -> None:
    """Memo cleanup for path values of the form ``<mkdtemp work>/<sub>``:
    removes the whole work dir."""
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def scale_partitions(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a small-file table across the cluster for CPU-heavy per-row ops.

    The fixture tables are single parquet files → a single scan task, which
    serializes regex/hash-heavy operators on one core regardless of cluster
    size. One cheap round-robin shuffle of the raw rows buys full-width
    parallelism. At 100 TB inputs arrive as thousands of files and this is a
    no-op decision — the helper exists for the small-file edge, which also
    shows up in practice as the "last small partition" of a filtered branch.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a temp view; returns the frames.

    Missing files are skipped so smaller fixture dirs still register.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
