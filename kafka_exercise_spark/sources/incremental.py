"""Incremental timestamp-mode source — SURVEY.md §2.1 S3, the one component
Spark has no built-in for.

Reference behavior (connect_postgres.config): poll the source table every
``poll.interval.ms`` (:14, 500 ms), emit only rows with ``dt_update`` greater
than the persisted high-water mark (:9-10 ``mode: timestamp``,
``timestamp.column.name: dt_update``), publish downstream. Inserts-only —
updates are not captured (reference README.md:136 documents this caveat).

Engine design: a driver-side micro-batch loop (SURVEY.md §4: no Catalyst
rule needed). Each poll issues one predicated read — ``WHERE cursor > hwm``
— which Spark pushes into the backend (JDBC: into the database's WHERE
clause; parquet: row-group min/max pruning), appends the delta to a bronze
path, and *then* persists the new high-water mark: crash between sink and
state write re-emits the tail (at-least-once), never loses it.

Boundary semantics: strictly-greater comparison, so rows sharing the
current hwm timestamp exactly are emitted once and never re-emitted; rows
*arriving late with an older cursor than the hwm are silently skipped* —
the same blind spot the reference has (its mode=timestamp connector cannot
see them either). The documented fix at scale is a small overlap window +
downstream dedup; kept out of the default path for parity.

The backend is pluggable: ``reader`` returns the current full table
DataFrame. For tests it is a parquet dir being appended to; in production,
``spark.read.jdbc`` — same loop, same state handling.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class TimestampModeSource:
    spark: SparkSession
    reader: Callable[[SparkSession], DataFrame]
    cursor_col: str
    state_path: str  # JSON high-water-mark file ≙ Connect offsets topic

    def _load_hwm(self) -> str | None:
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                return json.load(f).get("hwm")
        return None

    def _save_hwm(self, hwm: str) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"hwm": hwm, "cursor_col": self.cursor_col}, f)
        os.replace(tmp, self.state_path)  # atomic — no torn state on crash

    def poll_once(self) -> DataFrame:
        """One micro-batch: rows with cursor strictly beyond the hwm.

        Lazy frame — the caller sinks it, then calls ``commit(max_cursor)``
        with the batch's max cursor value (or uses ``run``, which does
        both); the predicate reaches the scan via pushdown.
        """
        df = self.reader(self.spark)
        hwm = self._load_hwm()
        if hwm is not None:
            df = df.filter(F.col(self.cursor_col) > F.lit(hwm).cast("timestamp"))
        return df

    def commit(self, max_cursor) -> None:
        """Advance the persisted high-water mark after the caller has
        durably sunk a batch — the manual-loop counterpart of ``run``'s
        sink-then-persist step. A None cursor (batch whose cursor values
        are all NULL) is ignored: NULL-cursor rows can never be captured
        incrementally, and persisting the string 'None' would poison every
        later poll's ``> CAST('None' AS TIMESTAMP)`` predicate into
        emitting zero rows forever.

        A ``datetime`` (what ``collect()`` returns: naive, in the HOST's
        local zone) is stored as a UTC instant with its offset, which
        ``poll_once``'s cast reads back exactly whatever the host and
        session zones are; a string (``run``'s JVM-side max) is stored
        as is."""
        if isinstance(max_cursor, datetime):
            max_cursor = max_cursor.astimezone(timezone.utc).isoformat()
        if max_cursor is not None:
            self._save_hwm(str(max_cursor))

    def run(
        self,
        sink: Callable[[DataFrame, int], None],
        polls: int,
        poll_interval_s: float = 0.5,
    ) -> int:
        """Poll loop ≙ the connector's poll cadence (500 ms floor,
        connect_postgres.config:14). Returns total rows captured.

        Order of operations per poll: read delta → sink → persist hwm.
        """
        total = 0
        for i in range(polls):
            # persist: the stats action and the sink action must see ONE
            # snapshot — a JDBC backend would otherwise query twice and
            # could capture rows the hwm update then skips forever.
            batch = self.poll_once().persist()
            try:
                # the max leaves the JVM as a session-zone string, the zone
                # poll_once's cast reads it back in: a Python datetime
                # would arrive shifted into the host's local zone
                new_max, n = (
                    batch.agg(
                        F.max(self.cursor_col).cast("string").alias("m"),
                        F.count("*").alias("n"),
                    ).collect()[0]
                )
                if n:
                    sink(batch, i)
                    total += int(n)
                    self.commit(new_max)
            finally:
                batch.unpersist()
            if i + 1 < polls:
                time.sleep(poll_interval_s)
        return total


def parquet_dir_reader(path: str) -> Callable[[SparkSession], DataFrame]:
    """Test-harness backend: a parquet directory standing in for the JDBC
    table (same loop and state handling as the production JDBC reader)."""

    def read(spark: SparkSession) -> DataFrame:
        return spark.read.parquet(path)

    return read


def jdbc_reader(
    url: str, table: str, properties: dict[str, str] | None = None
) -> Callable[[SparkSession], DataFrame]:
    """Production backend (reference connect_postgres.config:6-8 connection
    URL + credentials). The cursor predicate composed in ``poll_once``
    pushes into the database query — only the delta crosses the wire."""

    def read(spark: SparkSession) -> DataFrame:
        return spark.read.jdbc(url, table, properties=properties or {})

    return read
