"""Shared plumbing of the benchmark: paths, session set-up and tear-down,
statistics, output digests and process memory.

Everything the benchmark writes goes under ``WORK`` inside the checkout:
temp files, Spark local dirs, the warehouse, checkpoints, lakes and traces.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import threading
from datetime import date, datetime, timezone
from decimal import Decimal
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA_ROOT = BENCH / "data"
GOLDEN = BENCH / "golden.json"
WORK = ROOT / ".perfbench_work"

#: Percentile samples required strictly beyond a reported tail percentile.
MIN_BEYOND = 10


def prepare_work(work: Path = WORK) -> Path:
    """Empty the work dir and point every temp location of Python, the JVMs
    and the package into it, so a run reads and writes only in the checkout."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tools"))
    return work


def session_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def warmup(spark) -> None:
    """First JVM job: class loading and the code-generation path. Python
    workers start in the timed work that first needs them (cold passes)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM is killed, not leaked
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- streaming progress ----


class ProgressLog:
    """Per-batch progress of every streaming query of the session, from a
    ``StreamingQueryListener``: query, batch, input rows, end time,
    durations and state operators."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = _parse_ts(p.timestamp)
                dur = dict(p.durationMs)
                rec = {
                    "query": p.name,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "end": start + dur.get("triggerExecution", 0) / 1000.0,
                    "duration_ms": dur,
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
                with outer.lock:
                    outer.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def of(self, query: str) -> list[dict]:
        with self.lock:
            return sorted(
                (b for b in self.batches if b["query"] == query),
                key=lambda b: b["batch"],
            )

    def total_rows(self, query: str) -> int:
        return sum(b["rows"] for b in self.of(query))


def _parse_ts(s: str) -> float:
    return (
        datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


# ---- statistics -------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank ``q`` percentile of n."""
    return n - max(1, math.ceil(q * n))


def tail_ok(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """The percentile rule: a tail percentile is reported only with at
    least ``min_beyond`` samples beyond it."""
    return beyond(n, q) >= min_beyond


# ---- output digests ----------------------------------------------------


def _canon(v) -> str:
    """One cell as text, independent of the engine's dtype choice: equal
    values compare equal under ``verify_local.compare`` (check_dtype=False,
    exact values) and get equal text here."""
    import numpy as np
    import pandas as pd

    if v is None:
        return "null"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2**63:
            return str(int(f))
        return repr(f)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "null"
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if v is pd.NaT:
        return "null"
    return str(v)


def digest(pdf) -> dict:
    """Order-insensitive digest of a result frame: row count, sorted column
    names and a hash of the sorted canonical rows. Columns are ordered and
    cells normalized by ``verify_local.normalize``, the oracle comparison's
    own normalization."""
    from verify_local import normalize

    norm = normalize(pdf.copy())
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in norm.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": list(norm.columns), "sha256": h.hexdigest()}


def load_golden() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)


# ---- process memory ------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and every live descendant: the JVM
    and the Python workers it forked."""
    kids = _children_map()
    todo, seen = [os.getpid()], set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(kids.get(p, ()))
    return sum(_hwm_kb(p) for p in seen) / 1024.0
