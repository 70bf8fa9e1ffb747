"""Physical-plan inspection: the scale-audit surface of the engine.

The reference declares queries and trusts a closed engine to plan them
(reference README.md:180-347 — ksqlDB statements, no EXPLAIN anywhere).
Our engine exposes the opposite posture: every operator's physical plan is
inspectable, and the properties that decide whether a plan survives a 100 TB
scale-up are *pinned by tests* (tests/test_plans.py):

- filters and column pruning reach the parquet scan (``pushed_filters`` /
  ``read_schema_columns``),
- dimension joins are broadcast, fact-fact joins are not cartesian
  (``broadcast_join_count`` / ``has_cartesian_product``),
- the hot path stays JVM-side (``python_eval_count`` == 0 outside the
  allowlist in tests/test_plans.py, which names every operator whose
  Python stage is the design),
- shuffle count matches the algebraic minimum for the query
  (``shuffle_exchange_count``).

Everything here reads Spark's own formatted explain output; nothing mutates
the plan. Works on classic (JVM) PySpark sessions, which is what this engine
targets; guarded to raise a clear error under Spark Connect.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_PYTHON_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "MapInArrow",  # Spark 4 name; also a substring of 3.x PythonMapInArrow
)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The string ``df.explain(mode)`` would print.

    Uses the JVM QueryExecution directly because the public API only prints.
    """
    try:
        jqe = df._jdf.queryExecution()
        jvm = df.sparkSession._jvm
        emode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return jqe.explainString(emode)
    except AttributeError as exc:  # Spark Connect has no _jdf
        raise RuntimeError(
            "plan inspection requires a classic (JVM) SparkSession"
        ) from exc


def _live_op_ids(plan: str) -> set[str]:
    """Operator ids that appear in a plan TREE outside ``== Initial Plan ==``
    sections.

    An executed AdaptiveSparkPlan prints its final AND initial plans with
    DISTINCT ids for the same physical operator; only the final section
    describes what runs. A section's ops are indented deeper than its
    marker line, so skip tree lines until indentation returns. Ids seen in
    both sections stay live.
    """
    live: set[str] = set()
    skip_indent: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        if skip_indent is not None:
            if line.strip() and indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        live.update(re.findall(r"\((\d+)\)\s*$", line))
    return live


def _unique_op_ids(df: DataFrame, name_pattern: str) -> int:
    """Count DISTINCT formatted-plan operator ids whose node name matches
    and which belong to the plan that actually runs.

    Formatted mode assigns every physical operator a stable id and prints a
    persisted frame's (already-executed-once) materialization plan under
    the SAME ids at every reference — so counting distinct ids counts each
    real operator exactly once, where raw text counts would multiply a
    cached subtree by its reference count (an iterative op like PageRank
    referencing its edge cache 5× would overstate 5×). Executed AQE
    sections additionally print an ``== Initial Plan ==`` twin with fresh
    ids for the same operators; those ids are filtered out via the tree
    (``_live_op_ids``) so pre-AQE duplicates don't double-count.
    """
    plan = explain_str(df, "formatted")
    ids = set(re.findall(rf"\((\d+)\) {name_pattern}(?![A-Za-z])", plan))
    return len(ids & _live_op_ids(plan))


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of distinct shuffle Exchange operators (broadcast exchanges
    excluded; a persisted frame's materialization counts once).

    This is THE scale number: each shuffle rewrites the stream to the
    cluster. A 100 TB plan lives or dies on this count.
    """
    return _unique_op_ids(df, "Exchange")


def broadcast_join_count(df: DataFrame) -> int:
    """Number of distinct broadcast hash/nested-loop joins in the physical
    plan (a persisted frame's materialization counts once)."""
    return _unique_op_ids(df, "Broadcast(?:Hash|NestedLoop)Join")


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of explicit broadcast HINTS in the analyzed LOGICAL plan.

    Distinct from ``broadcast_join_count`` (which counts what the planner
    CHOSE): a hint is what the author FORCED. The module policy
    (operators/relational.py header) allows hints only on fixed-cardinality
    frames (nation/region/scalar aggregates) — a hint on a ∝-data table
    overrides AQE's runtime size check and OOMs at scale, so tests pin the
    hint count, not just the join strategy.
    """
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # Spark renders hints as `ResolvedHint (strategy=broadcast)` in the
    # analyzed plan (`UnresolvedHint BROADCAST` only pre-analysis) —
    # match both; the positive-control test pins that this regex fires
    return len(
        re.findall(
            r"ResolvedHint \(strategy=broadcast\)|UnresolvedHint BROADCAST",
            analyzed,
        )
    )


def has_cartesian_product(df: DataFrame) -> bool:
    """True if the plan contains an unconstrained CartesianProduct."""
    return "CartesianProduct" in explain_str(df, "simple")


def python_eval_count(df: DataFrame) -> int:
    """Number of Python-execution operators (row or Arrow) in the plan.

    0 means the whole query runs JVM-side (codegen / vectorized) — the
    required state for every hot-path operator in this engine.
    """
    plan = explain_str(df, "simple")
    return sum(plan.count(node) for node in _PYTHON_EVAL_NODES)


def pushed_filters(df: DataFrame) -> list[str]:
    """Non-empty ``PushedFilters: [...]`` bodies, one raw string per scan.

    Non-empty entries prove predicates reached the parquet reader instead of
    being evaluated post-scan. (Bodies are kept whole — filter literals may
    contain commas, e.g. ``EqualTo(c_mktsegment,BUILDING)``.)
    """
    plan = explain_str(df, "formatted")
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
        if m.group(1).strip()
    ]


def partition_filters(df: DataFrame) -> list[str]:
    """Non-empty ``PartitionFilters: [...]`` bodies, one per scan.

    Non-empty entries prove the scan prunes directory partitions before
    reading any file — the layout-level analog of predicate pushdown.
    """
    plan = explain_str(df, "formatted")
    return [
        m.group(1).strip()
        for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan)
        if m.group(1).strip()
    ]


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column list of each parquet ``ReadSchema`` in the plan (pruning proof).

    A scan whose ReadSchema carries columns the query never uses failed
    column pruning — at 100 TB that is IO measured in extra terabytes.
    """
    plan = explain_str(df, "formatted")
    schemas: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        body = m.group(1)
        cols = [c.split(":", 1)[0].strip() for c in body.split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen stages in the plan."""
    plan = explain_str(df, "formatted")
    ids = set(re.findall(r"codegen id : (\d+)", plan))
    return len(ids)


def plan_report(df: DataFrame) -> dict:
    """One-stop structured audit of a DataFrame's physical plan."""
    return {
        "shuffles": shuffle_exchange_count(df),
        "broadcast_joins": broadcast_join_count(df),
        "cartesian": has_cartesian_product(df),
        "python_eval_nodes": python_eval_count(df),
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schema_columns(df),
        "codegen_spans": wholestage_codegen_spans(df),
    }
