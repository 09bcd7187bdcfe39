"""Physical-plan inspection utilities.

The 100 TB design contract is enforced here: tests assert that every
headline query's plan has the shape that survives a 1000-executor
scale-up — filters pushed into the parquet scan, projections pruned
to the read schema, dimension joins broadcast, aggregations partial
before the exchange. A query that silently regresses to a full scan
or a shuffle join fails CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Formatted physical plan (post-AQE initial plan) as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (row-group stat pruning)."""
    plan = explain_formatted(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from parquet (column pruning check)."""
    plan = explain_formatted(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present (HashAggregate appears before the
    exchange as a partial aggregate)."""
    plan = executed_plan(df)
    return "partial_" in plan or "HashAggregate" in plan


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Count of distinct WholeStageCodegen regions (the ``*(N)``
    markers) — wider/fewer-broken is better. Under AQE the markers
    only appear once the plan is finalized, so execute the DataFrame
    (e.g. ``df.collect()``) before calling this.
    """
    plan = executed_plan(df)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def global_window_count(df: DataFrame) -> int:
    """Number of Window nodes in the OPTIMIZED logical plan whose
    partition spec is empty — the "WindowExec: No Partition Defined"
    shape that serializes the whole input through one task.  Acceptable
    ONLY over a domain-bounded reduced table (bins, days, vocab, a
    fixed literal domain), never over a raw fact/corpus table; the
    whitelist test in tests/test_plans.py enforces exactly that.
    """
    import json as _json

    plan_json = _json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    n = 0
    for node in plan_json:
        cls = node.get("class", "")
        if cls.endswith(".Window") and not node.get("partitionSpec"):
            n += 1
    return n


def lambda_bodies(df: DataFrame) -> list[str]:
    """Every ``lambdafunction(...)`` expression in the OPTIMIZED logical
    plan, brace-matched (nested lambdas appear both inside their parent
    and on their own). A per-row expression found here runs once per
    lambda invocation, not once per row."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies: list[str] = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, j = 1, m.end()
        while depth and j < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[m.start() : j])
    return bodies
