"""Physical-plan introspection helpers.

The reference's scale story is *pushdown*: projection → CDX ``&fl=`` lists,
predicates → remote filter params, LIMIT → request caps (SURVEY.md §4;
/root/reference/src/common_crawl_index.cpp:1474-1526 etc.). In the Spark
rebuild the equivalent guarantees are Catalyst's: filters and column pruning
must reach the parquet scan (``PushedFilters`` / ``ReadSchema``), small dims
must broadcast, and hot expressions must stay inside whole-stage codegen.

These helpers parse ``explain("formatted")`` output so tests can ASSERT the
plan shape instead of hoping for it — a regression in any of these silently
turns a 100 TB-viable plan into a full-scan one.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans (flattened)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        inner = m.group(1).strip()
        if inner:
            out.extend(p.strip() for p in inner.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every file scan (column pruning evidence)."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", formatted_plan(df))]


def _operator_ids(df: DataFrame, name_pattern: str) -> set[str]:
    """Distinct '(n) OperatorName' header ids matching the pattern — the
    formatted plan prints every operator once in the tree AND once as a
    detail header, so raw substring counts double-count."""
    return set(re.findall(rf"\((\d+)\) (?:{name_pattern})\b", formatted_plan(df)))


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages. Under AQE the pre-execution plan
    is an unfinalized AdaptiveSparkPlan with no codegen annotation, so this
    triggers execution (count) and inspects the executed plan — intended
    for tests / interactive iteration, not production hot paths."""
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    simple = qe.simpleString()
    if "isFinalPlan=false" in simple:
        # df.count() would build a NEW QueryExecution; executing THIS one's
        # RDD is what finalizes THIS adaptive plan.
        qe.toRdd().count()
        simple = qe.executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", simple)))


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (each is a full shuffle — the
    thing to minimize). Broadcast exchanges and reused exchanges are NOT
    counted."""
    return len(_operator_ids(df, "Exchange"))


def broadcast_join_count(df: DataFrame) -> int:
    return len(_operator_ids(df, "BroadcastHashJoin|BroadcastNestedLoopJoin"))

