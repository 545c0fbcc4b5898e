"""Physical-plan auditing: the engine's scale guarantees, inspectable.

Every scale claim in this repo ("dims broadcast", "filter reaches the
scan", "no corpus shuffle") is a property of the PHYSICAL plan, not the
result — the DuckDB oracle can't see any of it. These helpers turn plan
text into assertable facts; tests/test_plan_lint.py sweeps them across
the whole query registry so a regression that silently flips a broadcast
join into a cartesian product (the classic 100-TB outage: correct
results at test scale, cluster meltdown at prod scale) fails CI at
sf0.001.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def executed_nodes(df: DataFrame) -> list[str]:
    """The node names of ``df``'s executed physical plan, through its
    adaptive query stages (after an action, the final plan). A cached
    table is a leaf: its own plan ran when it was filled, not here."""

    def walk(plan) -> list[str]:
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(plan.plan())
        kids = plan.children()
        return [plan.nodeName()] + [n for i in range(kids.size()) for n in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def spark_plan(df: DataFrame) -> str:
    """Pre-AQE physical plan (shows scan details like PushedFilters).

    Scan metadata renders truncated at spark.sql.maxMetadataStringLength
    (default 100 chars — enough to swallow a whole PushedFilters list);
    widen it for the rendering, then restore.
    """
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key)
    conf.set(key, "10000")
    try:
        return df._jdf.queryExecution().sparkPlan().toString()
    finally:
        conf.set(key, old)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count (excludes broadcast exchanges)."""
    p = executed_plan(df)
    return p.count("Exchange hashpartitioning") + p.count(
        "Exchange rangepartitioning"
    ) + p.count("Exchange SinglePartition")


def count_broadcast_joins(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def has_cartesian(df: DataFrame) -> bool:
    """True if the plan contains a NON-broadcast cartesian product — the
    join shape that cannot scale (a broadcast nested loop with a tiny
    build side is fine and sometimes intentional, e.g. scalar crossing)."""
    return "CartesianProduct" in executed_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists appearing in the scans (pre-AQE plan)."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", spark_plan(df))
    ]


def plan_summary(df: DataFrame) -> dict:
    """One-stop plan facts for debugging and bench annotations."""
    p = executed_plan(df)
    return {
        "exchanges": count_exchanges(df),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "nested_loop_joins": p.count("BroadcastNestedLoopJoin"),
        "cartesian": p.count("CartesianProduct"),
        "wholestage_spans": p.count("WholeStageCodegen"),
        "python_boundaries": p.count("ArrowEvalPython")
        + p.count("MapInPandas")
        + p.count("FlatMapGroupsInPandas"),
    }
