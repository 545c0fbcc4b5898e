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


def _nodes(plan, cached: bool) -> list[str]:
    """Node names of a physical plan through its adaptive query stages;
    with ``cached``, through the plans of the cached tables it reads too."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _nodes(plan.executedPlan(), cached)
    if name.endswith("QueryStageExec"):
        return _nodes(plan.plan(), cached)
    out = [plan.nodeName()]
    if cached and name == "InMemoryTableScanExec":
        out += _nodes(plan.relation().cachedPlan(), cached)
    kids = plan.children()
    return out + [n for i in range(kids.size()) for n in _nodes(kids.apply(i), cached)]


def executed_nodes(df: DataFrame) -> list[str]:
    """The node names of ``df``'s executed physical plan, through its
    adaptive query stages (after an action, the final plan). A cached
    table is a leaf: its own plan ran when it was filled, not here. A
    reused exchange is a leaf too: its shuffle ran once, elsewhere in the
    plan."""
    return _nodes(df._jdf.queryExecution().executedPlan(), cached=False)


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
    """Shuffle count of ``executed_nodes`` (excludes broadcast exchanges)."""
    return executed_nodes(df).count("Exchange")


def count_broadcast_joins(df: DataFrame) -> int:
    return executed_nodes(df).count("BroadcastHashJoin")


def has_cartesian(df: DataFrame) -> bool:
    """True if the plan, or the plan of a cached table it reads, contains a
    NON-broadcast cartesian product — the join shape that cannot scale (a
    broadcast nested loop with a tiny build side is fine and sometimes
    intentional, e.g. scalar crossing)."""
    return "CartesianProduct" in _nodes(df._jdf.queryExecution().executedPlan(), cached=True)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists appearing in the scans (pre-AQE plan)."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", spark_plan(df))
    ]


def plan_summary(df: DataFrame) -> dict:
    """One-stop plan facts of ``executed_nodes`` for debugging and bench
    annotations."""
    nodes = executed_nodes(df)
    return {
        "exchanges": nodes.count("Exchange"),
        "broadcast_joins": nodes.count("BroadcastHashJoin"),
        "sort_merge_joins": nodes.count("SortMergeJoin"),
        "nested_loop_joins": nodes.count("BroadcastNestedLoopJoin"),
        "cartesian": nodes.count("CartesianProduct"),
        "wholestage_spans": sum(n.startswith("WholeStageCodegen") for n in nodes),
        "python_boundaries": sum(
            n in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas") for n in nodes
        ),
    }
