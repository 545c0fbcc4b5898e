"""Round-3 relational breadth: plan-shape properties the DuckDB oracle
can't see.  Value correctness is driver-checked (registry oracles)."""

from __future__ import annotations

from vector_database_product_recommendation_spark.operators import relational_breadth as RB

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q7_nation_dims_broadcast(spark):
    plan = _plan(RB.q7_volume_shipping(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q14_filter_pushed_to_lineitem_scan(spark):
    df = RB.q14_promo_revenue(spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # the shipdate envelope must reach the parquet scan, not a post-filter
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q15_equal_to_max_no_second_lineitem_scan(spark):
    # the scalar-subquery max is a window over the supplier-sized aggregate:
    # lineitem appears exactly once in the optimized plan
    df = RB.q15_top_supplier(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation [l_orderkey") == 1


def test_q17_decorrelated_single_pass_values(spark):
    row = RB.q17_small_quantity_revenue(spark, SF_DIR).collect()[0]
    assert row["avg_yearly"] is None or row["avg_yearly"] >= 0.0


def test_q18_having_bounds_rows(spark):
    rows = RB.q18_large_orders(spark, SF_DIR).collect()
    assert len(rows) <= 100
    assert all(r["total_qty"] > 150.0 for r in rows)


def test_cheapest_part_window_partitioned_by_brand(spark):
    rows = RB.cheapest_part_per_brand(spark, SF_DIR).collect()
    assert rows
    by_brand: dict[str, list] = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append(r["p_retailprice"])
    for prices in by_brand.values():
        assert len(set(prices)) == 1  # every survivor carries its brand min
    plan = _plan(RB.cheapest_part_per_brand(spark, SF_DIR))
    assert "p_brand" in plan  # partitioned window, not a global one


def test_pivot_counts_are_exhaustive(spark):
    import pyspark.sql.functions as F

    from vector_database_product_recommendation_spark.sources.tables import load_table

    out = {r["o_orderpriority"]: r for r in RB.order_status_pivot(spark, SF_DIR).collect()}
    orders = load_table(spark, SF_DIR, "orders")
    total = orders.count()
    assert sum(r["n_f"] + r["n_o"] + r["n_p"] for r in out.values()) == total


def test_q21_blamed_supplier_is_sole_late_one(spark):
    # every reported supplier must come from a multi-supplier order where
    # it was the ONLY late supplier; numwait is a positive line count
    rows = RB.q21_waiting_suppliers(spark, SF_DIR).collect()
    assert rows
    assert all(r["numwait"] >= 1 for r in rows)
    # ordering contract: numwait desc, then name
    waits = [r["numwait"] for r in rows]
    assert waits == sorted(waits, reverse=True)


def _scanned_files(df) -> list[str]:
    """The file name of every FileScan in the final plan of the collected
    ``df``, through its adaptive query stages; a reused exchange is a
    leaf, so a shared subtree's scan appears once."""

    def walk(plan) -> list[str]:
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(plan.plan())
        out = []
        if name == "FileSourceScanExec":
            out.append(plan.relation().location().rootPaths().head().getName())
        kids = plan.children()
        return out + [f for i in range(kids.size()) for f in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


def test_q21_scans_lineitem_once(spark):
    # both EXISTS branches read one (orderkey, suppkey) aggregate through
    # windows over l_orderkey: lineitem is scanned once, not per branch
    df = RB.q21_waiting_suppliers(spark, SF_DIR)
    df.collect()
    assert _scanned_files(df).count("lineitem.parquet") == 1


def test_q11_threshold_is_broadcast_one_row(spark):
    df = RB.q11_important_parts(spark, SF_DIR)
    rows = df.collect()
    assert rows
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    # every kept part exceeds 0.1% of the total of kept+dropped parts:
    # the smallest kept value > 0.001 * (total of all parts >= kept total)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q2_min_cost_rows_carry_partition_min(spark):
    rows = RB.q2_min_cost_supplier(spark, SF_DIR).collect()
    assert rows and len(rows) <= 100
    balances = [r["s_acctbal"] for r in rows]
    assert balances == sorted(balances, reverse=True)
