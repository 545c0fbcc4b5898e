"""Relational breadth: the classic analytic query shapes.

The reference's serving queries (SURVEY.md section 2.2-2.5) are all
filter -> join -> aggregate -> top-k skeletons; operators/relational.py
covers the direct forms.  This module adds the query *shapes* a user migrating a
full analytics workload would expect the engine to plan well — each is
a TPC-H pattern adapted to the synthetic star schema (TESTDATA.md):

- nation-pair flows with disjunctive pair predicates (Q7)
- conditional-aggregate ratios / market share (Q8, Q12, Q14)
- group-filter via HAVING (Q18)
- correlated scalar subqueries, decorrelated the Catalyst way:
  per-group aggregate joined back (Q17) or a window min (Q2 essence)
- equal-to-max selection over a derived view (Q15)
- top-k over a join aggregate (Q10)
- OR-of-ANDs disjunctive multi-column predicates (Q19)
- scalar-subquery threshold + anti join (Q22)
- count(DISTINCT) with NOT IN / NOT LIKE exclusions (Q16)
- pivot (conditional-count matrix)

Scale notes (100 TB): every query here shuffles only on its aggregate
key or pre-aggregated rows.  Correlated subqueries are expressed as
explicit aggregate+join (what Catalyst's decorrelation would emit), so
nothing re-executes per outer row.  Scalar aggregates (avg / max of a
tiny derived table) cross via broadcast of ONE row, never a driver
collect.  Windows partition on real keys (p_brand), never unpartitioned
over facts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from vector_database_product_recommendation_spark.sources.tables import load_table

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nations by ship year.

    The two nation dims broadcast; the disjunctive pair predicate runs on
    the joined (supp_nation, cust_nation) pair AFTER both tiny broadcast
    joins, so the fact tables shuffle only on their join keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair | rpair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev()), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO revenue by year.

    The share is a conditional aggregate ratio — two sums in ONE pass over
    the joined facts (sum(CASE)/sum), not two queries.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    asia = region.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO").select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        ), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(asia), F.col("c_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue of returned items.

    Aggregate first (one shuffle on c_custkey), then TakeOrderedAndProject
    — the sort sees only one row per customer, never the lineitems.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        ), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q12_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts (high/low priority) per linestatus."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: LIKE-prefix conditional revenue ratio, one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("promo_revenue")
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the max.

    The "= (SELECT max(...))" scalar subquery is a window max over the
    tiny revenue aggregate (one row per supplier) — no second scan of
    lineitem, no driver collect.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_rev()), 4).alias("total_revenue"))
    )
    w = Window.partitionBy()  # aggregate is supplier-count-sized: tiny
    best = revenue.withColumn("mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    return (
        supp.join(F.broadcast(best), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg subquery, decorrelated.

    "l_quantity < 0.2 * avg(quantity of the same part)" becomes a
    per-part aggregate joined back to lineitem — the plan Catalyst's
    decorrelation produces, written explicitly: one extra shuffle on
    l_partkey, no per-row re-execution.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#3")
                            .select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a join aggregate, top-100 by price."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150.0)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.

    Per-side conjuncts (p_size lower bound, l_quantity envelope) stay
    pushed to the scans; the cross-side disjunction evaluates after the
    broadcast join, inside codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    q = F.col("l_quantity")
    branch = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1) & (F.col("p_size") <= size_hi)
        & (q >= q_lo) & (q <= q_hi)
    )
    return j.filter(
        branch("Brand#1", 15, 1, 11)
        | branch("Brand#2", 25, 10, 20)
        | branch("Brand#3", 35, 20, 30)
    ).agg(F.round(F.sum(_rev()), 4).alias("revenue"))


def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + anti join + group-by.

    The positive-balance average is a one-row aggregate crossed in by
    broadcast; "no recent orders" is a left_anti join on o_custkey with the
    date predicate pushed into the orders scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 essence: correlated min subquery as a partitioned window.

    "price = (SELECT min(price) WHERE same brand)" is a min over
    Window.partitionBy(p_brand) — one shuffle on brand, no self-join.
    """
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("mn", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("mn"))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: count(DISTINCT) with NOT LIKE / NOT IN exclusions.

    The NOT IN subquery (suppliers in bad standing) is a left_anti join
    against a broadcast-small exclusion list; distinct-agg expands to the
    standard two-phase plan (partial distinct per partition, then merge).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0.0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    keep_parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(F.broadcast(keep_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts as a priority x status matrix.

    `groupBy().pivot(values=...)` with explicit pivot values — one pass,
    no second job to discover the value domain, planned as a single
    conditional aggregate (same plan as the CASE-WHEN oracle).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .orderBy("o_orderpriority")
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: mid-string LIKE over part names, profit rolled up
    by supplier nation and order year.

    '%widget%' cannot prune the scan (no prefix) — it evaluates inside
    codegen on the broadcast part dim, so the big tables still only
    shuffle on their join keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))
                        .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(_rev()), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q20_heavy_red_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain.

    Suppliers having (semi) a 1997 lineitem of a red part with quantity
    above a per-(part,supplier) threshold. Both inner sets reduce before
    the semi joins: parts filter -> broadcast; lineitem aggregates to one
    row per (partkey, suppkey) before joining supplier.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


def orders_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two projections of orders standing in for
    an old ingest generation (no o_orderpriority) and a new one, combined
    with unionByName(allowMissingColumns) — missing columns null-fill,
    matching by NAME not position (positional union is the classic silent
    corruption at schema boundaries).
    """
    orders = load_table(spark, sf_dir, "orders")
    old_gen = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_gen = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    merged = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("unknown")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("priority")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-join chain on lineitem.

    Suppliers whose lineitems shipped late (>60 days after order date) in
    multi-supplier orders where NO other supplier shipped late — the
    classic "kept orders waiting" blame query.  The synthetic lineitem has
    no commit/receipt dates (TESTDATA.md), so "late" is defined against
    o_orderdate; the join/subquery SHAPE is the reference point
    (app.py has no multi-way semi/anti joins; this is breadth beyond it).

    Decorrelated the way Catalyst's RewriteCorrelatedScalarSubquery would:
    one aggregate per (orderkey, suppkey) with per-line late counts, then
    two windows over l_orderkey on those rows (the order's supplier count
    and its late-supplier count) and one filter, so both EXISTS
    subqueries collapse into one shuffled aggregate read once instead of
    re-scanning lineitem per outer row.  At 100 TB: a hash aggregate keyed
    on (l_orderkey, l_suppkey) with map-side partial combine, one exchange
    on l_orderkey for the windows and one on l_suppkey for the blame
    count.  The final AQE plan at sf0.01 scans lineitem once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    lines = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int"),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(F.sum("late").alias("n_late_lines"))
    order = Window.partitionBy("l_orderkey")
    blamed = (
        per_supp.select(
            "l_suppkey",
            "n_late_lines",
            F.count(F.lit(1)).over(order).alias("n_supp"),
            F.sum((F.col("n_late_lines") > 0).cast("int")).over(order).alias("n_late_supp"),
        )
        .filter(
            (F.col("n_late_lines") > 0) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.sum("n_late_lines").alias("numwait"))
    )
    return (
        blamed.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"), "numwait")
        .orderBy(F.desc("numwait"), "s_name", "nation")
        .limit(100)
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global scalar subquery.

    Parts whose shipped revenue from EUROPE-region suppliers exceeds a
    fixed fraction of the region's total — "important stock".  The
    synthetic schema has no partsupp (TESTDATA.md), so per-(part,supplier)
    value derives from lineitem revenue; the SHAPE — group aggregate
    filtered by a fraction-of-global-total scalar subquery — is the point.

    The scalar total is computed once from the SAME filtered join (Spark
    reuses the aggregate's exchange at runtime) and crossed in by
    broadcast of one row; the region-supplier keyset BROADCASTS into the
    lineitem semi-join (repo-wide dimension-table convention — without
    the hint the planner picked a SortMergeJoin that exchanged+sorted the
    whole fact table on l_suppkey, TWICE, once per consumer of the
    aggregate; measured as the worst 32-core anti-scaler of the bench).
    At 100 TB the plan is scan -> broadcast semi-join region suppliers ->
    hash aggregate on l_partkey -> one-row broadcast compare.  No
    re-execution per group, no driver collect.  (If one region's supplier
    keys ever outgrow a broadcast, guide section 3.2's Bloom pre-filter is
    the fallback; the keyset is s_suppkey only.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    euro_lines = li.join(
        F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = euro_lines.groupBy("l_partkey").agg(F.sum(_rev()).alias("val"))
    total = per_part.agg((F.sum("val") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.round("val", 4).alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-cost subquery scoped to a region.

    For each part, the ASIA-region supplier(s) offering the minimum unit
    price (min over observed l_extendedprice/l_quantity — no partsupp in
    the synthetic schema, TESTDATA.md).  Q2's defining shape is the
    correlated `cost = (SELECT min(cost) ... same part, region-bound)`
    subquery; here it decorrelates to a window min partitioned by
    p_partkey after the region filter — one shuffle on partkey, no
    self-join, no per-row re-execution.  Unit costs compare by exact
    float equality against the window min, which is safe because min
    SELECTS one of the very values being compared (no re-accumulation).

    At 100 TB: region/nation/supplier reduce to a broadcast semi-join
    before the fact scan aggregate, the (part,supplier) aggregate
    map-side combines, and the window moves one row per surviving pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    asia_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    pair_cost = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
        .join(asia_supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        pair_cost.withColumn("mn", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("mn"))
        .join(part.select("p_partkey", "p_name"), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "nation",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 4).alias("min_unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )
