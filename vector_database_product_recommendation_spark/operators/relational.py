"""Relational query shapes: the reference's filter/aggregate/top-k skeleton.

The reference's "two-stage retrieval" (SURVEY.md section 3 E1) is:
  stage 1 — conjunctive metadata filter (app.py:156-164, P1-P4)
  stage 2 — score + top-k       (app.py:181-188, K1)
Here those shapes are expressed over the synthetic star schema so Catalyst
does the classic work (predicate pushdown into the parquet scan, column
pruning, partial aggregation, TakeOrderedAndProject for top-k).

Scale notes (100 TB):
- filters/projections are plain Column expressions -> pushed to the scan;
  `.explain()` shows PushedFilters on every query here.
- top-k is `orderBy().limit(k)` -> TakeOrderedAndProject (per-partition heap
  + driver merge of k rows/partition), never a full sort.
- group-bys are hash aggregates with map-side partial aggregation; the only
  shuffle is on the (low-cardinality) group key.
- joins on the big fact tables shuffle on the join key; AQE handles skew.
  Bounded dims (region/nation) would be broadcast automatically under the
  10 MB threshold at any scale factor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from vector_database_product_recommendation_spark.sources.tables import load_table

# characters format_results keeps of its preview column
PREVIEW_LEN = 80


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-by over lineitem.

    One shuffle on (returnflag, linestatus) — 6 groups; everything else is
    map-side partial agg inside whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group-by + top-10.

    customer(filtered) ⋈ orders(filtered) ⋈ lineitem(filtered), revenue agg,
    TakeOrderedAndProject(10). Filters are pushed to each scan before the
    joins; AQE picks broadcast for the customer side when it fits.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def two_stage_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's two-stage retrieval on plain columns.

    Stage 1 (filter, P1-P4 app.py:156-164): conjunctive predicates over the
    "catalog" (part joined with per-part aggregates), with the reference's
    null-defaulted range predicates via coalesce.
    Stage 2 (score + top-k, K1 app.py:181-188): score survivors and take
    top-k with deterministic tie-breaking.

    The per-part aggregate plays the role of `products` (n_reviews/avg_rating
    -> n_orders/avg_price); the filter-before-score ordering is the
    predicate-pushdown the reference hand-implements.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")

    stats = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.avg("l_quantity").alias("avg_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )
    catalog = part.join(stats, part.p_partkey == stats.l_partkey, "left")
    filtered = catalog.filter(
        (F.lower(F.col("p_brand")) == F.lower(F.lit("Brand#3")))
        & (F.coalesce(F.col("avg_qty"), F.lit(-1.0)) >= 10.0)
        & (F.coalesce(F.col("n_lines"), F.lit(0)) >= 5)
    )
    return (
        filtered.select(
            "p_partkey", "p_name", "p_brand", "p_size", "n_lines", "avg_qty", "revenue"
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(20)
    )


def brand_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + sort over a normalized string (P6/P7, app.py:138):
    the dropdown-domain query — lower/fillna/distinct/orderBy."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.lower(F.coalesce(F.col("p_brand"), F.lit("unknown"))).alias("brand"))
        .distinct()
        .orderBy("brand")
    )


def minmax_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global min-max rescale (A-g5 + F3, app.py:206-208):
    (x - min) / (max - min + 1e-12) over all rows.

    Implemented as a scalar-aggregate cross join (two-row-ish broadcast),
    NOT a Window over an empty partitioning — an unpartitioned window pulls
    every row into one task, which dies at scale; agg+crossJoin(broadcast)
    keeps the scan fully parallel.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            "o_orderkey",
            F.round(
                (F.col("o_totalprice") - F.col("mn")) / (F.col("mx") - F.col("mn") + F.lit(1e-12)),
                6,
            ).alias("price_scaled"),
        )
        .orderBy("o_orderkey")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global sum — the scan-bound query.
    Every predicate pushes into the parquet scan; the aggregate is one
    partial-sum per partition merged on the driver side."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join with a non-equi conjunct
    (l_shipdate > o_orderdate). Spark plans the equi part as the shuffle
    key and evaluates the theta conjunct in the join — no correlated
    subquery re-execution."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join: customers with no order after a
    cutoff. The anti join shuffles only the (filtered) orders keys."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-11-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def format_results(
    df: DataFrame,
    show_cols: list[str],
    *,
    preview_col: str,
    head: int,
) -> DataFrame:
    """P5/P8/K4 (app.py:243-273): dynamic column projection with a
    preview column truncated to ``PREVIEW_LEN`` characters (substr +
    '...') and a head-n slice.
    Columns requested but absent are skipped, mirroring the reference's
    existence-checked show_cols; so is an absent ``preview_col``."""
    cols = [c for c in show_cols if c in df.columns]
    out = df.select(*cols)
    if preview_col in df.columns:
        out = out.withColumn(
            f"{preview_col}_preview",
            F.concat(F.substring(F.col(preview_col), 1, PREVIEW_LEN), F.lit("...")),
        ).drop(preview_col)
    return out.limit(head)


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: revenue at (returnflag, linestatus), per
    returnflag subtotals, and the grand total in one pass — Spark plans a
    single Expand + hash aggregate, shuffling one row per (group, level).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (two fact tables, four dims) + group-by.

    region(filtered) ⋈ nation ⋈ customer ⋈ orders(filtered) ⋈ lineitem
    ⋈ supplier, keeping only local (customer nation == supplier nation)
    flow, revenue per nation. Dims are broadcast (region/nation always,
    customer/supplier under AQE's threshold at small SF); the only big
    shuffle is orders ⋈ lineitem on orderkey. Join *order* is Catalyst's
    call — the declared plan is the star, not a hand-scheduled tree.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join + double aggregation (histogram).

    customer LEFT JOIN orders (with an anti-filter on priority inside the
    join condition), count orders per customer, then histogram the counts.
    Two shuffles: custkey (first agg), c_count (second agg — tiny).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left",
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n per group: dense_rank over revenue within each brand.

    The grouped-top-k generalization of the reference's single-list top-k
    (K1): one shuffle on p_brand for the window, rank <= 3 filter. At scale
    the window partitions by a bounded key (brands), so no single-partition
    sort bottleneck; skewed brands are still one partition each — for
    per-key top-k over skewed keys, pre-aggregate (partkey) first, as done
    here, so window input is one row per (brand, part).
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .join(part, F.col("l_partkey") == part.p_partkey)
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "revenue", "rk")
        .orderBy("p_brand", "rk", "p_partkey")
    )


def nation_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: revenue by (nation, order priority) with all
    subtotal combinations — the grouping-sets generalization of
    revenue_rollup. One shuffle; grouping() disambiguates NULL group keys
    from NULL data (none here, but the pattern matters at scale where
    "unknown" is a real value)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).filter(F.col("n_nationkey") < 5)
    return (
        joined.cube("n_name", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total_price",
            "n_orders",
        )
        .orderBy("nation", "priority")
    )
