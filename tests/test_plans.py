"""Physical-plan assertions: the scale properties the engine promises
(SURVEY.md section 4) must be visible in the plans Catalyst produces —
predicate pushdown into parquet scans, no corpus shuffle ahead of the KNN
kernel, and real partition pruning on the IVF store.
"""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.operators.ivf import (
    assign_clusters,
    read_ivf_store,
    train_kmeans_centroids,
    write_ivf_store,
)
from vector_database_product_recommendation_spark.operators.knn import collect_queries, exact_knn
from vector_database_product_recommendation_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
)
from vector_database_product_recommendation_spark.plans import audit
from vector_database_product_recommendation_spark.sources.tables import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_q3_filters_pushed_and_column_pruned(spark, sf_dir):
    plan = plan_of(q3_shipping_priority(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("c_mktsegment" in ln for ln in pushed)
    assert any("o_orderdate" in ln for ln in pushed)
    assert any("l_shipdate" in ln for ln in pushed)
    # column pruning: the lineitem scan must not read all 11 columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln]
    assert read and "l_comment" not in read[0] and "l_tax" not in read[0]


def test_exact_knn_single_shuffle(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").repartition(13)
    q = collect_queries(emb, F.col("vec_id") < 4)
    plan = plan_of(exact_knn(emb, q, 5))
    # exactly one MERGE hash exchange beyond the explicit repartition (the
    # per-query top-k window, over k rows/query/task of kernel output); the
    # final orderBy adds a range exchange; the corpus itself reaches the
    # scoring kernel unshuffled beyond the test's own repartition(13)
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("rangepartitioning") <= 1, plan
    map_line = next(ln for ln in plan.splitlines() if "MapInPandas" in ln)
    assert map_line is not None
    # Spark also applies the pre-shuffle group-limit (partial top-k)
    assert "WindowGroupLimit" in plan


def test_exact_knn_single_partition_elides_merge_window(spark, sf_dir):
    # a one-task corpus scan makes task-local top-k ranks global: the plan
    # must carry NO hash exchange at all — kernel, filter, output sort only
    emb = load_table(spark, sf_dir, "embeddings").coalesce(1)
    q = collect_queries(emb, F.col("vec_id") < 4)
    plan = plan_of(exact_knn(emb, q, 5))
    assert "hashpartitioning" not in plan, plan
    assert "Window" not in plan.replace("WindowGroupLimit", ""), plan


@pytest.fixture(scope="module")
def ivf_store(spark, sf_dir, tmp_path_factory):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_kmeans_centroids(emb)
    assigned = assign_clusters(emb, cents)
    path = str(tmp_path_factory.mktemp("ivf") / "store")
    write_ivf_store(assigned, path)
    return path


def test_ivf_store_partition_pruning(spark, ivf_store):
    df = read_ivf_store(spark, ivf_store)
    pruned = df.filter(F.col("cluster_id").isin([0, 1]))
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "cluster_id" in pf_line
    # and the pruned read returns exactly the rows of those clusters
    assert pruned.count() == df.filter(F.col("cluster_id").isin([0, 1])).count() > 0


def test_ivf_store_roundtrip_complete(spark, sf_dir, ivf_store):
    emb = load_table(spark, sf_dir, "embeddings")
    df = read_ivf_store(spark, ivf_store)
    assert df.count() == emb.count()
    assert set(df.columns) >= {"vec_id", "embedding", "cluster_id"}


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    from vector_database_product_recommendation_spark.sources.tables import write_bucketed

    base = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", str(base / "orders"), bucket_col="o_orderkey")
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        str(base / "lineitem"),
        bucket_col="o_orderkey",
    )
    a, b = spark.table("orders_b"), spark.table("lineitem_b")
    # hint forces the sort-merge path (at test scale Spark would broadcast,
    # which hides the property under test: at fact-fact scale broadcast is
    # off the table and bucketing is what removes the shuffle)
    joined = (
        a.hint("merge")
        .join(b.hint("merge"), "o_orderkey")
        .select("o_orderkey", "o_totalprice", "l_quantity")
    )
    plan = plan_of(joined)
    assert "SortMergeJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan  # co-located: no shuffle
    # and it still computes the right thing
    expect = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert joined.count() == expect


def test_audit_counts_the_final_plan_once(spark, sf_dir):
    """After an action the executed plan's text holds AQE's final and
    initial plans; the audit counts walk the final plan's nodes, so a
    collected broadcast join is one BroadcastHashJoin over no shuffle and
    a collected aggregate one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(nation), orders.o_custkey % 25 == nation.n_nationkey
    ).select("o_orderkey", "n_name")
    joined.collect()
    assert audit.count_broadcast_joins(joined) == 1
    assert audit.count_exchanges(joined) == 0
    assert not audit.has_cartesian(joined)
    counted = orders.groupBy("o_orderstatus").count()
    counted.collect()
    assert audit.count_exchanges(counted) == 1
    assert audit.plan_summary(counted)["exchanges"] == 1
