"""Partition-count invariance: distributed results must not depend on how
the data is split. This is the property the round-before-select design
exists for (scores rounded in float64 BEFORE local top-k, deterministic
tie-breaks) — the thing that makes results reproducible when the same
query runs on 8 partitions locally and 80,000 at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_table,
    simhash_signatures,
)
from vector_database_product_recommendation_spark.operators.knn import collect_queries, exact_knn
from vector_database_product_recommendation_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_exact_knn_partition_invariant(emb):
    q = collect_queries(emb, F.col("vec_id") < 6)
    narrow = exact_knn(emb.repartition(1), q, 7)
    wide = exact_knn(emb.repartition(13), q, 7)
    assert _rows(narrow) == _rows(wide)


def test_simhash_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # unsorted rows: the registry's query adds the presentation order
    a = sorted(_rows(simhash_signatures(docs.repartition(1))))
    b = sorted(_rows(simhash_signatures(docs.repartition(11))))
    assert a == b


def test_minhash_lsh_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = _rows(minhash_lsh_pairs(minhash_table(docs.repartition(2))))
    b = _rows(minhash_lsh_pairs(minhash_table(docs.repartition(9))))
    assert a == b


def test_running_total_partition_invariant(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)

    def running(df):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return df.select(
            "user_id",
            "event_id",
            F.round(
                F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
            ).alias("running_value"),
        ).orderBy("user_id", "event_id")

    assert _rows(running(ev.repartition(1))) == _rows(running(ev.repartition(17)))
