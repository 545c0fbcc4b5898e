"""Metamorphic tests for TF-IDF / hybrid (SURVEY.md section 5.3).

Cross-engine value checks live in the driver oracle; these pin ranking
semantics the reference implies: self-retrieval ranks the query doc first,
and the alpha blend degenerates to its pure endpoints.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.operators.knn import item_to_item
from vector_database_product_recommendation_spark.plans import audit
from vector_database_product_recommendation_spark.operators.tfidf import (
    TfidfModel,
    hybrid_search,
    tfidf_search,
)
from vector_database_product_recommendation_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def model(docs):
    return TfidfModel(docs, "doc_id", "text")


def test_tfidf_weights_unit_norm(model):
    norms = (
        model.weights(12)
        .groupBy("doc_id")
        .agg(F.sum(F.col("weight") * F.col("weight")).alias("sq"))
        .collect()
    )
    assert norms and all(abs(r["sq"] - 1.0) < 1e-6 for r in norms)


def test_tfidf_self_retrieval_ranks_self_first(docs, model):
    qtext = docs.filter(F.col("doc_id") == 3).select("text").first()[0]
    top = tfidf_search(qtext, model, k=3).collect()
    assert top[0]["doc_id"] == 3
    assert abs(top[0]["score"] - 1.0) < 1e-4  # cosine with itself


def test_hybrid_alpha_one_equals_dense_ranking(docs, emb, model):
    qtext = docs.filter(F.col("doc_id") == 3).select("text").first()[0]
    hybrid = hybrid_search(qtext, 3, docs, emb, k=10, alpha=1.0, model=model).collect()
    dense = item_to_item(emb, 3, 10).collect()
    # hybrid(alpha=1) includes self at rank 1; dense item_to_item excludes it
    assert hybrid[0]["doc_id"] == 3
    assert [r["doc_id"] for r in hybrid[1:]] == [r["neighbor_id"] for r in dense][:9]


def test_hybrid_scores_bounded(docs, emb, model):
    qtext = docs.filter(F.col("doc_id") == 3).select("text").first()[0]
    rows = hybrid_search(qtext, 3, docs, emb, k=50, alpha=0.7, model=model).collect()
    # alpha*dot in [-1,1], (1-alpha)*minmax in [0, 0.3]
    assert all(-1.0 <= r["score"] <= 1.3 for r in rows)


def test_bm25_self_retrieval_and_positive_scores(docs, model):
    from vector_database_product_recommendation_spark.operators.tfidf import bm25_search

    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    rows = bm25_search(qtext, model, k=10).collect()
    assert rows, "bm25 returned no rows"
    assert all(r["score"] > 0 for r in rows)
    # the query document scores at least as high as every other hit
    top_score = rows[0]["score"]
    self_score = [r["score"] for r in rows if r["doc_id"] == 7]
    assert self_score and self_score[0] == top_score


def test_bm25_reads_the_fitted_stats_without_retokenizing(spark, docs, model):
    """BM25 scores over the model's cached tf/df: its executed plan runs no
    Arrow kernel and it caches nothing of its own, so the corpus is not
    tokenized again."""
    from vector_database_product_recommendation_spark.operators.tfidf import bm25_search

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    before = n_cached()
    out = bm25_search(qtext, model, k=10)
    assert out.collect()
    nodes = audit.executed_nodes(out)
    assert "InMemoryTableScan" in nodes and "MapInPandas" not in nodes
    assert n_cached() == before
