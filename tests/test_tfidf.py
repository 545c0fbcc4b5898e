"""Metamorphic tests for TF-IDF / hybrid (SURVEY.md section 5.3).

Cross-engine value checks over the synthetic corpus live in the driver
oracle; these pin ranking semantics the reference implies (self-retrieval
ranks the query doc first, the alpha blend degenerates to its pure
endpoints), the fit's values on a hand-made corpus of edge cases against a
pure-Python reference, and the plan shape of BM25 over the fitted state.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pyspark.sql.functions as F
import pytest
from conftest import optimized_nodes

from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN
from vector_database_product_recommendation_spark.operators.knn import item_to_item
from vector_database_product_recommendation_spark.plans import audit
from vector_database_product_recommendation_spark.operators.tfidf import (
    TfidfModel,
    bm25_search,
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
    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    rows = bm25_search(qtext, model, k=10).collect()
    assert rows, "bm25 returned no rows"
    assert all(r["score"] > 0 for r in rows)
    # the query document scores at least as high as every other hit
    top_score = rows[0]["score"]
    self_score = [r["score"] for r in rows if r["doc_id"] == 7]
    assert self_score and self_score[0] == top_score


def test_bm25_reads_the_fitted_stats_without_retokenizing(spark, docs, model):
    """BM25 scores over the model's cached vocab and postings: its
    executed plan runs no Arrow kernel and it caches nothing of its own,
    so the corpus is not tokenized again."""

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    before = n_cached()
    out = bm25_search(qtext, model, k=10)
    assert out.collect()
    nodes = audit.executed_nodes(out)
    assert "InMemoryTableScan" in nodes and "MapInPandas" not in nodes
    assert n_cached() == before


def test_bm25_aggregates_only_its_query_terms(docs, model):
    """BM25 reads document lengths and avgdl off the fit: its optimized
    plan holds one aggregate (the per-document sum of the query terms'
    contributions) and every join has a key."""
    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    nodes = optimized_nodes(bm25_search(qtext, model, k=10))
    assert [n.nodeName() for n in nodes].count("Aggregate") == 1
    joins = [n for n in nodes if n.nodeName() == "Join"]
    assert joins and all(n.condition().isDefined() for n in joins)


# One hand-made corpus of edge cases: a null text, stop words only, only
# one-character words, a repeated term, a non-ASCII word ("café" tokenizes
# to "caf") and "kindle", in every document that has a term. Smooth idf 1
# needs df = n, which the three term-less documents rule out, so the same
# cases are fitted a second time without them.
EDGE_DOCS = [
    (1, None),
    (2, "The and OF to a"),
    (3, "x y z 1 2 _"),
    (4, "Kindle kindle KINDLE battery screen"),
    (5, "kindle café battery"),
    (6, "kindle screen light"),
]
EDGE_QUERY = "kindle café screen battery unseen"


def _ref_tokens(text):
    stop = set(STOPWORDS_EN)
    return [w for w in re.findall(r"[a-z0-9_]{2,}", (text or "").lower()) if w not in stop]


def _ref_normalized(tf: dict, idf: dict) -> dict:
    """{doc: {term: l2-normalized tf * idf}} of {doc: Counter}."""
    out = {}
    for d, counts in tf.items():
        w = {t: c * idf[t] for t, c in counts.items()}
        nrm = math.sqrt(sum(v * v for v in w.values()))
        out[d] = {t: v / nrm for t, v in w.items()}
    return out


def _ref_fit(corpus, query: str, max_features: int, k1=1.2, b=0.75):
    """Pure-Python weights, capped weights, query weights and BM25
    scores: smooth idf, l2 norm, the Lucene BM25 idf, and avgdl over the
    documents that have a term."""
    n = len(corpus)
    tf = {d: Counter(_ref_tokens(t)) for d, t in corpus if _ref_tokens(t)}
    df = Counter(t for counts in tf.values() for t in counts)
    idf = {t: math.log((1 + n) / (1 + c)) + 1 for t, c in df.items()}
    weights = _ref_normalized(tf, idf)
    cnt = sum(tf.values(), Counter())
    kept = set(sorted(cnt, key=lambda t: (-cnt[t], t))[:max_features])
    capped_tf = {d: {t: c for t, c in counts.items() if t in kept} for d, counts in tf.items()}
    capped = _ref_normalized({d: c for d, c in capped_tf.items() if c}, idf)
    q = Counter(t for t in _ref_tokens(query) if t in df)
    qw = _ref_normalized({0: q}, idf)[0]
    avgdl = sum(sum(c.values()) for c in tf.values()) / len(tf)
    bm25 = {}
    for d, counts in tf.items():
        dl = sum(counts.values())
        for t in set(_ref_tokens(query)) & set(counts):
            lucene = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            c = counts[t]
            bm25[d] = bm25.get(d, 0.0) + lucene * c * (k1 + 1) / (c + k1 * (1 - b + b * dl / avgdl))
    return weights, capped, qw, bm25


def _flat(nested: dict) -> dict:
    return {(d, t): v for d, row in nested.items() for t, v in row.items()}


def _assert_close(got: dict, want: dict):
    assert got.keys() == want.keys()
    assert all(abs(got[key] - want[key]) < 1e-9 for key in want), (got, want)


@pytest.mark.parametrize("keep", [None, {4, 5, 6}], ids=["all", "with-terms"])
def test_fit_matches_a_python_reference_on_edge_cases(spark, keep):
    corpus = [(d, t) for d, t in EDGE_DOCS if keep is None or d in keep]
    model = TfidfModel(spark.createDataFrame(corpus, "doc_id long, text string"), "doc_id", "text")
    weights, capped, qw, bm25 = _ref_fit(corpus, EDGE_QUERY, max_features=2)
    # "kindle" has idf 1 (df = n) exactly when the term-less documents are left out
    assert (model.vocab.filter(F.col("term") == "kindle").first().df == model.n) == bool(keep)
    _assert_close({(r.doc_id, r.term): r.weight for r in model.weights(12).collect()}, _flat(weights))
    capped6 = {key: round(v, 6) for key, v in _flat(capped).items()}
    _assert_close({(r.doc_id, r.term): r.weight for r in model.capped_weights(2).collect()}, capped6)
    _assert_close({r.term: r.qw for r in model.transform_query(EDGE_QUERY).collect()}, qw)
    rows = bm25_search(EDGE_QUERY, model, k=10).collect()
    assert [r.doc_id for r in rows] == sorted(bm25, key=lambda d: (-round(bm25[d], 6), d))
    _assert_close({r.doc_id: r.score for r in rows}, {d: round(v, 6) for d, v in bm25.items()})
