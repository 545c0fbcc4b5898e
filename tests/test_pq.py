"""Product quantization: lossless-regime exactness, recall with refine,
compression plumbing."""

from __future__ import annotations

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.operators.knn import exact_knn
from vector_database_product_recommendation_spark.operators.pq import encode_pq, pq_knn, train_pq
from vector_database_product_recommendation_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _assert_pq_equals_exact(emb, books):
    codes = encode_pq(emb, books)
    got = pq_knn(codes, books, _queries(emb), 10)
    want = exact_knn(emb, _queries(emb), 10)
    g = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in got.collect()}
    w = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in want.collect()}
    assert g == w


def test_pq_lossless_regime_equals_exact(spark, monkeypatch):
    from vector_database_product_recommendation_spark.operators import pq

    emb = load_table(spark, SF_DIR, "embeddings")
    monkeypatch.setattr(pq, "KSUB", emb.count() + 10)  # every subvector its own centroid
    books = train_pq(emb)
    _assert_pq_equals_exact(emb, books)


def test_pq_lossless_regime_with_more_rows_than_centroids(spark):
    # 40 rows, 5 distinct vectors: more rows than KSUB, yet KSUB covers
    # every distinct subvector, so the codebooks are those subvectors
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 5)
    emb = base.crossJoin(spark.range(8).withColumnRenamed("id", "copy")).select(
        (F.col("vec_id") * 8 + F.col("copy")).alias("vec_id"), "embedding"
    )
    books = train_pq(emb)
    assert all(len(b) == 5 for b in books)
    _assert_pq_equals_exact(emb, books)


def test_pq_train_on_empty_corpus_names_it(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(0)
    with pytest.raises(ValueError, match="empty corpus"):
        train_pq(emb)


def test_pq_refine_recall_bound(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = train_pq(emb)
    codes = encode_pq(emb, books)
    got = pq_knn(codes, books, _queries(emb), 10, emb=emb, refine_factor=8)
    want = exact_knn(emb, _queries(emb), 10)
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    w = {(r["query_id"], r["neighbor_id"]) for r in want.collect()}
    assert len(g & w) / len(w) >= 0.5  # coarse codebooks + refine
    # refined scores are EXACT dots: self-match scores 1.0 on unit vectors
    self_scores = [r["score"] for r in got.collect() if r["query_id"] == r["neighbor_id"]]
    assert self_scores and all(abs(s - 1.0) < 1e-6 for s in self_scores)


def test_pq_codes_compress_and_bound(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = train_pq(emb)
    codes = encode_pq(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])


def test_sq8_knn_matches_exact_top1(spark, sf_dir):
    # SQ8 with refine: after exact rescoring the top hit must equal the
    # exact KNN top hit whenever it survives the candidate stage (it does
    # at refine_factor=4 on smooth unit vectors).
    import pyspark.sql.functions as F

    from vector_database_product_recommendation_spark.operators.knn import item_to_item
    from vector_database_product_recommendation_spark.operators.sq import sq8_knn
    from vector_database_product_recommendation_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sq = sq8_knn(emb, query_id=7, k=5).collect()
    assert len(sq) == 5
    assert all(-1.000001 <= r["score"] <= 1.000001 for r in sq)  # unit vectors
    assert all(abs(r["score"] - r["approx_score"]) < 0.05 for r in sq)
    exact = item_to_item(emb, 7, k=5)
    top_exact = exact.orderBy(F.desc("score"), F.asc("neighbor_id")).first()
    assert sq[0]["vec_id"] == top_exact["neighbor_id"]


def test_pq_knn_empty_query_batch_raises(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = train_pq(emb)
    codes = encode_pq(emb, books)
    empty = _queries(emb).limit(0)
    for kw in ({}, {"emb": emb}):
        # raised while building the query, not inside a scoring task
        with pytest.raises(ValueError, match="empty query batch"):
            pq_knn(codes, books, empty, 5, **kw)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _fixture(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb)
    codes = encode_pq(emb, books)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb, books, codes, q


def test_pq_knn_single_partition_elides_adc_merge_window(spark, sf_dir):
    emb, books, codes, q = _fixture(spark, sf_dir)
    plan = plan_of(pq_knn(codes.coalesce(1), books, q, 5))
    # kernel emits task-local exact ranks; a one-task code table needs no
    # merge window (and therefore no hashpartitioning exchange at all)
    assert "hashpartitioning" not in plan, plan
    assert "Window" not in plan.replace("WindowGroupLimit", ""), plan


def test_pq_knn_multi_partition_matches_single(spark, sf_dir):
    emb, books, codes, q = _fixture(spark, sf_dir)
    one = codes.coalesce(1)
    many = codes.repartition(7)
    for kw in ({}, {"emb": emb, "refine_factor": 3}):
        a = pq_knn(one, books, q, 5, **kw).collect()
        b = pq_knn(many, books, q, 5, **kw).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], kw


def test_pq_knn_refine_broadcasts_candidates_not_corpus(spark, sf_dir):
    emb, books, codes, q = _fixture(spark, sf_dir)
    plan = plan_of(pq_knn(codes.coalesce(1), books, q, 5, emb=emb, refine_factor=3))
    # the corpus scan must not feed an exchange: candidates broadcast onto it
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_pq_refine_broadcast_gated_on_candidate_rows(spark, sf_dir, monkeypatch):
    """The refine candidates are forced onto a broadcast only while
    queries * fetch stays within REFINE_BROADCAST_MAX_ROWS: with the
    planner's own size-based broadcast switched off, pq_knn_refined
    (8 queries x 40) keeps that BroadcastExchange, pq_knn_exactrefine
    (8 x 5,000,000) joins without it and returns the same rows as when
    forced to broadcast. No query table is joined: each candidate row is
    scored against its own query's collected vector."""
    from vector_database_product_recommendation_spark import registry
    from vector_database_product_recommendation_spark.operators import pq

    def broadcasts(df) -> int:
        return len(re.findall(r"^\(\d+\) BroadcastExchange$", plan_of(df), re.M))

    qmap = registry.queries()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        refined = broadcasts(qmap["pq_knn_refined"](spark, sf_dir))
        exact = qmap["pq_knn_exactrefine"](spark, sf_dir)
        plain = broadcasts(exact)
        monkeypatch.setattr(pq, "REFINE_BROADCAST_MAX_ROWS", 10**12)
        forced = qmap["pq_knn_exactrefine"](spark, sf_dir)
        forced_plan = broadcasts(forced)
    finally:
        spark.conf.set(key, prior)
    # the candidates broadcast only below the bound, and nothing else does
    assert refined == forced_plan == 1
    assert plain == 0
    assert exact.collect() == forced.collect()
