from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame, Window

from vector_database_product_recommendation_spark.operators.centroids import group_centroids, group_centroids_long
from vector_database_product_recommendation_spark.operators.knn import (
    QueryBatch,
    collect_queries,
    exact_knn,
    item_to_item,
    pairwise_similarity,
    rank_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    df.count()
    return df


def _expr_dot(a: str, b: str):
    """The inner product of two array columns as Spark expressions only
    (zip_with + aggregate, accumulated in double): the JVM-side reference
    the numpy kernels are checked against."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def exact_knn_expr(corpus: DataFrame, where, k: int) -> DataFrame:
    """Pure-expression cross-check of exact_knn for the corpus rows matching
    ``where``: crossJoin(broadcast(queries)) + zip_with dot + a row_number
    window. JVM-only, no Python worker, but it shuffles O(q*N) scored rows,
    so it is a test oracle, not a serving path."""
    q = corpus.filter(where).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    scored = (
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
        .crossJoin(F.broadcast(q))
        .select("query_id", "neighbor_id", F.round(_expr_dot("__cv", "__qv"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _queries(emb, n=5) -> QueryBatch:
    return collect_queries(emb, F.col("vec_id") < n)


def test_exact_knn_matches_numpy(spark, emb):
    k = 5
    out = exact_knn(emb, _queries(emb), k).collect()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["score"]))
    for qid in range(5):
        qv = mat[ids == qid][0]
        s = np.round(mat @ qv, 6)
        order = np.lexsort((ids, -s))[:k]
        expected = [(int(ids[i]), float(s[i])) for i in order]
        assert got[qid] == expected


def test_exact_knn_expr_agrees_with_kernel(spark, emb):
    k = 4
    a = exact_knn(emb, _queries(emb, 3), k).collect()
    b = exact_knn_expr(emb, F.col("vec_id") < 3, k).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_exact_knn_task_holding_only_the_query_row(spark):
    """exclude_self on a multi-partition corpus where one task's only row
    is the query itself: that task keeps no candidate and must emit
    nothing rather than fail."""
    vecs = [[1.0, 0.0], [0.8, 0.6], [0.0, 1.0]]
    corpus = spark.sparkContext.parallelize(list(enumerate(vecs)), 3).toDF("vec_id long, embedding array<double>")
    q = collect_queries(corpus, F.col("vec_id") == 0)
    out = exact_knn(corpus, q, 2, exclude_self=True).collect()
    assert [(r["neighbor_id"], r["score"], r["rank"]) for r in out] == [(1, 0.8, 1), (2, 0.0, 2)]


# (id, vector, label, weight, n) in partition order: partition 0 holds
# the high ids. Id 10 (partition 0) ties at 0.5 with id 3 against query 6
# and with id 0 against query 4 (both in partition 2); with k=3 either
# tie falls on the cutoff, the one for query 6 when the query's own row
# is excluded, the one for query 4 when it is not. Both winners carry a
# null payload value.
PAYLOAD_ROWS = [
    (11, [0.9, 0.1, 0.0], "k", 1.5, 4),
    (10, [0.5, 0.5, 0.0], "j", 2.5, 7),
    (9, [0.2, 0.0, 0.3], "i", None, 1),
    (8, [0.0, 0.0, 1.0], None, 0.5, None),
    (7, [0.7, 0.0, 0.0], "g", 0.0, 2),
    (6, [1.0, 0.0, 0.0], "f", 3.0, 9),
    (5, [0.1, 0.9, 0.0], "e", 1.0, 3),
    (4, [0.0, 1.0, 0.0], "d", 1.0, 3),
    (3, [0.5, 0.0, 0.5], None, None, None),
    (2, [0.3, 0.2, 0.0], "b", 4.0, 5),
    (1, [-1.0, 0.0, 0.0], "a", 5.0, 6),
    (0, [0.0, 0.5, 0.5], "z", None, 8),
]
PAYLOAD = ("label", "weight", "n")


def _payload_oracle(queries: list, k: int, exclude_self: bool) -> list:
    """Per query, the top-k rows by (rounded score desc, id asc) with
    their payload, in pandas."""
    corpus = pd.DataFrame(PAYLOAD_ROWS, columns=["id", "vec", *PAYLOAD])
    mat = np.stack(corpus["vec"].to_numpy())
    out = []
    for qid, qv in sorted(queries):
        c = corpus.assign(score=np.round(mat @ np.asarray(qv), 6))
        if exclude_self:
            c = c[c["id"] != qid]
        top = c.sort_values(["score", "id"], ascending=[False, True]).head(k)
        top = top.astype(object).where(top.notna(), None)
        for rank, r in enumerate(top.itertuples(), 1):
            out.append((qid, r.id, r.score, rank, *(getattr(r, col) for col in PAYLOAD)))
    return out


@pytest.mark.parametrize("exclude_self", [False, True])
def test_exact_knn_payload_on_merge_path(spark, exclude_self):
    """Payload rides through the task-local top-k and the window merge
    of a 3-partition corpus: null values survive, a score tie across
    partitions goes to the lower id, and exclude_self holds."""
    corpus = spark.sparkContext.parallelize(PAYLOAD_ROWS, 3).toDF(
        "vec_id long, embedding array<double>, label string, weight double, n long"
    )
    assert corpus.rdd.getNumPartitions() == 3
    queries = [(6, [1.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0])]
    q = QueryBatch(np.array([6, 4]), np.array([v for _, v in queries]), "bigint")
    out = exact_knn(corpus, q, 3, exclude_self=exclude_self, payload=PAYLOAD)
    assert out.columns == ["query_id", "neighbor_id", "score", "rank", *PAYLOAD]
    got = [tuple(r) for r in out.collect()]
    assert got == _payload_oracle(queries, 3, exclude_self)
    ids = {qid: [g[1] for g in got if g[0] == qid] for qid, _ in queries}
    assert ids == ({6: [11, 7, 3], 4: [5, 0, 10]} if exclude_self else {6: [6, 11, 7], 4: [4, 5, 0]})
    default = exact_knn(corpus, q, 3, exclude_self=exclude_self)
    assert default.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:bigint,score:double,rank:int>"
    )
    assert [tuple(r) for r in default.collect()] == [g[:4] for g in got]


# (query index, neighbor id, score) rows: scores come from five values and
# ids from a small range, so ties on score (and on whole rows) are heavy
_CANDIDATES = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(0, 20),
        st.sampled_from([-1.0, -0.5, 0.0, 0.25, 1.0]),
    ),
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(rows=_CANDIDATES, k=st.integers(1, 12))
@example(rows=[], k=1)
@example(rows=[(0, 5, 0.5), (0, 3, 0.5), (1, 2, 0.0)], k=1)
@example(rows=[(2, 1, 0.0), (2, 0, 0.0), (0, 9, 1.0)], k=40)
def test_rank_topk_matches_pandas_oracle(rows, k):
    """The shared task-local selector keeps, per query, the first k rows
    under (score desc, id asc) with 1-based ranks, and ``idx`` points at
    those rows of the input arrays."""
    cq = np.array([r[0] for r in rows], dtype=np.int64)
    cn = np.array([r[1] for r in rows], dtype=np.int64)
    cs = np.array([r[2] for r in rows], dtype=np.float64)
    idx, rank = rank_topk(cq, cn, cs, k)
    got = list(zip(cq[idx].tolist(), cn[idx].tolist(), cs[idx].tolist(), rank.tolist()))

    df = pd.DataFrame({"q": cq, "n": cn, "s": cs})
    df = df.sort_values(["q", "s", "n"], ascending=[True, False, True])
    df["rank"] = df.groupby("q").cumcount() + 1
    df = df[df["rank"] <= k]
    want = list(zip(df["q"].tolist(), df["n"].tolist(), df["s"].tolist(), df["rank"].tolist()))
    assert got == want
    assert len(set(idx.tolist())) == len(idx)  # each input row kept at most once


def test_item_to_item_excludes_self(spark, emb):
    out = item_to_item(emb, 7, 10).collect()
    assert len(out) == 10
    assert all(r["neighbor_id"] != 7 for r in out)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_pairwise_similarity_diagonal_is_one(spark, emb):
    sel = emb.filter(F.col("vec_id") < 4)
    out = pairwise_similarity(sel).collect()
    assert len(out) == 16
    m = {(r["id_a"], r["id_b"]): r["score"] for r in out}
    for i in range(4):
        assert abs(m[(i, i)] - 1.0) < 1e-5  # unit vectors
    for i in range(4):
        for j in range(4):
            assert m[(i, j)] == m[(j, i)]


def test_group_centroids_unit_norm_and_mean(spark, emb):
    out = group_centroids(emb, "label").collect()
    assert len(out) == emb.select("label").distinct().count()
    rows = emb.select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(np.asarray(r["embedding"], dtype=np.float64))
    for r in out:
        v = np.asarray(r["vector"])
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
        m = np.mean(np.stack(by_label[r["label"]]), axis=0)
        m = m / (np.linalg.norm(m) + 1e-12)
        assert np.allclose(v, m, atol=1e-9)


def test_group_centroids_long_shape(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    out = group_centroids_long(emb, "label")
    n_labels = emb.select("label").distinct().count()
    assert out.count() == n_labels * dim


def test_exact_scores_full_matrix_no_selection(spark, emb):
    """exact_scores = the exact_knn kernel minus rounding and top-k: every
    corpus row scored per query, raw values equal to the numpy product
    (to the last bits a BLAS blocking may move), not on the 6-decimal
    grid."""
    from vector_database_product_recommendation_spark.operators.knn import exact_scores

    out = exact_scores(emb, _queries(emb, 3), corpus_id="vec_id").collect()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    n = len(ids)
    assert len(out) == 3 * n
    got = {(r["query_id"], r["neighbor_id"]): r["score"] for r in out}
    for qid in range(3):
        s = mat @ mat[ids == qid][0]
        raw = np.array([got[(qid, int(nid))] for nid in ids])
        np.testing.assert_allclose(raw, s, rtol=0, atol=1e-12)
        assert (raw != np.round(raw, 6)).any()


def _numpy_topk(rows, queries, k, exclude_self):
    """(query_id, neighbor_id, score, rank, label) of the top-k under
    (rounded score desc, id asc), in numpy."""
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    labels = [r["label"] for r in rows]
    out = []
    for qid in queries:
        s = np.round(mat @ mat[ids == qid][0], 6)
        order = [i for i in np.lexsort((ids, -s)) if not (exclude_self and ids[i] == qid)]
        out += [(qid, int(ids[i]), float(s[i]), r, labels[i]) for r, i in enumerate(order[:k], 1)]
    return out


def test_topk_scan_multi_batch_matches_one_batch_and_numpy(spark, emb, monkeypatch):
    """With Arrow batches of a few rows, each scan task prunes every batch
    (the np.partition threshold) before its one ranking: the exact, IVF and
    PQ kernels return the rows of a one-batch run, and exact and full-probe
    IVF return numpy's."""
    from vector_database_product_recommendation_spark.operators import ivf
    from vector_database_product_recommendation_spark.operators.ivf import (
        assign_clusters,
        collect_centroids,
        ivf_knn,
        train_kmeans_centroids,
    )
    from vector_database_product_recommendation_spark.operators.pq import (
        encode_pq,
        pq_knn,
        train_pq,
    )

    corpus = emb.repartition(3)
    monkeypatch.setattr(ivf, "_nlist", lambda n: 5)  # nprobe=5 probes every list
    cents = train_kmeans_centroids(emb)
    assigned = assign_clusters(corpus, cents)
    centroids = collect_centroids(cents)
    books = train_pq(emb)
    codes = encode_pq(corpus, books)
    q = _queries(emb)
    k = 3

    def run():
        return {
            "exact": exact_knn(corpus, q, k, exclude_self=True, payload=("label",)),
            "ivf_partial": ivf_knn(assigned, centroids, q, k, nprobe=2),
            "ivf_full": ivf_knn(assigned, centroids, q, k, nprobe=5),
            "pq": pq_knn(codes, books, q, k),
            "pq_refine": pq_knn(codes, books, q, k, emb=corpus, refine_factor=2),
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    one = {name: [tuple(r) for r in df.collect()] for name, df in run().items()}
    spark.conf.set(key, "7")
    try:
        sizes = corpus.mapInPandas(
            lambda it: (pd.DataFrame({"n": [len(p)]}) for p in it), "n long"
        ).collect()
        many = {name: [tuple(r) for r in df.collect()] for name, df in run().items()}
    finally:
        spark.conf.set(key, prior)
    assert len(sizes) > 3 and max(r["n"] for r in sizes) <= 7
    assert many == one
    rows = emb.select("vec_id", "embedding", "label").collect()
    assert one["exact"] == _numpy_topk(rows, range(5), k, exclude_self=True)
    assert one["ivf_full"] == [r[:4] for r in _numpy_topk(rows, range(5), k, exclude_self=False)]
    assert all(len(v) == 5 * k for v in one.values())


def test_topk_scan_cuts_ties_per_batch_by_id(spark, emb):
    """Four copies of every vector under consecutive ids: in batches of 7
    rows a query's k-th score ties across copies, so each batch's
    ties-or-beats superset passes k rows per query and is cut to the
    batch's top-k by (score desc, id asc). Exact KNN still returns numpy's
    rows, self-exclusion included, and PQ the rows of a one-batch run."""
    from vector_database_product_recommendation_spark.operators.pq import (
        encode_pq,
        pq_knn,
        train_pq,
    )

    dup = (
        emb.filter(F.col("vec_id") < 20)
        .crossJoin(spark.range(4).withColumnRenamed("id", "copy"))
        .select((F.col("vec_id") * 4 + F.col("copy")).alias("vec_id"), "embedding", "label")
        .coalesce(1)
        .cache()
    )
    books = train_pq(emb)
    codes = encode_pq(dup, books).cache()
    q = collect_queries(dup, (F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 20))
    k = 2

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    one_pq = pq_knn(codes, books, q, k).collect()
    spark.conf.set(key, "7")
    try:
        exact = [tuple(r) for r in exact_knn(dup, q, k, exclude_self=True, payload=("label",)).collect()]
        many_pq = pq_knn(codes, books, q, k).collect()
    finally:
        spark.conf.set(key, prior)
        codes.unpersist()
        dup.unpersist()
    rows = dup.select("vec_id", "embedding", "label").collect()
    assert exact == _numpy_topk(rows, range(0, 20, 4), k, exclude_self=True)
    assert many_pq == one_pq and len(one_pq) == 5 * k
