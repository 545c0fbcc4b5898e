"""Retrieval parity on the reference's own vectors (E2/E3 lifecycles).

The ground truth here is the reference's *algorithm* executed directly in
NumPy on its shipped embeddings (the app's own scoring loop: `emb @ qv`,
self-exclusion, argsort top-k — app.py:221-241), compared against this
engine's distributed operators on the same data. The ANN layer is held to
the recall regime of the shipped trade-off tables (BASELINE.md run B:
Precision@K 0.906-0.915, MRR ~0.95 as nprobe 1→20 with nlist=39). Runs
on the reference's own files when present, else on the seeded catalog in
the same layout (conftest.ref_fixture).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

import pyspark.sql.functions as F

REF = "/root/reference"



@pytest.fixture(scope="module")
def ref(ref_fixture):
    return REF if os.path.isdir(REF) else ref_fixture.ref_dir


@pytest.fixture(scope="module")
def ref_mat(ref):
    return np.load(f"{ref}/product_embeddings.npy").astype(np.float64)


@pytest.fixture(scope="module")
def ref_emb(spark, ref_mat):
    rows = [(i, row.tolist()) for i, row in enumerate(ref_mat)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>").cache()


def test_item_to_item_matches_numpy_reference(ref_emb, ref_mat):
    from vector_database_product_recommendation_spark.operators.knn import item_to_item

    k = 5
    n = len(ref_mat)
    for qidx in sorted({q for q in (0, 7, 33, 65) if q < n} | {n - 1}):
        qv = ref_mat[qidx]
        scores = ref_mat @ qv  # the app's scoring line (app.py:234)
        scores[qidx] = -np.inf  # self-exclusion (app.py:227-228)
        ours = item_to_item(ref_emb, qidx, k).collect()
        np_top = np.sort(scores)[::-1][:k]
        for r, expect in zip(ours, np_top):
            assert abs(r["score"] - expect) < 1e-5
        # ids agree wherever scores are unambiguous (no 1e-6 ties)
        np_ids = np.argsort(-scores, kind="stable")[:k]
        tied = len(np.unique(np.round(np_top, 6))) < k
        if not tied:
            assert [r["neighbor_id"] for r in ours] == list(np_ids)


def test_pairwise_matrix_matches_numpy(ref_emb, ref_mat):
    from vector_database_product_recommendation_spark.operators.knn import pairwise_similarity

    sel = ref_emb.filter(F.col("vec_id") < 4)
    ours = {(r["id_a"], r["id_b"]): r["score"] for r in pairwise_similarity(sel).collect()}
    gram = ref_mat[:4] @ ref_mat[:4].T  # V @ V.T (app.py:349)
    for i in range(4):
        for j in range(4):
            assert abs(ours[(i, j)] - gram[i, j]) < 1e-5


def test_ann_tradeoff_on_reference_reviews(spark, ref):
    """E3 on the review vectors (1578 in the reference, whose max(2, ⌊√n⌋)
    index lists are the shipped IVF header's nlist=39), nprobe sweep — recall must land in the reference's regime and be monotone to
    exactness."""
    from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff
    from vector_database_product_recommendation_spark.operators.ivf import build_ivf_index

    mat = np.load(f"{ref}/review_embeddings.npy").astype(np.float64)
    emb = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(mat)],
        "vec_id int, embedding array<double>",
    ).cache()
    nlist = max(2, int(len(mat) ** 0.5))
    # the reference's sweep 1, 5, 20, 39 scaled to nlist
    mid, hi = max(1, round(nlist * 5 / 39)), round(nlist * 20 / 39)
    nprobes = tuple(sorted({1, mid, hi, nlist}))
    rows = {
        r["nprobe"]: r
        for r in ann_tradeoff(
            emb, build_ivf_index(emb), n_queries=64, k=10, nprobes=nprobes
        ).collect()
    }
    # nprobe == nlist is exact
    assert rows[nlist]["precision_at_k"] == 1.0
    assert rows[nlist]["mrr"] == 1.0
    # reference regime: run B ships P@K ~0.91 at nprobe>=1; allow our
    # different quantizer some slack but stay in the same quality class
    assert rows[hi]["precision_at_k"] >= 0.85
    assert rows[hi]["mrr"] >= 0.85
    for lo, up in zip(nprobes, nprobes[1:]):
        assert rows[lo]["precision_at_k"] <= rows[up]["precision_at_k"] + 1e-9


def test_e1_two_stage_retrieval_on_reference_products(spark, ref, ref_emb, ref_mat):
    """E1 with metadata pre-filtering (app.py:156-188): filter products on
    (brand, min_rating, min_reviews), then score ONLY survivors against a
    query vector, top-k — compared against the app's own NumPy flow."""
    import pandas as pd

    from vector_database_product_recommendation_spark.operators.knn import QueryBatch, exact_knn

    prod = pd.read_csv(f"{ref}/products.csv")
    sdf = spark.createDataFrame(prod.assign(row_idx=range(len(prod))))

    k, qidx = 5, 7
    # the seeded catalog's products carry fewer, lower-rated reviews
    min_rating, min_reviews = (4.0, 10) if ref == REF else (2.8, 3)

    # stage 1 (Spark): the reference's null-defaulted conjunctive mask
    cand = sdf.filter(
        (F.lower(F.col("brand")) == "amazon")
        & (F.coalesce(F.col("avg_rating"), F.lit(-1.0)) >= min_rating)
        & (F.coalesce(F.col("n_reviews"), F.lit(0)) >= min_reviews)
    ).select("row_idx")
    corpus = cand.join(ref_emb, cand.row_idx == ref_emb.vec_id).select(
        "vec_id", "embedding"
    )
    q = QueryBatch(np.array([0]), ref_mat[qidx][None, :].astype(np.float64), "bigint")
    ours = exact_knn(corpus, q, k).collect()

    # the app's flow in numpy (app.py:156-164, 181-182)
    mask = (
        prod["brand"].str.lower().eq("amazon")
        & prod["avg_rating"].fillna(-1).ge(min_rating)
        & prod["n_reviews"].fillna(0).ge(min_reviews)
    ).to_numpy()
    idxs = mask.nonzero()[0]
    scores = ref_mat[idxs] @ ref_mat[qidx]
    order = scores.argsort()[::-1][:k]
    assert len(idxs) > 0 and len(ours) == min(k, len(idxs))
    for r, (i, s) in zip(ours, zip(idxs[order], scores[order])):
        assert abs(r["score"] - s) < 1e-5
    # candidate set honored: nothing outside the filtered ids
    assert {r["neighbor_id"] for r in ours} <= set(idxs.tolist())
