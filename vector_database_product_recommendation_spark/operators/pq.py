"""Product quantization (PQ) approximate KNN — the compressed-corpus scale
path alongside IVF (operators/ivf.py).

The reference's ANN layer is IndexIVFFlat (SURVEY.md section 2.7): coarse
pruning, full-precision residuals. PQ attacks the other axis — memory:
each vector is split into ``m`` subvectors and every subvector is replaced
by the id of its nearest per-subspace centroid (Jegou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public paper).
A 64-d float64 vector (512 B) becomes ``m`` small ints (m bytes at
ksub<=256), a 64x compression, which is what lets a 100 TB embedding
corpus fit hot in cluster memory.

Spark-first mapping (no reference code involved — the reference has no
PQ; this is a training-data-pipeline extension):
- train: per-subspace Lloyd k-means on a bounded driver-side SAMPLE
  (exactly how faiss trains PQ codebooks), with the IVF quantizer's
  trainer (operators/ivf.py): the same sample transfer, at most 256
  points per centroid, and the same Lloyd loop. The codebook is
  m*ksub*dsub floats — kilobytes — shipped in the task closures.
- encode: mapInPandas over the corpus; one argmin-distance matmul per
  (Arrow batch, subspace). The corpus never shuffles and never collects.
- search: asymmetric distance computation (ADC) — per query build an
  (m x ksub) lookup table of subvector dot products, then every corpus
  vector's approximate inner product is a sum of m table lookups; NumPy
  fancy-indexing inside mapInPandas keeps it vectorized. Optional exact
  re-rank of the top candidates against the full-precision vectors
  restores recall (the standard PQ + refine pipeline).

Exactness property used by tests: when every distinct subvector gets its
own centroid (ksub >= #unique subvectors, achievable at test scale),
quantization is lossless and PQ scores equal exact scores bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.operators.ivf import (
    MAX_POINTS_PER_CENTROID,
    _corpus_shape,
    _lloyd,
    _sample_matrix,
)
from vector_database_product_recommendation_spark.operators.knn import (
    QueryBatch,
    _nonempty,
    _schema,
    merge_topk,
    row_dots,
    topk_scan,
)

# the most refine candidates (queries * fetch) pq_knn forces onto a
# broadcast; past it the planner's size estimate picks the join
REFINE_BROADCAST_MAX_ROWS = 1_000_000
# subspaces per vector (M) and centroids per subspace (KSUB)
M = 8
KSUB = 16


def train_pq(emb: DataFrame) -> list[np.ndarray]:
    """Train per-subspace codebooks on a bounded sample.

    Driver-side by contract: one float64 sample (seed 42) of at most
    ``MAX_POINTS_PER_CENTROID * KSUB`` rows (codebook quality depends on
    the distribution, not the corpus size), then one Lloyd run per
    subspace, seeded ``42 + j``. The result is ``M`` arrays of
    (<=KSUB, d/M) floats, kilobytes total. A subspace with at most KSUB
    distinct sample rows takes those rows as its codebook: zero
    distortion, the lossless regime the exactness test exploits.
    """
    n, d = _corpus_shape(emb)
    if d % M != 0:
        raise ValueError(f"dim {d} not divisible by M={M}")
    x = _sample_matrix(emb, n, d, MAX_POINTS_PER_CENTROID * KSUB, seed=42, dtype=np.float64)
    dsub = d // M
    books = []
    for j in range(M):
        sub = x[:, j * dsub : (j + 1) * dsub]
        uniq = np.unique(sub, axis=0)
        books.append(uniq if len(uniq) <= KSUB else _lloyd(sub, KSUB, iters=25, seed=42 + j))
    return books


def encode_pq(emb: DataFrame, codebooks: list[np.ndarray]) -> DataFrame:
    """Corpus -> (vec_id, codes array<int>): nearest centroid per subspace.

    One mapInPandas pass; per Arrow batch and subspace the assignment is a
    single (batch x ksub) distance matmul. No shuffle, no collect.
    """
    books = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m = len(books)
    dsub = books[0].shape[1]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = matrix(pdf["embedding"])
            codes = np.empty((len(x), m), dtype=np.int32)
            for j, cents in enumerate(books):
                sub = x[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ cents.T)
                    + (cents * cents).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": list(codes)})

    return emb.select("vec_id", "embedding").mapInPandas(encode, "vec_id long, codes array<int>")


def pq_knn(
    codes_df: DataFrame,
    codebooks: list[np.ndarray],
    batch: QueryBatch,
    k: int,
    *,
    emb: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """ADC top-k per query of ``batch`` over the coded corpus
    (``encode_pq``'s (vec_id, codes)). An empty batch raises ValueError.

    Per query, an (m x ksub) lookup table of subvector dots; a coded row's
    score is the sum of its m lookups. ADC scores are NOT rounded before
    selection. ``knn.topk_scan`` keeps the top-``fetch`` per query under
    (ADC score desc, neighbor_id asc), so the merge shuffle moves
    O(tasks * queries * fetch) rows instead of every scored candidate.

    If ``emb`` (vec_id, embedding) is given, the ADC top
    ``k*refine_factor`` candidates are re-scored exactly against the
    full-precision vectors (a candidate set of at most
    ``REFINE_BROADCAST_MAX_ROWS`` rows is BROADCAST onto the corpus scan,
    so the corpus never shuffles; for a larger one the planner picks the
    join), each joined row against its own query's collected vector in
    one mapInPandas pass (``knn.row_dots``), and re-ranked by
    ``knn.merge_topk``; output is then (query_id,
    neighbor_id, score, rank) with exact scores, comparable to exact_knn's.
    """
    q_ids, q_mat, _ = _nonempty(batch)
    books = [np.asarray(c, dtype=np.float64) for c in codebooks]
    fetch = k * refine_factor if emb is not None else k
    dsub = books[0].shape[1]
    # per subspace, a (queries x ksub) table of subvector dots
    luts = [q_mat[:, j * dsub : (j + 1) * dsub] @ b.T for j, b in enumerate(books)]

    def score_batch(pdf: pd.DataFrame) -> np.ndarray:
        codes = np.asarray(pdf["codes"].tolist(), dtype=np.int32)  # (n, m)
        scores = np.zeros((len(q_ids), len(codes)), dtype=np.float64)
        for j, lut in enumerate(luts):
            scores += lut[:, codes[:, j]]  # (nq, n) lookup-add
        return scores.T

    codes = codes_df.select("vec_id", "codes")
    cand = topk_scan(codes, batch, fetch, score_batch, corpus_id="vec_id")
    if emb is None:
        return cand.select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")

    # exact refine: a candidate table of at most REFINE_BROADCAST_MAX_ROWS
    # rows (queries * fetch) broadcasts onto the corpus scan — emb itself
    # never shuffles; only the rescored candidates cross the rank-window
    # exchange. Past the bound (a refine_factor near the corpus size) the
    # planner's size estimate picks the join.
    pairs = cand.select("query_id", "neighbor_id")
    if len(q_ids) * fetch <= REFINE_BROADCAST_MAX_ROWS:
        pairs = F.broadcast(pairs)
    joined = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
        .join(pairs, "neighbor_id")
        .select("query_id", "neighbor_id", "nv")
    )
    pos = pd.Index(q_ids)

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            own = q_mat[pos.get_indexer(pdf["query_id"])]  # each row's query
            score = np.round(row_dots(matrix(pdf["nv"]), own), 6)
            yield pdf[["query_id", "neighbor_id"]].assign(score=score)

    schema = _schema(joined, batch.id_type, "neighbor_id", ["score double"])
    rescored = joined.mapInPandas(rescore, schema)
    return merge_topk(rescored, k, single_task=False).orderBy("query_id", "rank")
