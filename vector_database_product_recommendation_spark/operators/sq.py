"""Scalar quantization (SQ8) approximate KNN — the third compression point
on the ANN axis next to IVF (pruning, operators/ivf.py) and PQ (codebook
compression, operators/pq.py).

Each dimension is quantized independently to an 8-bit code against
per-dimension [min, max] trained on the corpus (the faiss
ScalarQuantizer/QT_8bit layout; public algorithm). 4x smaller than
float32 with near-exact recall on smooth distributions — the cheap
middle ground before PQ's 64x.

Spark-first shape:
- train: posexplode -> groupBy(pos) min/max, #dims rows to the driver.
- encode + asymmetric scoring: the per-batch scorer of ``knn.topk_scan``
  (code -> midpoint reconstruction -> product with the query, in numpy),
  which keeps the top k*REFINE_FACTOR with their vectors as payload; the
  corpus never shuffles.
- refine: those candidates reach the driver in one bounded transfer, are
  rescored exactly and ranked by ``knn.rank_topk``, and come back as a
  ``lifetime.local_frame``.

Everything is floor/min/max arithmetic in float64 with products summed in
dimension order (``knn.row_dots``) — deterministic across engines, so
unlike PQ (k-means; rows-only check) SQ8 gets a full DuckDB hash-match
oracle.

Reference parity note: the reference ships no scalar quantizer (its ANN
layer is IndexIVFFlat only, SURVEY.md section 2.7); this extends the
same exact-vs-approx trade the reference's nprobe slider exposes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.lifetime import collect_bounded, local_frame
from vector_database_product_recommendation_spark.operators.knn import (
    _nonempty,
    collect_queries,
    rank_topk,
    row_dots,
    topk_scan,
)

# the top REFINE_FACTOR * k approximate candidates are rescored exactly
REFINE_FACTOR = 4


def sq_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension (pos, mn, mx) training stats; #dims output rows."""
    ex = emb.select(F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("pos").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )


def sq8_knn(emb: DataFrame, query_id: int, k: int) -> DataFrame:
    """SQ8 approximate KNN with exact refine: quantize corpus to 8-bit
    codes, rank by the product of the midpoint reconstruction with the
    query, keep the top k*REFINE_FACTOR, rescore those exactly, return
    the top k. Both scores are rounded to 6 decimals.

    Codes: q = clamp(floor(256*(x-mn)/(mx-mn)), 0, 255) (floor, not
    round — round's half-way ties differ between engines); constant
    dimensions (mx == mn) code to 0. Reconstruction is the cell midpoint
    mn + (q+0.5)*(mx-mn)/256. The query stays full precision
    (asymmetric distance, as in faiss SQ search).

    Eager: the query vector, the stats and the candidates reach the
    driver before this returns. Returns (vec_id, score, approx_score) —
    exact-score ranked, self excluded, (score DESC, vec_id ASC) ties.
    """
    batch = _nonempty(collect_queries(emb, F.col("vec_id") == query_id))
    qv = batch.mat[0]
    stats = collect_bounded(
        sq_dim_stats(emb).orderBy("pos"),
        len(qv),
        what="the SQ8 training stats (one row per dimension of the query vector)",
    )
    mn, mx = stats["mn"].to_numpy(), stats["mx"].to_numpy()
    width = mx - mn

    def score_batch(pdf: pd.DataFrame) -> np.ndarray:
        x = matrix(pdf["embedding"])
        with np.errstate(divide="ignore", invalid="ignore"):
            code = np.clip(np.floor((x - mn) * 256.0 / width), 0, 255)
        code = np.where(width > 0, code, 0.0)
        xhat = mn + (code + 0.5) * width / 256.0
        return np.round(row_dots(xhat, qv[None, :]), 6)[:, None]

    fetch = k * REFINE_FACTOR
    cand = collect_bounded(
        topk_scan(
            emb.select("vec_id", "embedding"),
            batch,
            fetch,
            score_batch,
            corpus_id="vec_id",
            exclude_self=True,
            payload=("embedding",),
        ),
        fetch,
        what="the SQ8 refine candidates (k * sq.REFINE_FACTOR)",
    )
    ids = cand["neighbor_id"].to_numpy()
    vecs = matrix(cand["embedding"]).reshape(len(ids), len(qv))
    score = np.round(row_dots(vecs, qv[None, :]), 6)
    idx, _ = rank_topk(np.zeros(len(ids), dtype=np.int64), ids, score, k)
    return local_frame(
        emb.sparkSession,
        [(int(ids[i]), float(score[i]), float(cand["score"].iat[i])) for i in idx],
        f"vec_id {batch.id_type}, score double, approx_score double",
    )
