"""Scalar quantization (SQ8) approximate KNN — the third compression point
on the ANN axis next to IVF (pruning, operators/ivf.py) and PQ (codebook
compression, operators/pq.py).

Each dimension is quantized independently to an 8-bit code against
per-dimension [min, max] trained on the corpus (the faiss
ScalarQuantizer/QT_8bit layout; public algorithm). 4x smaller than
float32 with near-exact recall on smooth distributions — the cheap
middle ground before PQ's 64x.

Spark-first shape, deliberately ALL Column expressions (no Python UDF,
no driver collect):
- train: posexplode -> groupBy(pos) min/max — one tiny aggregate whose
  output is #dims rows, folded back into two array literals via
  collect_list and broadcast with a crossJoin.
- encode + asymmetric scoring: a single shuffle-free projection over the
  corpus (whole-stage codegen) computes code -> midpoint reconstruction
  -> dot(xhat, query) per row; top candidates come out through
  TakeOrderedAndProject (per-partition heap, no corpus shuffle).
- refine: exact full-precision rescoring of the k*REFINE_FACTOR
  candidates (already in hand — no rejoin), restoring exact-KNN ordering
  within the candidate set.

Everything is floor/min/max arithmetic in float64 — deterministic across
engines, so unlike PQ (k-means; rows-only check) SQ8 gets a full DuckDB
hash-match oracle.

Reference parity note: the reference ships no scalar quantizer (its ANN
layer is IndexIVFFlat only, SURVEY.md section 2.7); this extends the
same exact-vs-approx trade the reference's nprobe slider exposes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.vectors import dot


# the top REFINE_FACTOR * k approximate candidates are rescored exactly
REFINE_FACTOR = 4


def sq_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension (pos, mn, mx) training stats; #dims output rows."""
    ex = emb.select(F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy("pos").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )


def _stat_arrays(stats: DataFrame) -> DataFrame:
    """Fold (pos, mn, mx) rows into one row of position-ordered arrays."""
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def sq8_knn(emb: DataFrame, query_id: int, k: int) -> DataFrame:
    """SQ8 approximate KNN with exact refine: quantize corpus to 8-bit
    codes, rank by dot(midpoint-reconstruction, query), keep the top
    k*REFINE_FACTOR, rescore those exactly, return the top k. Both
    scores are rounded to 6 decimals.

    Codes: q = clamp(floor(256*(x-mn)/(mx-mn)), 0, 255) (floor, not
    round — round's half-way ties differ between engines); constant
    dimensions (mx == mn) code to 0. Reconstruction is the cell midpoint
    mn + (q+0.5)*(mx-mn)/256. The query stays full precision
    (asymmetric distance, as in faiss SQ search).

    Returns (vec_id, score, approx_score) — exact-score ranked, self
    excluded, deterministic (score DESC, vec_id ASC) ties.
    """
    arrs = _stat_arrays(sq_dim_stats(emb))
    qdf = emb.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )

    def _xhat(x, i):
        mn_i = F.element_at("mns", i + 1)
        mx_i = F.element_at("mxs", i + 1)
        code = (
            F.when(
                mx_i > mn_i,
                F.least(
                    F.lit(255),
                    F.greatest(
                        F.lit(0),
                        F.floor((x.cast("double") - mn_i) * 256.0 / (mx_i - mn_i)),
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("double")
        )
        return mn_i + (code + 0.5) * (mx_i - mn_i) / 256.0

    scored = (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(arrs))
        .crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            F.col("embedding").alias("__v"),
            "qv",
            F.round(dot(F.transform(F.col("embedding"), _xhat), "qv"), 6).alias(
                "approx_score"
            ),
        )
    )
    cand = scored.orderBy(F.desc("approx_score"), F.asc("vec_id")).limit(k * REFINE_FACTOR)
    return (
        cand.select(
            "vec_id",
            F.round(dot("__v", "qv"), 6).alias("score"),
            "approx_score",
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )
