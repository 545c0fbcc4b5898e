"""ANN quality/latency evaluation — the reference's only correctness
instrument (SURVEY.md section 5): IVF results scored against exact flat
search as ground truth, reported as Precision@K / MRR / avg ms per query
over a query sample, per nprobe (ann_tradeoff_table.csv:1-6, AN5/J6/A-g7).
Like the reference, which evaluates its one shipped index, the harness
evaluates a prebuilt IVF index (``ivf.build_ivf_index``) and trains
nothing itself.

Output schema matches the reference table: (nprobe, precision_at_k, mrr,
avg_query_time_ms, queries_used).

The kernels run distributed; the scoring does not. As the reference does
with the lists FAISS returns, the exact and per-nprobe IVF hit lists are
collected and scored on the driver. That is at most
(1 + len(nprobes)) * n_queries * k rows, and the query batch is bounded
by ``knn.QUERY_BATCH_MAX_ROWS`` (SCALE.md, driver-side materializations).

Metric definitions (J6 lineage):
- Precision@K: |ivf_topk ∩ exact_topk| / k, averaged over queries
  (self-matches excluded on both sides, as the reference's post-hoc
  self-removal does).
- MRR: reciprocal of the rank of the exact top-1 neighbor within the IVF
  list (0 if absent), averaged. A query with no hits scores 0 on both.
- avg_query_time_ms: wall-clock of building and collecting the IVF batch
  divided by #queries — batch throughput, the honest Spark-native
  equivalent of the reference's per-query ms (SURVEY.md section 6
  framing note).
"""

from __future__ import annotations

import time
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.lifetime import collect_bounded, local_frame
from vector_database_product_recommendation_spark.operators.ivf import collect_centroids, ivf_knn
from vector_database_product_recommendation_spark.operators.knn import collect_queries, exact_knn


def _hit_lists(topk: DataFrame, max_rows: int) -> dict[int, dict[int, int]]:
    """query_id -> {neighbor_id: rank} of a collected top-k list of at
    most ``max_rows`` (n_queries * k) rows."""
    pdf = collect_bounded(
        topk.select("query_id", "neighbor_id", "rank"),
        max_rows,
        what="a top-k list of the nprobe sweep (n_queries * k)",
    )
    hits: dict[int, dict[int, int]] = defaultdict(dict)
    for q, n, rank in zip(*(pdf[c].tolist() for c in pdf.columns)):
        hits[q][n] = rank
    return hits


def ann_tradeoff(
    emb: DataFrame,
    index: tuple[DataFrame, DataFrame],
    *,
    n_queries: int = 64,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 5, 10, 20),
) -> DataFrame:
    """Regenerate the reference's nprobe trade-off table on any
    (vec_id, embedding) corpus, for a prebuilt IVF
    ``index=(centroids, assigned)`` over ``emb`` (``ivf.build_ivf_index``):
    the reference evaluates its persisted FAISS index, not a fresh train.
    The queries are the rows with ``vec_id < n_queries``."""
    cents, assigned = index

    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )

    # Collect the (small) query batch and centroid table ONCE — the sweep
    # reuses them across every per-nprobe probe and the exact oracle, so
    # no per-iteration collect job ever runs inside a timed bracket.
    q_arrays = collect_queries(queries)
    q_ids = q_arrays[0].tolist()
    n_q = len(q_ids)
    c_arrays = collect_centroids(cents)

    exact = _hit_lists(
        exact_knn(emb, queries, k, exclude_self=True, query_arrays=q_arrays), n_q * k
    )
    nn1 = {q: n for q, hits in exact.items() for n, rank in hits.items() if rank == 1}

    out_rows = []
    for nprobe in nprobes:
        # one wall-clock bracket per nprobe, like app.py:393-399
        t0 = time.time()
        ivf = _hit_lists(
            ivf_knn(
                assigned,
                cents,
                queries,
                k,
                nprobe,
                exclude_self=True,
                query_arrays=q_arrays,
                centroid_arrays=c_arrays,
            ),
            n_q * k,
        )
        ms_per_query = (time.time() - t0) * 1000.0 / n_q
        precision = sum(len(ivf[q].keys() & exact[q].keys()) / k for q in q_ids) / n_q
        mrr = sum(1.0 / ivf[q][nn1[q]] for q in q_ids if nn1.get(q) in ivf[q]) / n_q
        out_rows.append((nprobe, round(precision, 6), round(mrr, 6), round(ms_per_query, 3), n_q))
    return local_frame(
        emb.sparkSession,
        out_rows,
        "nprobe int, precision_at_k double, mrr double, "
        "avg_query_time_ms double, queries_used long",
    )
