"""Exact KNN as a broadcast scored join — the engine's central kernel.

Reference semantics (SURVEY.md sections 2.3 J4, 2.5 K1-K3, 3 E1/E2):
score = inner product of a query vector against every corpus vector
(app.py:181,199,234 — NumPy `emb @ qv`; app.py:394 — FAISS IndexFlatIP),
then top-k by score with self-exclusion for item-to-item (app.py:227-228).

Spark-first physical shape (SURVEY.md section 4, "100-TB-safe"):
- the CORPUS NEVER SHUFFLES. Queries are a small batch by construction
  (the reference's widest workload is 400 query vectors); we collect them
  to the driver and ship them to every task via closure broadcast.
- scoring is a NumPy matmul inside mapInPandas (Arrow batches -> BLAS),
  the distributed analog of the reference's `emb @ qv` hot loop.
- each task emits only its LOCAL top-k per query (k rows per query per
  Arrow batch), so the single shuffle that remains — the per-query global
  top-k window — moves O(q * k * n_batches) rows, not O(q * N).
- ties break by (score desc, neighbor id asc) with scores rounded in
  float64 BEFORE selection, so results are deterministic and engine-
  independent (FIXTURES.md oracle notes).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from vector_database_product_recommendation_spark.functions.vectors import dot


def _query_batch(
    queries: DataFrame, query_id: str, query_vec: str, query_rows: list | None
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) of the query batch: ``query_rows`` when the caller
    already holds them, else a driver-side gather (small by contract)."""
    if query_rows is None:
        query_rows = queries.select(query_id, query_vec).collect()
    if not query_rows:
        raise ValueError("empty query batch")
    ids = np.array([r[0] for r in query_rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in query_rows])
    return ids, mat


def rank_topk(
    cq: np.ndarray, cn: np.ndarray, cs: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Task-local top-k of scored candidates under the one retrieval order
    (query, score desc, neighbor id asc), shared by the exact, IVF and PQ
    kernels.

    ``cq``/``cn``/``cs`` are parallel arrays of query index, neighbor id
    and score. Returns ``(idx, rank)``: positions into those arrays of the
    kept rows, in that order, and their 1-based rank within the query
    (``rank <= k``). Callers gather any parallel column with ``idx``.
    Empty-safe: a task may keep no row.
    """
    order = np.lexsort((cn, -cs, cq))
    # np.unique sorts, so its groups come in the lexsort's primary order
    _, counts = np.unique(cq, return_counts=True)
    starts = np.cumsum(counts) - counts
    rank = np.arange(len(cq)) - np.repeat(starts, counts) + 1
    sel = rank <= k
    return order[sel], rank[sel]


def merge_topk(
    partial: DataFrame, k: int, *, single_task: bool, score: str = "score"
) -> DataFrame:
    """Global top-k from the kernels' task-local top-k rows.

    A single scan task's ranks ARE global, so ``partial`` comes back as is:
    the merge window (an exchange + sort over k rows/query/task) would be a
    no-op. The serving regime (one cached partition per ~25k vectors,
    artifacts.py) hits this constantly. Otherwise the rows re-rank in a
    ``row_number`` window under (``score`` desc, neighbor_id asc), keeping
    ``partial.columns`` in their order. Task-local selection under that
    total order provably contains the global top-k, so the result is
    deterministic and independent of batch or partition boundaries.
    """
    if single_task:
        return partial
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        partial.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*partial.columns)
    )


def exact_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
    round_decimals: int = 6,
    query_rows: list | None = None,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Batch exact KNN: for every query row, the top-k corpus rows by dot.

    Returns (query_id, neighbor_id, score, rank, *payload), rank 1..k per
    query.
    `exclude_self` drops corpus rows whose id equals the query id — the
    reference's item-to-item self-exclusion (app.py:227-228) done as a
    filter BEFORE the limit (SURVEY.md section 2.9.4), not a k+1 overfetch.

    ``query_rows``: pre-collected (query_id, query_vec) rows — callers
    reusing one query batch across calls (the serving loop; the reference
    encodes its query batch once, app.py:169-171) pass them to skip the
    per-call collect job, exactly like ivf_knn.

    Each task keeps a dense ``np.partition`` threshold superset of its
    top-k, ranks it with ``rank_topk`` and ``merge_topk`` merges the tasks.

    ``payload``: corpus columns returned on each hit row, the way a vector
    store returns a point's payload with its score. They ride through the
    task-local top-k and the merge untouched (nulls included), so a caller
    needs no join back to the corpus. With the default ``()`` the plan and
    output are those of a plain top-k.
    """
    q_ids, q_mat = _query_batch(queries, query_id, query_vec, query_rows)
    qid_dtype = queries.schema[query_id].dataType.simpleString()
    nid_dtype = corpus.schema[corpus_id].dataType.simpleString()
    out_cols = ["query_id", "neighbor_id", "score", "rank", *payload]
    if set(out_cols[:4]) & set(payload):
        raise ValueError(f"payload {payload!r} shadows an output column")
    out_schema = ", ".join(
        [f"query_id {qid_dtype}, neighbor_id {nid_dtype}, score double, rank int"]
        + [f"`{c}` {corpus.schema[c].dataType.simpleString()}" for c in payload]
    )
    excl = exclude_self
    dec = round_decimals

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qm = q_mat.T  # (d, q)
        nq = q_mat.shape[0]
        # Accumulate an exact-superset candidate pool across the task's
        # Arrow batches, then rank ONCE per task. Per batch we keep every
        # row whose score ties-or-beats the kk-th largest for its query
        # (np.partition threshold) — a provable superset of the true
        # (score desc, id asc) top-k, selected with no per-query Python
        # loop. SCALE.md "Bulk-KNN floor" has the measured breakdown of
        # where this kernel's milliseconds go (selection dominates the
        # matmul ~20:1 at reference shapes; both are dwarfed by fixed
        # job dispatch + Arrow at small corpora).
        cand_q: list[np.ndarray] = []
        cand_n: list[np.ndarray] = []
        cand_s: list[np.ndarray] = []
        cand_p: list[pd.DataFrame] = []  # payload of each kept candidate
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)  # (n, d)
            ids = pdf[corpus_id].to_numpy()
            scores = cmat @ qm  # (n, q) float64
            np.round(scores, dec, out=scores)  # rounded pre-selection
            n = len(ids)
            if excl:
                invalid = ids[:, None] == q_ids[None, :]  # (n, q)
                scores[invalid] = -np.inf
            kk = min(k, n)
            if n > kk:
                thr = np.partition(scores, n - kk, axis=0)[n - kk]  # (q,)
                keep = scores >= thr
            else:
                keep = np.ones((n, nq), dtype=bool)
            if excl:
                keep &= ~invalid
            rows, cols = np.nonzero(keep)
            cand_q.append(cols)
            cand_n.append(ids[rows])
            cand_s.append(scores[rows, cols])
            if payload:
                cand_p.append(pdf[list(payload)].iloc[rows])
        if not cand_q:
            return
        cq = np.concatenate(cand_q)
        cn = np.concatenate(cand_n)
        cs = np.concatenate(cand_s)
        idx, rank = rank_topk(cq, cn, cs, k)
        out = pd.DataFrame(
            {
                "query_id": q_ids[cq[idx]],
                "neighbor_id": cn[idx],
                "score": cs[idx],
                "rank": rank.astype(np.int32),
            }
        )
        if payload:
            hit_payload = pd.concat(cand_p).iloc[idx].reset_index(drop=True)
            out = pd.concat([out, hit_payload], axis=1)
        yield out

    narrowed = corpus.select(corpus_id, corpus_vec, *payload)
    partial = narrowed.mapInPandas(score_partition, out_schema)
    single = narrowed.rdd.getNumPartitions() == 1
    return merge_topk(partial, k, single_task=single).orderBy("query_id", "rank")


def exact_scores(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
    round_decimals: int = 6,
    query_rows: list | None = None,
) -> DataFrame:
    """Score EVERY corpus row against the query batch — no top-k, no window.

    The blend path of hybrid search (app.py:202-210) needs all candidate
    scores, not a ranking; routing it through exact_knn with a sentinel
    k would drag O(N) rows through the per-query rank window (a single
    serialized partition at scale). This is the same mapInPandas BLAS
    kernel as exact_knn minus selection: output stays partition-local,
    zero shuffles. Returns (query_id, neighbor_id, score). ``query_rows``
    as in exact_knn.
    """
    q_ids, q_mat = _query_batch(queries, query_id, query_vec, query_rows)
    qid_dtype = queries.schema[query_id].dataType.simpleString()
    nid_dtype = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"query_id {qid_dtype}, neighbor_id {nid_dtype}, score double"
    excl = exclude_self
    dec = round_decimals

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qm = q_mat.T  # (d, q)
        nq = q_mat.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            ids = pdf[corpus_id].to_numpy()
            scores = np.round(cmat @ qm, dec)  # (n, q)
            n = len(ids)
            # column-major flatten: all of query 0's rows, then query 1's…
            out_q = np.repeat(np.arange(nq), n)
            out_n = np.tile(ids, nq)
            out_s = scores.T.ravel()
            if excl:
                valid = out_n != q_ids[out_q]
                out_q, out_n, out_s = out_q[valid], out_n[valid], out_s[valid]
            yield pd.DataFrame(
                {"query_id": q_ids[out_q], "neighbor_id": out_n, "score": out_s}
            )

    return corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_partition, out_schema
    )


def item_to_item(
    corpus: DataFrame,
    item_id,
    k: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """E2 (app.py:221-241): the query vector comes FROM the corpus —
    look up the item's vector, score everyone else, top-k, never return
    the item itself. An ``item_id`` missing from the corpus raises
    ValueError naming it. ``payload`` as in exact_knn."""
    q = corpus.filter(F.col(corpus_id) == F.lit(item_id)).select(
        F.col(corpus_id).alias("query_id"), F.col(corpus_vec).alias("query_vec")
    )
    rows = q.collect()
    if not rows:
        raise ValueError(f"item {item_id!r} is not in the corpus")
    return exact_knn(
        corpus,
        q,
        k,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        exclude_self=True,
        query_rows=rows,
        payload=payload,
    )


def pairwise_similarity(
    items: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """J5 (app.py:348-354): similarity matrix for a small selected set
    (reference allows 2-4 products). Long form (id_a, id_b, score) including
    the diagonal, a < b ordering not applied so the square matrix can be
    pivoted client-side exactly like `V @ V.T`."""
    a = items.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = items.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .select("id_a", "id_b", F.round(dot("__va", "__vb"), round_decimals).alias("score"))
        .orderBy("id_a", "id_b")
    )
