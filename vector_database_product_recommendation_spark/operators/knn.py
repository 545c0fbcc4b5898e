"""Exact KNN and the one top-k scan under every retrieval kernel.

Reference semantics (SURVEY.md sections 2.3 J4, 2.5 K1-K3, 3 E1/E2):
score = inner product of a query vector against every corpus vector
(app.py:181,199,234 — NumPy `emb @ qv`; app.py:394 — FAISS IndexFlatIP),
then top-k by score with self-exclusion for item-to-item (app.py:227-228).

Spark-first physical shape (SURVEY.md section 4, "100-TB-safe"):
- the CORPUS NEVER SHUFFLES. Queries are a small batch by construction
  (the reference's widest workload is 400 query vectors); we collect them
  to the driver and ship them to every task via closure broadcast.
- ``topk_scan`` is the one scan of the exact, IVF (operators/ivf.py), PQ
  (operators/pq.py) and SQ8 (operators/sq.py) kernels. A kernel supplies
  only its per-batch scorer, (rows x queries) scores inside mapInPandas (Arrow batches ->
  BLAS, the distributed analog of the reference's `emb @ qv` hot loop);
  the scan prunes each batch, ranks each task's candidates once and
  merges the tasks, so the one shuffle that remains — the per-query
  global top-k window — moves O(q * k * n_tasks) rows, not O(q * N).
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

from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.lifetime import collect_bounded, local_frame

# the most query rows a kernel collects to the driver and ships in every
# task's closure. The scan's memory sets it, not the transfer (31 MB at 384
# dims): a task scores an Arrow batch (10,000 rows by default) against every
# query, 800 MB of float64 scores at the bound (SCALE.md)
QUERY_BATCH_MAX_ROWS = 10_000


def collect_queries(queries: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) of a (query_id, query_vec) batch, in one
    bounded Arrow transfer; more than ``QUERY_BATCH_MAX_ROWS`` rows raise
    ValueError. An empty batch is two empty arrays."""
    pdf = collect_bounded(
        queries.select("query_id", "query_vec"),
        QUERY_BATCH_MAX_ROWS,
        what="the query batch (knn.QUERY_BATCH_MAX_ROWS)",
    )
    return pdf["query_id"].to_numpy(), matrix(pdf["query_vec"])


def _query_batch(
    queries: DataFrame, query_arrays: tuple[np.ndarray, np.ndarray] | None
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) of the query batch: ``query_arrays`` when the caller
    already holds them, else ``collect_queries``. An empty batch raises."""
    ids, mat = collect_queries(queries) if query_arrays is None else query_arrays
    if not len(ids):
        raise ValueError("empty query batch")
    return ids, mat


def rank_topk(
    cq: np.ndarray, cn: np.ndarray, cs: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Task-local top-k of scored candidates under the one retrieval order
    (query, score desc, neighbor id asc): ``topk_scan``'s final selection
    and the engine's driver-side ranking.

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


def row_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise products of ``a`` and ``b`` (or its one broadcast row), summed
    left to right as DuckDB's ``list_inner_product`` sums: one pair per row."""
    return np.cumsum(a * b, axis=1)[:, -1]


def merge_topk(partial: DataFrame, k: int, *, single_task: bool) -> DataFrame:
    """Global top-k from task-local top-k rows.

    A single scan task's ranks ARE global, so ``partial`` comes back as is:
    the merge window (an exchange + sort over k rows/query/task) would be a
    no-op. The serving regime (one cached partition per ~25k vectors,
    lifetime.persist_right_sized) hits this constantly. Otherwise the rows
    re-rank in a ``row_number`` window under (score desc, neighbor_id
    asc), keeping ``partial.columns`` in their order and appending
    ``rank`` when ``partial`` has none. Task-local selection under that
    total order provably contains the global top-k, so the result is
    deterministic and independent of batch or partition boundaries.
    """
    if single_task:
        return partial
    cols = partial.columns if "rank" in partial.columns else [*partial.columns, "rank"]
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partial.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def _schema(frame: DataFrame, queries: DataFrame, corpus_id: str, rest: list[str]) -> str:
    """mapInPandas schema: query_id and neighbor_id typed as in their
    source frames, then ``rest``."""
    qid = queries.schema["query_id"].dataType.simpleString()
    nid = frame.schema[corpus_id].dataType.simpleString()
    return ", ".join([f"query_id {qid}", f"neighbor_id {nid}", *rest])


def topk_scan(
    frame: DataFrame,
    queries: DataFrame,
    q_ids: np.ndarray,
    k: int,
    score_batch,
    *,
    corpus_id: str,
    exclude_self: bool = False,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Per query of ``q_ids`` (the collected ids of ``queries``), the top-k
    rows of ``frame``: the one scan of the exact, IVF, PQ and SQ8 kernels.

    ``score_batch(pdf)`` scores one Arrow batch of ``frame`` as a
    (rows x queries) float64 matrix; ``-inf`` marks a pair that is not a
    candidate. Per batch the scan keeps every row that ties or beats a
    query's k-th score (an ``np.partition`` threshold: a superset of the
    batch's top-k under (score desc, id asc), selected with no per-query
    Python loop); when ties push that superset past q * k rows
    (duplicated vectors, identical PQ codes) ``rank_topk`` cuts it to the
    batch's top-k, so a task holds at most q * k candidates per batch.
    Per task it ranks the kept rows once more with ``rank_topk``,
    and ``merge_topk`` merges the tasks. SCALE.md "Bulk-KNN floor" has the
    measured breakdown of where this kernel's milliseconds go.

    Returns (query_id, neighbor_id, score, rank, *payload) ordered by
    (query_id, rank), rank 1..k per query; query_id is typed as in
    ``queries``. ``payload`` columns of ``frame`` ride through the top-k
    and the merge untouched (nulls included).
    """
    if {"query_id", "neighbor_id", "score", "rank"} & set(payload):
        raise ValueError(f"payload {payload!r} shadows an output column")
    schema = _schema(
        frame,
        queries,
        corpus_id,
        ["score double", "rank int"]
        + [f"`{c}` {frame.schema[c].dataType.simpleString()}" for c in payload],
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand_q: list[np.ndarray] = []
        cand_n: list[np.ndarray] = []
        cand_s: list[np.ndarray] = []
        cand_p: list[pd.DataFrame] = []  # payload of each kept candidate
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[corpus_id].to_numpy()
            scores = score_batch(pdf)
            if exclude_self:
                # the reference's item-to-item self-exclusion (app.py:227-228):
                # a filter BEFORE the limit (SURVEY.md section 2.9.4), not a
                # k+1 overfetch
                scores[ids[:, None] == q_ids[None, :]] = -np.inf
            keep = ~np.isneginf(scores)
            n = len(ids)
            if n > k:
                keep &= scores >= np.partition(scores, n - k, axis=0)[n - k]
            rows, cols = np.nonzero(keep)
            if len(rows) > k * len(q_ids):
                cut, _ = rank_topk(cols, ids[rows], scores[rows, cols], k)
                rows, cols = rows[cut], cols[cut]
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

    partial = frame.mapInPandas(scan, schema)
    single = frame.rdd.getNumPartitions() == 1
    return merge_topk(partial, k, single_task=single).orderBy("query_id", "rank")


def exact_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    exclude_self: bool = False,
    query_arrays: tuple[np.ndarray, np.ndarray] | None = None,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Batch exact KNN: for every (query_id, query_vec) row, the top-k
    corpus rows by dot against their ``embedding``, through ``topk_scan``.

    Returns (query_id, neighbor_id, score, rank, *payload), rank 1..k per
    query. ``exclude_self`` drops corpus rows whose id equals the query id
    (``topk_scan``).

    ``query_arrays``: the batch's (ids, matrix) from ``collect_queries``
    — callers reusing one query batch across calls (the serving loop; the
    reference encodes its query batch once, app.py:169-171) pass them to
    skip the per-call collect job, exactly like ivf_knn.

    ``payload``: corpus columns returned on each hit row, the way a vector
    store returns a point's payload with its score, so a caller needs no
    join back to the corpus. With the default ``()`` the plan and output
    are those of a plain top-k.
    """
    q_ids, q_mat = _query_batch(queries, query_arrays)
    qm = q_mat.T  # (d, q)
    return topk_scan(
        corpus.select(corpus_id, "embedding", *payload),
        queries,
        q_ids,
        k,
        # every row of a batch against every query, one BLAS matmul,
        # rounded in float64 BEFORE any selection
        lambda pdf: np.round(matrix(pdf["embedding"]) @ qm, 6),
        corpus_id=corpus_id,
        exclude_self=exclude_self,
        payload=payload,
    )


def exact_scores(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    query_arrays: tuple[np.ndarray, np.ndarray],
    corpus_id: str,
) -> DataFrame:
    """Score EVERY corpus row against the query batch — no top-k, no window.

    The blend path of hybrid search (app.py:202-210) needs all candidate
    scores, not a ranking; routing it through exact_knn with a sentinel
    k would drag O(N) rows through the per-query rank window (a single
    serialized partition at scale). This is exact_knn's BLAS product with
    no rounding (the blend's dense side is raw) and no selection: output
    stays partition-local, zero shuffles. Returns
    (query_id, neighbor_id, score), neighbor_id read from the corpus's
    ``corpus_id`` column. ``query_arrays``: the (ids, matrix) of
    ``queries``, which supplies only the query_id type.
    """
    q_ids, q_mat = _query_batch(queries, query_arrays)
    qm = q_mat.T  # (d, q)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[corpus_id].to_numpy()
            scores = matrix(pdf["embedding"]) @ qm
            # query-major: all of query 0's rows, then query 1's…
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, len(ids)),
                    "neighbor_id": np.tile(ids, len(q_ids)),
                    "score": scores.T.ravel(),
                }
            )

    frame = corpus.select(corpus_id, "embedding")
    return frame.mapInPandas(emit, _schema(frame, queries, corpus_id, ["score double"]))


def item_to_item(
    corpus: DataFrame,
    item_id,
    k: int,
    *,
    corpus_id: str = "vec_id",
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """E2 (app.py:221-241): the query vector comes FROM the corpus —
    look up the item's vector, score everyone else, top-k, never return
    the item itself. An ``item_id`` missing from the corpus raises
    ValueError naming it. ``payload`` as in exact_knn."""
    q = corpus.filter(F.col(corpus_id) == F.lit(item_id)).select(
        F.col(corpus_id).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    arrays = collect_queries(q)
    if not len(arrays[0]):
        raise ValueError(f"item {item_id!r} is not in the corpus")
    return exact_knn(
        corpus,
        q,
        k,
        corpus_id=corpus_id,
        exclude_self=True,
        query_arrays=arrays,
        payload=payload,
    )


def similarity_rows(ids: list, mat: np.ndarray) -> list[tuple]:
    """J5's ``V @ V.T`` (app.py:348-354) over the rows of ``mat`` in long form:
    (id_a, id_b, round(score, 6)) for every ordered pair of ``ids``, diagonal
    included, sorted by (id_a, id_b); each pair is scored once, so the cells
    are exactly symmetric."""
    order = sorted(range(len(ids)), key=ids.__getitem__)
    s = np.round(mat[order] @ mat[order].T, 6)
    s = np.triu(s) + np.triu(s, 1).T
    return [(ids[a], ids[b], float(s[i, j])) for i, a in enumerate(order) for j, b in enumerate(order)]


def pairwise_similarity(items: DataFrame) -> DataFrame:
    """J5 (app.py:348-354) over a small selected set (the reference allows 2-4
    products) of (vec_id, embedding) rows: ``similarity_rows`` of the rows'
    one bounded transfer, returned as a local table."""
    ids, mat = collect_queries(
        items.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    id_type = items.schema["vec_id"].dataType.simpleString()
    return local_frame(
        items.sparkSession,
        similarity_rows(ids.tolist(), mat),
        f"id_a {id_type}, id_b {id_type}, score double",
    )
