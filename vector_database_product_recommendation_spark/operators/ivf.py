"""IVF (inverted-file) approximate KNN: KMeans coarse quantizer + cluster
pruning — the Spark-native rebuild of the reference's IndexIVFFlat
(SURVEY.md section 2.7 AN2-AN4; nlist=39≈⌊√1578⌋, metric=inner-product,
nprobe slider at app.py:383-384 [verified from the index binary header]).

Spark-first mapping:
- train (AN2): seeded Lloyd k-means on the driver, over a sample of at
  most 256 points per centroid (FAISS's default); MLlib KMeans trains only
  when that sample would pass the driver byte budget. Euclidean KMeans ==
  spherical KMeans on unit vectors (‖a-b‖² = 2-2a·b), so the trained
  centroids serve the inner-product metric directly. The sample transfer
  and the Lloyd loop here also train the PQ codebooks (operators/pq.py).
- assign/build (AN3): row-local argmax-dot against the broadcast centroid
  matrix inside mapInPandas (one BLAS matmul per Arrow batch; the corpus
  NEVER shuffles). ``build_ivf_index`` is the one index builder: train,
  assign, and cache the assignment under the one persist rule. Persisting
  `write.partitionBy('cluster_id')` turns nprobe pruning into native
  parquet partition pruning.
- probe (AN4): rank centroids per query (driver-side — the centroid table
  is tiny by construction), keep top-nprobe, then score ONLY corpus rows in
  probed clusters: a pushable ``cluster_id`` isin filter, and a probe map
  (cluster -> probing queries) held in the task closure that scores each
  cluster's rows against only its probing queries, inside exact KNN's one
  top-k scan (``knn.topk_scan``).

nprobe == nlist degenerates to exact search (metamorphic test).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.lifetime import collect_bounded, persist_right_sized
from vector_database_product_recommendation_spark.operators.knn import QueryBatch, topk_scan


# FAISS's Clustering.max_points_per_centroid: every k-means trainer in the
# package (IVF quantizer, PQ codebooks) samples at most this many points per
# centroid
MAX_POINTS_PER_CENTROID = 256
# driver budget for the IVF sample transfer peak; past it, MLlib trains
MAX_TRAIN_BYTES = 2 << 30
# rows per Lloyd assignment block (FAISS chunks the same way)
ASSIGN_BLOCK = 65_536
# the coarse quantizer's k-means seed and iteration count: a coarse
# quantizer converges to useful centroids in a handful of iterations, and
# recall is measured against the exact oracle anyway
KMEANS_SEED = 42
KMEANS_ITERS = 10
# the most centroids a probe collects to the driver: nlist = ⌊√n⌋ reaches
# it at n ≈ 4.3e9 rows (65,536 x 384 float64 is 201 MB). assign_clusters'
# per-batch scores (batch x nlist float64) outgrow a task well before it
# (SCALE.md)
MAX_CENTROIDS = 65_536


def _nlist(n: int) -> int:
    """The coarse quantizer's list count for an n-row corpus: max(2, ⌊√n⌋)."""
    return max(2, int(n**0.5))


def train_kmeans_centroids(emb: DataFrame) -> DataFrame:
    """AN2: (cluster_id, centroid array<double>) of the ``embedding``
    column — Lloyd on a BOUNDED sample, FAISS-style, seeded with
    ``KMEANS_SEED`` for ``KMEANS_ITERS`` iterations at most, into
    nlist = ``_nlist(n)`` = max(2, ⌊√n⌋) lists; an nlist over
    ``MAX_CENTROIDS`` raises ValueError before any training.

    FAISS's own IVF training subsamples to Clustering.max_points_per_centroid
    (default 256) points per centroid before running k-means; the reference's
    IndexIVFFlat was trained exactly that way. The Spark analog: sample at
    most 256*nlist rows (one scan, no shuffle), collect THAT via Arrow as
    float32, and run Lloyd iterations in NumPy on the driver. Training a
    coarse quantizer with a distributed MLlib job costs a full pass over the
    corpus PER ITERATION — strictly worse whenever the sample fits on the
    driver, and ~10x slower wall-clock at bench scale (see SCALE.md).

    Driver memory, honestly: the transfer peak is 12*d*ppc*nlist bytes —
    the Arrow float64 columnar batch (8 B/elem, the wire format) plus the
    float32 training matrix it is cast into (4 B/elem); the Arrow buffer
    is freed before Lloyd runs, so the iterations hold only the float32
    matrix (nlist=4096, d=384 -> ~1.6 GiB held, ~4.8 GiB transfer peak;
    nlist=39 at bench scale -> trivial). The guard below budgets the full
    12 B/elem peak, not just the held matrix. When even the sample exceeds
    ``MAX_TRAIN_BYTES``, points-per-centroid shrinks to fit (floor 16);
    past that — huge nlist, e.g. the 100-TB-implied nlist~sqrt(N)~5e5 —
    the trainer falls back to distributed MLlib KMeans, which never
    collects the sample at all.

    Euclidean k-means == spherical k-means on unit vectors (‖a-b‖² = 2-2a·b),
    so the centroids serve the inner-product metric directly. Recall is
    governed by nprobe and pinned by the ivf(nprobe=nlist)==exact
    metamorphic test; clustering quality only shifts the recall/nprobe
    trade-off, which tests/test_ivf.py bounds.
    """
    n, d = _corpus_shape(emb)
    nlist = _nlist(n)
    if nlist > MAX_CENTROIDS:
        # checked before training: assign_clusters could not collect the
        # table, and training it costs corpus passes
        raise ValueError(
            f"{n} rows need {nlist} IVF lists, more than ivf.MAX_CENTROIDS = {MAX_CENTROIDS}"
        )
    ppc = MAX_POINTS_PER_CENTROID
    # 12 B/elem = true transfer peak (8 B Arrow float64 + 4 B float32
    # target), not just the 4 B/elem matrix Lloyd holds afterwards
    bytes_per_elem = 12
    if bytes_per_elem * d * ppc * nlist > MAX_TRAIN_BYTES:
        ppc = max(16, MAX_TRAIN_BYTES // (bytes_per_elem * d * nlist))
    if bytes_per_elem * d * ppc * nlist > MAX_TRAIN_BYTES:
        return _mllib_centroids(emb, nlist)
    bound = max(nlist * ppc, nlist + 1)
    x = _sample_matrix(emb, n, d, bound, seed=KMEANS_SEED, dtype=np.float32)
    cents = _lloyd(x, nlist, iters=KMEANS_ITERS, seed=KMEANS_SEED)
    return _centroid_table(emb.sparkSession, cents)


def _centroid_table(spark, cents) -> DataFrame:
    """(cluster_id, centroid) rows of the trained centroids, as an
    RDD-backed frame. Not a ``lifetime.local_frame``: every reader pulls
    the table back through ``collect_centroids``, whose ordered Arrow
    ``toPandas`` runs 1 job over these rows but 3 over a LocalRelation."""
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cluster_id int, centroid array<double>",
    )


def _corpus_shape(emb: DataFrame) -> tuple[int, int]:
    """(rows, width) of the corpus in one job. An empty corpus raises
    here, before any sample job."""
    n, d = emb.agg(F.count(F.lit(1)), F.first(F.size("embedding"), ignorenulls=True)).first()
    if not n:
        raise ValueError("cannot train k-means on an empty corpus")
    return int(n), int(d)


def _sample_matrix(
    emb: DataFrame, n: int, d: int, bound: int, *, seed: int, dtype
) -> np.ndarray:
    """At most ``bound`` of the corpus's ``n`` vectors of width ``d`` as one
    driver-side (rows, d) matrix of ``dtype``: the one k-means training
    sample transfer."""
    sample = emb.select("embedding")
    if n > bound:
        # seeded Bernoulli sample with slack, trimmed to the bound: one
        # narrow scan, deterministic for a fixed input partitioning. (The
        # LIMIT trim is partition-order-dependent: a re-layout of the
        # source files can shift which rows survive, hence cluster ids
        # across rebuilds — acceptable for a coarse quantizer, where only
        # the recall/nprobe trade-off matters, not stable ids.)
        sample = sample.sample(fraction=min(1.0, 1.2 * bound / n), seed=seed).limit(bound)
    # Arrow path: one columnar transfer held as the raw Arrow list buffer
    # (8 B/elem float64 — no pandas object-cell materialization, which
    # costs ~12 B/elem in per-row numpy headers alone), cast chunk-by-chunk
    # into the preallocated target matrix and freed.
    tbl = sample.toArrow()
    n_rows = tbl.num_rows
    x = np.empty((n_rows, d), dtype=dtype)
    pos = 0
    for chunk in tbl.column("embedding").chunks:
        flat = chunk.flatten()  # offset-adjusted float64 values array
        m = np.asarray(flat).reshape(-1, d)
        x[pos : pos + len(m)] = m  # cast into place
        pos += len(m)
    del tbl
    if pos != n_rows:
        # explicit raise (not assert: stripped under python -O) — a miscount
        # here means pyarrow flatten() dropped null list slots and x[pos:]
        # would be uninitialized np.empty garbage fed into Lloyd
        raise ValueError(
            f"k-means sample transfer lost rows: filled {pos} of {n_rows} "
            f"(null embedding slots in the sample?)"
        )
    return x


def _lloyd(x: np.ndarray, k: int, *, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd k-means on a (s, d) sample -> (min(k, s), d) centroids
    of x's dtype. Empty clusters re-seed at the points farthest from their
    center; the loop stops once no centroid moves by more than 1e-7."""
    s = len(x)
    k = min(k, s)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(s, size=k, replace=False)].astype(x.dtype)
    # einsum with an explicit accumulate dtype: no full float64 copy of x
    x_sq = np.einsum("ij,ij->i", x, x, dtype=np.float64)
    assign = np.zeros(s, dtype=np.int64)
    adist = np.zeros(s, dtype=np.float64)
    for _ in range(iters):
        # chunked argmin ||x-c||^2 = argmin -2x.c + ||c||^2 (x^2 const/row):
        # peak scratch is O(ASSIGN_BLOCK * k), never the full s x k distance
        # matrix; centroid sums accumulate per block, so no full float64
        # copy of the sample exists at any point either
        c_sq = (cents.astype(np.float64) ** 2).sum(axis=1)
        new64 = np.zeros((k, x.shape[1]), dtype=np.float64)
        counts = np.zeros(k, dtype=np.float64)
        for lo in range(0, s, ASSIGN_BLOCK):
            hi = min(lo + ASSIGN_BLOCK, s)
            d2 = -2.0 * (x[lo:hi] @ cents.T).astype(np.float64) + c_sq[None, :]
            blk = np.argmin(d2, axis=1)
            assign[lo:hi] = blk
            adist[lo:hi] = d2[np.arange(hi - lo), blk]
            np.add.at(new64, blk, x[lo:hi].astype(np.float64))
            counts += np.bincount(blk, minlength=k)
        nonempty = counts > 0
        new64[nonempty] /= counts[nonempty, None]
        if not nonempty.all():
            # re-seed empty clusters at the points farthest from their center
            far = np.argsort(-(x_sq + adist))
            new64[~nonempty] = x[far[: (~nonempty).sum()]]
        new = new64.astype(x.dtype)
        if np.allclose(new, cents, atol=1e-7):
            cents = new
            break
        cents = new
    return cents


def _mllib_centroids(emb: DataFrame, nlist: int) -> DataFrame:
    """Distributed KMeans escape hatch for nlist too large to train
    driver-side (the sample alone would blow ``MAX_TRAIN_BYTES``). One full
    corpus pass per iteration — the price of never collecting vectors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(array_to_vector(F.col("embedding")).alias("features"))
    model = KMeans(k=nlist, seed=KMEANS_SEED, maxIter=KMEANS_ITERS).fit(vecs)
    return _centroid_table(emb.sparkSession, model.clusterCenters())


def collect_centroids(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(cluster ids, float64 centroid matrix) of a (cluster_id, centroid)
    table, ordered by cluster_id, in one bounded Arrow transfer; more than
    ``MAX_CENTROIDS`` rows raise ValueError."""
    pdf = collect_bounded(
        centroids.orderBy("cluster_id"), MAX_CENTROIDS, what="the centroid table (ivf.MAX_CENTROIDS)"
    )
    return pdf["cluster_id"].to_numpy(), matrix(pdf["centroid"])


def assign_clusters(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """AN3: append `cluster_id` = argmax-dot centroid of the `embedding`
    column, row-local.

    The centroid matrix ships in the task closure (nlist x d floats); each
    Arrow batch does one matmul + argmax. No shuffle of the corpus.
    """
    cids, cmat = collect_centroids(centroids)
    # fresh StructType — .add() would mutate the DataFrame's cached schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(list(emb.schema.fields) + [StructField("cluster_id", IntegerType())])
    out_cols = [f.name for f in schema.fields]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = matrix(pdf["embedding"])
            best = cids[np.argmax(mat @ cmat.T, axis=1)]
            pdf = pdf.assign(cluster_id=best.astype(np.int32))
            yield pdf[out_cols]

    return emb.mapInPandas(assign, schema)


def build_ivf_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned): the one IVF index builder. Trains the coarse
    quantizer (``train_kmeans_centroids``), assigns the corpus and caches
    the assignment under ``lifetime.persist_right_sized``. Not memoized: its
    callers keep one index per corpus (``artifacts.ivf_index`` per session
    and corpus, ``api.ProductSearchEngine`` per engine)."""
    cents = train_kmeans_centroids(emb)
    return cents, persist_right_sized(assign_clusters(emb, cents))


def ivf_knn(
    assigned: DataFrame,
    centroids: tuple[np.ndarray, np.ndarray],
    batch: QueryBatch,
    k: int,
    nprobe: int,
    *,
    exclude_self: bool = False,
) -> DataFrame:
    """AN4: per-query top-k over the union of its nprobe best clusters of
    a (vec_id, embedding, cluster_id) corpus, for the (cluster ids,
    matrix) ``centroids`` of ``collect_centroids``.

    Returns (query_id, neighbor_id, score, rank) like exact_knn, through
    the same ``knn.topk_scan``, so the scores are rounded BEFORE selection
    and only task-local top-k rows cross the merge exchange. With the
    corpus laid out partitionBy('cluster_id'), the cluster_id IN (...)
    filter becomes partition pruning — only nprobe/nlist of the data is
    read per query batch. A caller probing one batch repeatedly (the
    nprobe sweep) collects the batch and the centroids once.
    """
    cids, cmat = centroids
    q_mat = batch.mat
    # cluster -> row indices of the queries that probe it. The probe map
    # ships in the task closure (it is O(q * nprobe) ints) instead of a
    # broadcast-joined table: corpus rows then cross the Python boundary
    # ONCE each, not once per probing query, and the cluster filter is a
    # plain pushable isin — native PARTITION PRUNING on the ivf_store
    # layout with no runtime (DPP) machinery needed.
    probe_map: dict[int, list[int]] = {}
    for qi, qv in enumerate(q_mat):
        sims = cmat @ qv
        # deterministic centroid ranking: (-sim, cluster_id)
        top = cids[np.lexsort((cids, -sims))[: min(nprobe, len(cids))]]
        for c in top:
            probe_map.setdefault(int(c), []).append(qi)

    def score_batch(pdf: pd.DataFrame) -> np.ndarray:
        # rows group by cluster; one BLAS matmul scores each cluster's rows
        # against exactly the queries that probe it, and every other pair
        # stays -inf (not a candidate)
        emb_mat = matrix(pdf["embedding"])
        cl = pdf["cluster_id"].to_numpy()
        scores = np.full((len(cl), len(q_mat)), -np.inf)
        for c in np.unique(cl):
            qidx = probe_map.get(int(c))
            if qidx:
                rows = np.nonzero(cl == c)[0]
                scores[np.ix_(rows, qidx)] = np.round(emb_mat[rows] @ q_mat[qidx].T, 6)
        return scores

    pool = assigned.filter(
        F.col("cluster_id").isin(sorted(probe_map))
    ).select("cluster_id", "vec_id", "embedding")
    return topk_scan(pool, batch, k, score_batch, corpus_id="vec_id", exclude_self=exclude_self)


def write_ivf_store(
    assigned: DataFrame, path: str, *, mode: str = "overwrite"
) -> None:
    """Persist the clustered corpus partitionBy(cluster_id) — the on-disk
    inverted-file layout. A later `cluster_id IN (probed)` filter becomes
    native parquet PARTITION PRUNING: only nprobe/nlist of the files are
    ever opened (the reference's inverted-list skipping, AN4, expressed as
    data layout instead of index structure)."""
    assigned.write.mode(mode).partitionBy("cluster_id").parquet(path)


def read_ivf_store(spark, path: str) -> DataFrame:
    """Reopen the partitioned corpus; cluster_id comes back as a partition
    column (int)."""
    df = spark.read.parquet(path)
    return df.withColumn("cluster_id", F.col("cluster_id").cast("int"))
