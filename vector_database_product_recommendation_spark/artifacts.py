"""Offline-artifact cache — the reference never fits models at serving
time: the TF-IDF vectorizer ships as a joblib pickle, the IVF index as a
FAISS file, and every load is memoized with ``@st.cache_resource``
(app.py:63-102). This module is the Spark analog: fit/train ONCE per
(SparkSession, corpus), persist the fitted state, and let every query
reuse it. At warehouse scale this corresponds to materializing the tf/df
tables and the cluster-partitioned corpus as real tables in an offline
job; queries only read them.

Keys include the Spark applicationId so a restarted session (whose
persisted RDDs are gone) never sees stale handles.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, Any] = {}


def _key(spark: SparkSession, sf_dir: str, tag: str, *params) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, tag, *params)


ROWS_PER_PARTITION = 25_000


def persist_right_sized(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` (about ``n_rows`` rows) coalesced to ~25k rows per partition
    (at least 1, at most ``defaultParallelism``), persisted, and
    materialized with one count.

    A tiny corpus spread over defaultParallelism (or shuffle) partitions
    pays per-task overhead on every probe and never takes the
    single-partition paths of the kernels (knn.py); at 100 TB the same
    rule yields thousands of partitions. coalesce, so no shuffle.
    """
    cap = int(df.sparkSession.sparkContext.defaultParallelism)
    out = df.coalesce(max(1, min(cap, n_rows // ROWS_PER_PARTITION + 1))).persist()
    out.count()
    return out


def fitted_tfidf(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_features: int | None = None,
):
    """The corpus-fitted TfidfModel over ``documents`` (joblib-pickle
    analog, SURVEY.md section 1.4)."""
    from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN
    from vector_database_product_recommendation_spark.operators.tfidf import TfidfModel
    from vector_database_product_recommendation_spark.sources.tables import load_table

    k = _key(spark, sf_dir, "tfidf", max_features)
    if k not in _CACHE:
        docs = load_table(spark, sf_dir, "documents")
        # a capped-vocabulary fit only prunes the vocabulary of the
        # uncapped fit over the same corpus: reuse its (persisted) tf
        # table instead of re-tokenizing the corpus (values identical)
        base_tf = None
        if max_features is not None:
            base_tf = fitted_tfidf(spark, sf_dir).tf
        _CACHE[k] = TfidfModel(
            docs,
            "doc_id",
            "text",
            STOPWORDS_EN,
            max_features=max_features,
            base_tf=base_tf,
        )
    return _CACHE[k]


def ivf_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    nlist: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) for the ``embeddings`` corpus — the FAISS
    IndexIVFFlat file analog (SURVEY.md section 2.7). ``assigned`` is
    persisted and materialized; centroids are tiny."""
    from vector_database_product_recommendation_spark.operators.ivf import (
        assign_clusters,
        train_kmeans_centroids,
    )
    from vector_database_product_recommendation_spark.sources.tables import load_table

    k = _key(spark, sf_dir, "ivf", nlist, seed, max_iter)
    if k not in _CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        cents = train_kmeans_centroids(
            emb, nlist, seed=seed, max_iter=max_iter, n_rows=n
        )
        _CACHE[k] = (cents, persist_right_sized(assign_clusters(emb, cents), n))
    return _CACHE[k]


def clear() -> None:
    """Drop all cached artifacts (tests; session teardown)."""
    for v in _CACHE.values():
        try:
            if isinstance(v, tuple):
                for d in v:
                    if isinstance(d, DataFrame):
                        d.unpersist()
            elif isinstance(v, DataFrame):
                v.unpersist()
            else:
                m = v
                for d in getattr(m, "persisted", lambda: [])():
                    d.unpersist()
        except Exception:
            pass
    _CACHE.clear()


def _persisted_df(spark: SparkSession, sf_dir: str, tag: str, build, *params) -> DataFrame:
    """Memoize one persisted, materialized DataFrame per (session, corpus,
    tag, params) — the shared shape of every signature-table artifact."""
    k = _key(spark, sf_dir, tag, *params)
    if k not in _CACHE:
        df = build().persist()
        df.count()
        _CACHE[k] = df
    return _CACHE[k]


def shingle_index(spark: SparkSession, sf_dir: str, *, n: int = 3) -> DataFrame:
    """Exploded (doc_id, shingle) inverted-index rows over ``documents`` —
    the write-the-index-once step of the n-gram Jaccard pipeline
    (dedup.py module docstring). Serving queries (dedup_ngram_jaccard,
    dedup_components) probe it; the build is an offline job at warehouse
    scale, reported in artifact_build_sec here."""
    from vector_database_product_recommendation_spark.operators.dedup import _doc_shingles_py
    from vector_database_product_recommendation_spark.sources.tables import load_table

    def build() -> DataFrame:
        import pyspark.sql.functions as F

        docs = load_table(spark, sf_dir, "documents")
        return _doc_shingles_py(docs, "doc_id", "text", n).select(
            "doc_id", F.explode("shingles").alias("shingle")
        )

    return _persisted_df(spark, sf_dir, "shingle_index", build, n)


def minhash_signature_table(
    spark: SparkSession, sf_dir: str, *, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, shingles, mh) MinHash signatures over ``documents`` — the
    write-signatures-once step of the MinHash-LSH pipeline."""
    from vector_database_product_recommendation_spark.operators.dedup import _with_minhash
    from vector_database_product_recommendation_spark.sources.tables import load_table

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return _with_minhash(docs, "doc_id", "text", n, num_hashes)

    return _persisted_df(spark, sf_dir, "minhash_sig", build, n, num_hashes)


def simhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) SimHash signatures over ``documents``."""
    from vector_database_product_recommendation_spark.operators.dedup import simhash_signatures
    from vector_database_product_recommendation_spark.sources.tables import load_table

    def build() -> DataFrame:
        return simhash_signatures(load_table(spark, sf_dir, "documents"))

    return _persisted_df(spark, sf_dir, "simhash_sig", build)


def winnow_fingerprint_table(
    spark: SparkSession, sf_dir: str, *, k: int = 4, w: int = 5
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints over ``documents`` (unsorted;
    consumers add their own presentation order)."""
    from vector_database_product_recommendation_spark.operators.dedup import winnow_fingerprints_df
    from vector_database_product_recommendation_spark.sources.tables import load_table

    def build() -> DataFrame:
        return winnow_fingerprints_df(
            load_table(spark, sf_dir, "documents"), k=k, w=w, sort=False
        )

    return _persisted_df(spark, sf_dir, "winnow_fp", build, k, w)


def embedding_band_table(
    spark: SparkSession, sf_dir: str, *, n_planes: int = 16, n_bands: int = 4
) -> DataFrame:
    """(vid, band_idx, band_key) hyperplane band signatures over
    ``embeddings`` — the embedding-LSH blocking index."""
    from vector_database_product_recommendation_spark.operators.dedup import (
        embedding_band_signatures,
    )
    from vector_database_product_recommendation_spark.sources.tables import load_table

    def build() -> DataFrame:
        return embedding_band_signatures(
            load_table(spark, sf_dir, "embeddings"),
            n_planes=n_planes,
            n_bands=n_bands,
        )

    return _persisted_df(spark, sf_dir, "emb_bands", build, n_planes, n_bands)


def ivf_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    nlist: int | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, store) where `store` is the corpus REOPENED from a
    cluster-partitioned parquet layout (write_ivf_store) — probing filters
    on cluster_id become native partition pruning, the on-disk
    inverted-file. Written once per (session, corpus) under a scratch dir;
    at warehouse scale this is a real table written by the offline
    indexing job."""
    import tempfile

    from vector_database_product_recommendation_spark.operators.ivf import (
        read_ivf_store,
        write_ivf_store,
    )

    k = _key(spark, sf_dir, "ivf_store", nlist, seed, max_iter)
    if k not in _CACHE:
        cents, assigned = ivf_index(
            spark, sf_dir, nlist=nlist, seed=seed, max_iter=max_iter
        )
        path = tempfile.mkdtemp(prefix="ivf_store_")
        write_ivf_store(assigned, path)
        _CACHE[k] = (cents, read_ivf_store(spark, path))
    return _CACHE[k]


def encoded_documents(spark: SparkSession, sf_dir: str, *, dim: int = 384) -> DataFrame:
    """Precomputed hash-embeddings of the documents corpus — the
    review_embeddings.npy analog (the reference never encodes the corpus
    at serving time; only the query string is encoded per request,
    app.py:169-171). Persisted (vec_id, embedding), one UDF pass per
    (session, corpus)."""
    from vector_database_product_recommendation_spark.functions.embed import encode_documents
    from vector_database_product_recommendation_spark.sources.tables import load_table

    k = _key(spark, sf_dir, "doc_emb", dim)
    if k not in _CACHE:
        emb = encode_documents(
            load_table(spark, sf_dir, "documents"), dim=dim
        ).persist()
        emb.count()
        _CACHE[k] = emb
    return _CACHE[k]


def pq_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
):
    """(codebooks, codes) for the ``embeddings`` corpus — the PQ codebook
    + code-table pair, trained/encoded once per (session, corpus). codes
    is persisted; codebooks are kilobytes of driver-side numpy (at
    warehouse scale: a broadcast table written by the offline job)."""
    from vector_database_product_recommendation_spark.operators.pq import encode_pq, train_pq
    from vector_database_product_recommendation_spark.sources.tables import load_table

    k = _key(spark, sf_dir, "pq", m, ksub, seed)
    if k not in _CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        books = train_pq(emb, m=m, ksub=ksub, seed=seed)
        codes = encode_pq(emb, books).persist()
        codes.count()
        _CACHE[k] = (books, codes)
    return _CACHE[k]
