"""Offline-artifact cache — the reference never fits models at serving
time: the TF-IDF vectorizer ships as a joblib pickle, the IVF index as a
FAISS file, and every load is memoized with ``@st.cache_resource``
(app.py:63-102). This module is the Spark analog: fit/train ONCE per
(SparkSession, corpus), persist the fitted state, and let every query
reuse it. At warehouse scale this corresponds to materializing the tf/df
tables and the cluster-partitioned corpus as real tables in an offline
job; queries only read them.

Every public builder here is a parameterless ``build(spark, sf_dir)``
behind the one memo (``_memo``), keyed by (applicationId, sf_dir,
builder name), so a restarted session (whose persisted RDDs are gone)
never sees stale handles. One call builds its artifact whole: every
table it holds is persisted and filled before the call returns, so no
reader fills a cache. The memo lists each builder in ``BUILDERS``, in
definition order: ``bench.py``'s artifact phase calls each once. Every
cached table goes through the one persist rule,
``lifetime.persist_right_sized``.
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from vector_database_product_recommendation_spark.lifetime import persist_right_sized, scratch_dir
from vector_database_product_recommendation_spark.sources.tables import load_table

_CACHE: dict[tuple, Any] = {}
# every builder, in definition order
BUILDERS: list = []


def _memo(build):
    """``build(spark, sf_dir)`` run once per (applicationId, sf_dir, name);
    later calls return the same object. The memoized builder joins
    ``BUILDERS``."""

    @functools.wraps(build)
    def memoized(spark: SparkSession, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir, build.__name__)
        if key not in _CACHE:
            _CACHE[key] = build(spark, sf_dir)
        return _CACHE[key]

    BUILDERS.append(memoized)
    return memoized


@_memo
def fitted_tfidf(spark: SparkSession, sf_dir: str):
    """The corpus-fitted TfidfModel over ``documents`` (joblib-pickle
    analog, SURVEY.md section 1.4): its tf, df and normalized weight
    tables cached and filled."""
    from vector_database_product_recommendation_spark.operators.tfidf import TfidfModel

    return TfidfModel(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@_memo
def ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) for the ``embeddings`` corpus — the FAISS
    IndexIVFFlat file analog (SURVEY.md section 2.7), built by
    ``ivf.build_ivf_index``."""
    from vector_database_product_recommendation_spark.operators.ivf import build_ivf_index

    return build_ivf_index(load_table(spark, sf_dir, "embeddings"))


@_memo
def shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, shingle) inverted-index rows over ``documents`` —
    the write-the-index-once step of the n-gram Jaccard pipeline
    (dedup.py module docstring). Serving queries (dedup_ngram_jaccard,
    dedup_components) probe it; the build is an offline job at warehouse
    scale, reported in artifact_build_sec here."""
    from vector_database_product_recommendation_spark.operators.dedup import shingle_postings

    return persist_right_sized(shingle_postings(load_table(spark, sf_dir, "documents")))


@_memo
def minhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles, mh) MinHash signatures over ``documents`` — the
    write-signatures-once step of the MinHash-LSH pipeline."""
    from vector_database_product_recommendation_spark.operators.dedup import minhash_table

    return persist_right_sized(minhash_table(load_table(spark, sf_dir, "documents")))


@_memo
def simhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) SimHash signatures over ``documents``, unsorted
    (the ``simhash_signatures`` query adds its presentation order)."""
    from vector_database_product_recommendation_spark.operators.dedup import simhash_signatures

    return persist_right_sized(simhash_signatures(load_table(spark, sf_dir, "documents")))


@_memo
def winnow_fingerprint_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints over ``documents`` (unsorted;
    consumers add their own presentation order)."""
    from vector_database_product_recommendation_spark.operators.dedup import winnow_fingerprints_df

    return persist_right_sized(winnow_fingerprints_df(load_table(spark, sf_dir, "documents")))


@_memo
def embedding_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vid, band_idx, band_key) hyperplane band signatures over
    ``embeddings`` — the embedding-LSH blocking index."""
    from vector_database_product_recommendation_spark.operators.dedup import (
        embedding_band_signatures,
    )

    return persist_right_sized(embedding_band_signatures(load_table(spark, sf_dir, "embeddings")))


@_memo
def ivf_store(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, store) where `store` is the corpus REOPENED from a
    cluster-partitioned parquet layout (write_ivf_store) — probing filters
    on cluster_id become native partition pruning, the on-disk
    inverted-file. Written once per (session, corpus) under a
    ``lifetime.scratch_dir``, removed at process exit; at warehouse scale
    this is a real table written by the offline indexing job."""
    from vector_database_product_recommendation_spark.operators.ivf import (
        read_ivf_store,
        write_ivf_store,
    )

    cents, assigned = ivf_index(spark, sf_dir)
    path = scratch_dir("ivf_store_")
    write_ivf_store(assigned, path)
    return cents, read_ivf_store(spark, path)


@_memo
def encoded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precomputed hash-embeddings of the documents corpus — the
    review_embeddings.npy analog (the reference never encodes the corpus
    at serving time; only the query string is encoded per request,
    app.py:169-171). Cached (vec_id, embedding), one UDF pass per
    (session, corpus)."""
    from vector_database_product_recommendation_spark.functions.embed import encode_documents

    return persist_right_sized(encode_documents(load_table(spark, sf_dir, "documents")))


@_memo
def pq_index(spark: SparkSession, sf_dir: str):
    """(codebooks, codes) for the ``embeddings`` corpus — the PQ codebook
    + code-table pair, trained/encoded once per (session, corpus). codes
    is cached; codebooks are kilobytes of driver-side numpy (at
    warehouse scale: a broadcast table written by the offline job)."""
    from vector_database_product_recommendation_spark.operators.pq import encode_pq, train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb)
    return books, persist_right_sized(encode_pq(emb, books))
