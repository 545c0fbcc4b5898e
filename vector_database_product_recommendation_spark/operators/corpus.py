"""Corpus-preparation pipeline: the composite training-data job that
chains the text-analysis operators end to end —

    profile (lang-id, quality, token count, fingerprint)
      -> language + quality gate
      -> exact near-dup removal (fingerprint, keep lowest doc_id)
      -> per-stage funnel statistics

This is the canonical 100 TB pre-training data shape (cf. the C4 /
RefinedWeb / FineWeb pipelines: language filter -> quality heuristics ->
dedup). Everything is a single-pass column expression except the dedup,
which is one hash shuffle on the fingerprint; the funnel summary is three
tiny aggregates over the same persisted profile.

Scale notes: the profile projection is ONE row-local Arrow kernel pass
(functions/textprof.py — an interpreted Column-expression profile costs
~10x the scan); the
fingerprint dedup shuffles only (fingerprint, doc_id, n_tokens) — never
the text payload. At 100 TB the win of profiling BEFORE shuffling is the
whole game: survivors of the gate are typically a small fraction of
input, so the dedup shuffle moves a fraction of the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from vector_database_product_recommendation_spark.functions.textprof import profile_docs_py
from vector_database_product_recommendation_spark.sources.tables import load_table


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns the funnel: (stage, n_docs, total_tokens) for the raw
    corpus, the post-gate corpus (lang == "en" and quality >= 0.75), and
    the post-dedup corpus.

    Single-pass shape: the profile projection runs ONCE (Spark does not
    share subplans across union branches, so a three-branch funnel would
    profile the corpus three times); gate and dedup-survivor become
    boolean flags, and the funnel is one conditional aggregation. The
    fingerprint window sorts gate-survivors first, so rank 1 is the
    lowest gated doc_id — non-gated rows never win a group."""
    docs = load_table(spark, sf_dir, "documents")
    # one Arrow kernel pass for the whole profile (functions/textprof.py)
    prof = profile_docs_py(
        docs, ("lang", "quality", "n_tokens", "fingerprint")
    )

    g = (F.col("lang") == F.lit("en")) & (F.col("quality") >= F.lit(0.75))
    w = Window.partitionBy("fingerprint").orderBy(F.desc("g"), "doc_id")
    flagged = (
        prof.withColumn("g", g)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("d", F.col("g") & (F.col("rn") == 1))
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("raw_docs"),
        F.sum("n_tokens").alias("raw_toks"),
        F.sum(F.when(F.col("g"), 1).otherwise(0)).alias("gate_docs"),
        F.sum(F.when(F.col("g"), F.col("n_tokens"))).alias("gate_toks"),
        F.sum(F.when(F.col("d"), 1).otherwise(0)).alias("dedup_docs"),
        F.sum(F.when(F.col("d"), F.col("n_tokens"))).alias("dedup_toks"),
    )
    return totals.select(
        F.expr(
            "stack(3, 'raw', raw_docs, raw_toks, "
            "'lang_quality_gate', gate_docs, gate_toks, "
            "'fingerprint_dedup', dedup_docs, dedup_toks) "
            "AS (stage, n_docs, total_tokens)"
        )
    )
