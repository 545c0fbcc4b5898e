"""Repetition-based quality signals for pretraining-corpus filtering.

The Gopher/MassiveText filtering rules (Rae et al. 2021, arXiv:2112.11446,
table A1) keep documents whose repetition stays under thresholds: fraction
of tokens taken by the single most frequent token, fraction of n-gram
occurrences that are repeats, distinct-token ratio. The reference app has
no corpus filtering at all (its corpus is pre-cleaned, SURVEY.md S9) —
this module is part of the training-data-pipeline extension layer and
composes with corpus_prep_pipeline's lang/quality gate.

Scale shape: gram counting is doc-local, so the integer counts come from
the one per-document pass (``textprof.per_doc``) with hash-map (dict)
counting — linear per document, zero shuffles, never moves text. (The array-EXPRESSION form of
multiplicity counting would be O(len * distinct) per row — quadratic on
long documents — which is why this is a kernel, not a transform/filter
fold; the old explode -> (doc, gram) aggregate shape was linear too but
paid four exchanges and two joins for per-row work.)
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.textprof import per_doc


def _repetition_counts(text: str | None) -> list[tuple[int, int, int, int, int]]:
    """One doc's (n_tokens, top_c, n_distinct, dup_occ, n_bg): token count,
    modal token count, distinct tokens, occurrences of repeated bigrams and
    bigram count, by dict counting over the whitespace tokens."""
    toks = (text or "").lower().split()
    n = len(toks)
    tc = Counter(toks)
    bc = Counter(" ".join(toks[i : i + 2]) for i in range(n - 1))
    dup_occ = sum(c for c in bc.values() if c > 1)
    return [(n, max(tc.values()) if tc else 0, len(tc), dup_occ, sum(bc.values()))]


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics:

    - n_tokens:           whitespace token count
    - unique_token_ratio: distinct tokens / tokens
    - top_token_frac:     occurrences of the modal token / tokens
    - dup_bigram_frac:    bigram occurrences whose bigram appears more
                          than once / total bigram occurrences (0.0 when
                          the doc has fewer than 2 tokens)

    Ratios are rounded to 6 decimals. The integer counts come from one
    ``per_doc`` pass (module docstring); every float division and rounding
    stays in engine expressions over them, so no Python float semantics
    enter the oracle-checked output.

    Returns one row per input doc, sorted by doc_id.
    """
    counts = per_doc(
        docs.select("doc_id", "text"),
        "n_tokens int, top_c long, n_distinct long, dup_occ long, n_bg long",
        _repetition_counts,
    )

    return (
        counts
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.when(F.col("n_tokens") > 0, F.col("n_distinct") / F.col("n_tokens")).otherwise(0.0),
                6,
            ).alias("unique_token_ratio"),
            F.round(
                F.when(F.col("n_tokens") > 0, F.col("top_c") / F.col("n_tokens")).otherwise(0.0),
                6,
            ).alias("top_token_frac"),
            F.round(
                F.when(F.col("n_bg") > 0, F.col("dup_occ") / F.col("n_bg")).otherwise(0.0),
                6,
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )
