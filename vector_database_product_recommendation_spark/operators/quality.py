"""Repetition-based quality signals for pretraining-corpus filtering.

The Gopher/MassiveText filtering rules (Rae et al. 2021, arXiv:2112.11446,
table A1) keep documents whose repetition stays under thresholds: fraction
of tokens taken by the single most frequent token, fraction of n-gram
occurrences that are repeats, distinct-token ratio. The reference app has
no corpus filtering at all (its corpus is pre-cleaned, SURVEY.md S9) —
this module is part of the training-data-pipeline extension layer and
composes with corpus_prep_pipeline's lang/quality gate.

Scale shape: gram counting is doc-local, so the integer counts come from
one Arrow kernel pass with hash-map (dict) counting — linear per
document, zero shuffles, never moves text. (The array-EXPRESSION form of
multiplicity counting would be O(len * distinct) per row — quadratic on
long documents — which is why this is a kernel, not a transform/filter
fold; the old explode -> (doc, gram) aggregate shape was linear too but
paid four exchanges and two joins for per-row work.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics:

    - n_tokens:           whitespace token count
    - unique_token_ratio: distinct tokens / tokens
    - top_token_frac:     occurrences of the modal token / tokens
    - dup_bigram_frac:    bigram occurrences whose bigram appears more
                          than once / total bigram occurrences (0.0 when
                          the doc has fewer than 2 tokens)

    Ratios are rounded to 6 decimals.

    Physical shape: gram counting is DOC-LOCAL (a token's multiplicity in
    one document never depends on another row), so the integer counts
    (top token count, distinct tokens, bigram dup occurrences) come from
    one Arrow kernel pass with hash-map counting — linear per document,
    zero shuffles. (The previous explode -> (doc, gram) hash aggregate ->
    per-doc re-aggregate shape paid four exchanges plus two joins for
    per-row work; the docstring's quadratic warning applies to counting
    multiplicities with ARRAY EXPRESSIONS — O(len * distinct) per row —
    not to a dict count.) Every float division and rounding stays in
    engine expressions over the kernel's integers, so no Python float
    semantics enter the oracle-checked output.

    Returns one row per input doc, sorted by doc_id.
    """
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    src = docs.select("doc_id", "text")
    dtype = src.schema["doc_id"].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                toks = (t or "").lower().split()
                n = len(toks)
                tc = Counter(toks)
                bc = Counter(
                    " ".join(toks[i : i + 2]) for i in range(n - 1)
                ) if n >= 2 else Counter()
                n_bg = sum(bc.values())
                dup_occ = sum(c for c in bc.values() if c > 1)
                rows.append(
                    (did, n, max(tc.values()) if tc else 0, len(tc), n, dup_occ, n_bg)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_tokens", "top_c", "n_distinct", "n_tok",
                    "dup_occ", "n_bg",
                ],
            )

    counts = src.mapInPandas(
        kernel,
        f"doc_id {dtype}, n_tokens int, top_c long, n_distinct long, "
        "n_tok long, dup_occ long, n_bg long",
    )

    return (
        counts
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.when(F.col("n_tok") > 0, F.col("n_distinct") / F.col("n_tok")).otherwise(0.0),
                6,
            ).alias("unique_token_ratio"),
            F.round(
                F.when(F.col("n_tok") > 0, F.col("top_c") / F.col("n_tok")).otherwise(0.0),
                6,
            ).alias("top_token_frac"),
            F.round(
                F.when(F.col("n_bg") > 0, F.col("dup_occ") / F.col("n_bg")).otherwise(0.0),
                6,
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )
