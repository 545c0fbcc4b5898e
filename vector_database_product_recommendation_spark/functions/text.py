"""Text-analysis column expressions for large-scale corpus pipelines.

These are the training-data-pipeline primitives layered on top of the
reference's text handling (the reference lowercases + concatenates review
text into `combined_text`, SURVEY.md section 1.1 P10; everything further —
tokenization, stop words — lives inside its sklearn TF-IDF, section 1.4).

Design rules:
- pure Column expressions only (whole-stage codegen; no Python workers in
  the hot path). Every function here has an exact DuckDB-SQL twin used by
  the driver oracle.
- cross-engine determinism: the only hash primitive is md5 (identical
  everywhere).

The per-document profile metrics (token counts, ratios, quality score)
are computed by the Arrow kernel in functions/textprof.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Marker stop words per language for the n-gram/stopword language-ID
# heuristic. Tiny on purpose: the heuristic must be expressible in ANSI SQL
# (the oracle) and cheap at 100 TB (a handful of array_contains per row).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es": ("el", "los", "las", "y", "es", "una", "que", "por"),
}

STOPWORDS_EN: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "this", "that", "be",
)

_WS = r"\s+"


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def tokens_ws(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text -> array<string>.

    Empty/blank input yields an empty array (split('') returns [''] — we
    filter zero-length tokens so both engines agree).
    """
    t = F.split(F.lower(F.trim(_c(text))), _WS)
    return F.filter(t, lambda x: F.length(x) > 0)


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (the `wc -w` number)."""
    return F.size(tokens_ws(text))


def lang_id(text: Column | str) -> Column:
    """Marker-stopword language ID: count per-language marker hits over the
    token array; argmax wins, ties broken by language code order, rows with
    zero hits everywhere -> 'und' (undetermined, BCP-47 convention)."""
    toks = tokens_ws(text)
    pairs = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        # NB: F.filter consumes the lambda immediately, so closing over `arr`
        # is safe; a default-arg binding would make pyspark treat it as the
        # 2-arg (element, index) form.
        pairs.append(
            (lang, F.size(F.filter(toks, lambda t: F.array_contains(arr, t))))
        )
    # left fold, earlier language wins ties (matches the oracle's CASE chain)
    best_lang, best_score = F.lit(pairs[0][0]), pairs[0][1]
    for lang, score in pairs[1:]:
        keep = best_score >= score
        best_lang = F.when(keep, best_lang).otherwise(F.lit(lang))
        best_score = F.when(keep, best_score).otherwise(score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))


def doc_fingerprint(text: Column | str) -> Column:
    """OpenRefine-style content fingerprint: md5 of the sorted distinct
    whitespace tokens joined by one space. Identical token multiset-modulo-
    duplicates -> identical fingerprint; robust to word order and repeats."""
    toks = F.array_sort(F.array_distinct(tokens_ws(text)))
    return F.md5(F.array_join(toks, " "))
