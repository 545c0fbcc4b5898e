"""Text-analysis column expressions for large-scale corpus pipelines.

These are the training-data-pipeline primitives layered on top of the
reference's text handling (the reference lowercases + concatenates review
text into `combined_text`, SURVEY.md section 1.1 P10; everything further —
tokenization, stop words — lives inside its sklearn TF-IDF, section 1.4).

Design rules:
- pure Column expressions only. Every function here has an exact
  DuckDB-SQL twin used by the driver oracle.
- cross-engine determinism: the only hash primitive is md5 (identical
  everywhere).

The whitespace tokens and their count stay Column expressions because
SimHash and the document encoder read them. The per-document profile
(ratios, quality score, language ID, fingerprint) is the Arrow kernel of
functions/textprof.py: as Column expressions, its per-token lambdas cost
more than the whole scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Marker stop words per language for the n-gram/stopword language-ID
# heuristic (functions/textprof.py). Tiny on purpose: the heuristic must be
# expressible in ANSI SQL (the oracle) and cheap at 100 TB (a handful of
# set lookups per token).
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
