"""Word lists of the text-analysis layer.

The reference lowercases and concatenates review text into
`combined_text` (SURVEY.md section 1.1 P10); everything further —
tokenization, stop words — lives inside its sklearn TF-IDF (section 1.4).
The kernels layered on top split each text in Python inside one Arrow
pass (``textprof.per_doc``); the language-ID markers and the English
stop words below are the word lists the text profile and the TF-IDF fit
read.
"""

from __future__ import annotations

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
