"""Per-document text profile — token counts, mean token length,
stopword and punctuation ratios, quality score, language, fingerprint —
in one Arrow kernel pass.

Each metric is defined by the DuckDB oracle of the registered
``doc_text_profile`` query; ``lang`` and ``fingerprint`` equal the Column
expressions ``functions.text.lang_id`` and ``doc_fingerprint``. Those
interpreted higher-order-function lambdas are the slowest thing Catalyst
can run: ``lang_id`` alone (4 languages x per-token array_contains over 8
markers) costs ~2.9 s per 5000 docs at bench scale, ~10x the whole scan.
Same story as the shingle/minhash/simhash kernels in operators/dedup.py:
the profile is row-local, so one mapInPandas pass computes every metric
in plain Python string ops (ASCII corpus; ``text.lower().split()`` ==
``split(lower(trim(text)), '\\s+')`` + empty filter, with re.ASCII
pinning \\s and character classes to Java regex semantics).

Rounding stays OUTSIDE the kernel: callers apply F.round, so engine
rounding semantics never enter Python.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
)

_TOKRE = re.compile(r"[a-z0-9]+|[^a-z0-9\s]", re.ASCII)
_WSRE = re.compile(r"\s", re.ASCII)
_NONALNUM = re.compile(r"[^a-z0-9]", re.ASCII)
_SW_SET = frozenset(STOPWORDS_EN)
_MARKER_SETS = [(lang, frozenset(m)) for lang, m in sorted(LANG_MARKERS.items())]

# every metric the kernel can emit, with its Spark column type
PROFILE_COLS = {
    "n_tokens": "int",
    "n_tokens_re": "int",
    "mean_tok_len": "double",
    "stopword_ratio": "double",
    "punct_ratio": "double",
    "quality": "double",
    "lang": "string",
    "fingerprint": "string",
}


def _metrics(text: str, want: tuple[str, ...]) -> dict:
    """One doc -> the requested metrics (see module docstring)."""
    t = text or ""
    low = t.lower()
    toks = low.split()
    n = len(toks)
    out: dict = {}
    need_q = "quality" in want
    if "n_tokens" in want or need_q:
        out["n_tokens"] = n
    if "n_tokens_re" in want:
        out["n_tokens_re"] = len(_TOKRE.findall(low))
    if "mean_tok_len" in want or need_q:
        out["mean_tok_len"] = (
            float(sum(len(x) for x in toks)) / float(n) if n > 0 else 0.0
        )
    if "stopword_ratio" in want or need_q:
        out["stopword_ratio"] = (
            float(sum(1 for x in toks if x in _SW_SET)) / float(n) if n > 0 else 0.0
        )
    if "punct_ratio" in want or need_q:
        s = _WSRE.sub("", low)
        n_ch = len(s)
        n_al = len(_NONALNUM.sub("", s))
        out["punct_ratio"] = float(n_ch - n_al) / float(n_ch) if n_ch > 0 else 0.0
    if need_q:
        out["quality"] = (
            (0.25 if 5 <= out["n_tokens"] <= 2000 else 0.0)
            + (0.25 if 2.0 <= out["mean_tok_len"] <= 12.0 else 0.0)
            + (0.25 if out["stopword_ratio"] >= 0.01 else 0.0)
            + (0.25 if out["punct_ratio"] <= 0.3 else 0.0)
        )
    if "lang" in want:
        # left fold, earlier language (sorted code order) wins ties —
        # identical to functions.text.lang_id's CASE chain
        best_lang, best = _MARKER_SETS[0][0], sum(
            1 for x in toks if x in _MARKER_SETS[0][1]
        )
        for lang, markers in _MARKER_SETS[1:]:
            c = sum(1 for x in toks if x in markers)
            if c > best:
                best_lang, best = lang, c
        out["lang"] = best_lang if best > 0 else "und"
    if "fingerprint" in want:
        joined = " ".join(sorted(set(toks)))
        out["fingerprint"] = hashlib.md5(joined.encode()).hexdigest()
    return out


def profile_docs_py(docs: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(doc_id, *cols) of the ``text`` column in one Arrow pass. ``cols``
    picks from PROFILE_COLS; output order follows ``cols``. Row-local — no
    shuffle."""
    unknown = [c for c in cols if c not in PROFILE_COLS]
    if unknown:
        raise ValueError(f"unknown profile columns {unknown!r}")
    src = docs.select("doc_id", "text")
    id_dtype = src.schema["doc_id"].dataType.simpleString()
    schema = ", ".join(
        [f"doc_id {id_dtype}"] + [f"{c} {PROFILE_COLS[c]}" for c in cols]
    )
    want = tuple(cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = [_metrics(t, want) for t in pdf["text"]]
            data = {"doc_id": pdf["doc_id"]}
            for c in want:
                data[c] = [r[c] for r in rows]
            yield pd.DataFrame(data)

    return src.mapInPandas(kernel, schema)
