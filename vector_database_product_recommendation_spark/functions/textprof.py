"""The one per-document Arrow pass (:func:`per_doc`) and the text profile
built on it: token counts, mean token length, stopword and punctuation
ratios, quality score, language, fingerprint.

Every text kernel of the package is doc-local (the TF-IDF term counts,
shingles, MinHash, SimHash, winnowing, repetition counts and this
profile), so each is a Python function of one document that ``per_doc``
runs, with no shuffle. Interpreted Column lambdas are the slowest thing
Catalyst runs: the Column language ID (a per-token array_contains for
each of 4 languages) took 7.1-7.7 s per 5000 docs at sf0.1 through a
noop sink, this kernel 0.51-0.59 s (interquartile ranges of 10 runs, a
4-core VM).

Each profile metric is defined by the DuckDB oracle of
``doc_text_profile``, ``lang_id_pred`` or ``doc_fingerprint``, in plain
Python string ops (ASCII corpus; ``text.lower().split()`` ==
``split(lower(trim(text)), '\\s+')`` + empty filter, with re.ASCII
pinning \\s and character classes to Java regex semantics). A null text
profiles as the empty string.

Rounding stays OUTSIDE the kernel: callers apply F.round, so engine
rounding semantics never enter Python.
"""

from __future__ import annotations

import hashlib
import re
from typing import Any, Callable, Collection, Iterator

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
        # identical to the lang_id_pred oracle's CASE chain
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


def per_doc(src: DataFrame, schema: str, fn: Callable[[Any], Collection[tuple]]) -> DataFrame:
    """The one per-document pass: ``src`` is an (id, value) frame and
    ``fn(value)`` returns one document's output rows, a list (or other
    sized collection) of zero, one or many tuples typed by the DDL
    ``schema``. Each row comes out behind its document's id, which keeps
    its name and type. Row-local: no shuffle.

    A batch is built by ``DataFrame.from_records`` over the rows, with the
    ids inserted as its first column; its column labels stay integers,
    which Spark matches to the schema by position. Batches that produce
    no rows are skipped."""
    key = src.schema.fields[0]
    out_schema = f"{key.name} {key.dataType.simpleString()}, {schema}"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rows = [], []
            for i, v in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
                out = fn(v)
                ids += [i] * len(out)
                rows += out
            if rows:
                frame = pd.DataFrame.from_records(rows)
                frame.insert(0, -1, ids)
                yield frame

    return src.mapInPandas(kernel, out_schema)


def profile_docs_py(docs: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(doc_id, *cols) of the ``text`` column in one ``per_doc`` pass.
    ``cols`` picks from PROFILE_COLS; output order follows ``cols``."""
    unknown = [c for c in cols if c not in PROFILE_COLS]
    if unknown:
        raise ValueError(f"unknown profile columns {unknown!r}")
    want = tuple(cols)

    def row(text: str | None) -> list[tuple]:
        m = _metrics(text, want)
        return [tuple(m[c] for c in want)]

    schema = ", ".join(f"{c} {PROFILE_COLS[c]}" for c in want)
    return per_doc(docs.select("doc_id", "text"), schema, row)
