"""Query/document encoders: the engine's only true UDF surface.

The reference encodes with SBERT all-MiniLM-L6-v2, normalize_embeddings=
True (app.py:84,169-171 — F5 in SURVEY.md section 2.6). Two tiers here:

- `hash_embedder` — a deterministic feature-hashing encoder (token ->
  md5-derived bucket & sign, l2-normalized). It is the test double AND the
  oracle-checkable encoder: the same arithmetic is expressible in ANSI SQL,
  so the driver can verify the full free-text retrieval path end-to-end.
  Real embedding quality is NOT the point; the Spark plumbing (Arrow batch
  UDF, unit-norm invariant, KNN downstream) is identical to a real model.
- `sentence_encoder` — optional SBERT behind an import-try (the container
  ships no torch; never used in tests). Broadcast-weights pattern: load the
  model once per worker, not per batch.

Both produce unit vectors, preserving the reference's dot==cosine
invariant (SURVEY.md section 1.2).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def hash_embed_py(text: str, dim: int = 384) -> list[float]:
    """Reference implementation (driver-side, one string). bucket =
    h % dim, sign = +1 iff (h // dim) even, h = 60-bit md5 int (first 15
    hex digits) — matches the SQL oracle exactly."""
    v = np.zeros(dim, dtype=np.float64)
    for w in (text or "").lower().split():
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        v[h % dim] += 1.0 if (h // dim) % 2 == 0 else -1.0
    return (v / (np.linalg.norm(v) + 1e-12)).tolist()


def hash_embedder():
    """Arrow-batched pandas UDF: text -> unit array<double>[384]."""

    @F.pandas_udf("array<double>")
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield pd.Series([hash_embed_py(t) for t in texts])

    return embed


def sentence_encoder(model_name: str = "sentence-transformers/all-MiniLM-L6-v2"):
    """SBERT encoder UDF if sentence-transformers is installed, else None.

    Mirrors the reference's encode(normalize_embeddings=True)
    (app.py:169-171). The model loads lazily inside the worker (once per
    executor python process), not on the driver.
    """
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        return None

    @F.pandas_udf("array<float>")
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer(model_name)
        for texts in it:
            mat = model.encode(list(texts), normalize_embeddings=True)
            yield pd.Series([list(map(float, row)) for row in mat])

    return embed


def encode_documents(docs: DataFrame, *, encoder=None) -> DataFrame:
    """(vec_id, embedding) for every doc with at least one token, through
    ``encoder`` (``hash_embedder()`` when None; ``sentence_encoder()`` for
    SBERT).

    Zero-token docs are dropped (their embedding would be the zero vector,
    which breaks the unit-norm invariant — and the SQL oracle's sparse form
    produces no rows for them either).
    """
    emb_udf = encoder or hash_embedder()
    # a token is a run of non-whitespace
    return docs.filter(F.col("text").rlike(r"\S")).select(
        F.col("doc_id").alias("vec_id"), emb_udf(F.col("text")).alias("embedding")
    )
