"""Vector column expressions: dot / norm / l2-normalize over array<float>.

The reference relies on one invariant everywhere (SURVEY.md section 1.2):
all vectors are unit-norm, so inner product == cosine similarity (raw `@`
dots at app.py:181,199,234,349 and METRIC_INNER_PRODUCT FAISS indexes).
These helpers preserve that invariant and compute in float64 (the oracle
comparison rounds to 6 decimals; float32 accumulation would diverge).

Two tiers:
- pure Column expressions (`dot`, `l2_normalize`) — stay JVM-side, inside
  whole-stage codegen; right for one-off dots (pairwise matrix, join-scored
  pairs).
- NumPy batch kernels in operators/knn.py (mapInPandas + matmul) — the BLAS
  path for query-batch x corpus scoring, the analog of the reference's
  `emb @ qv` (app.py:181).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column


def matrix(vectors: pd.Series) -> np.ndarray:
    """A pandas column of equal-width vectors (an Arrow batch's or a
    ``lifetime.collect_bounded`` frame's) as one float64 (rows, width)
    matrix; an empty column is a (0, 0) matrix."""
    if vectors.empty:
        return np.empty((0, 0))
    return np.stack(vectors.to_numpy()).astype(np.float64)


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product of two array<numeric> columns, accumulated in double.

    Expression-only (zip_with + aggregate) so Catalyst keeps it in codegen;
    equals cosine similarity when both sides are unit-norm.
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(v: Column | str) -> Column:
    """L2 norm of an array<numeric> column (double)."""
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(v: Column | str) -> Column:
    """Unit-normalize an array<numeric> column -> array<double> (the norm
    gets +1e-12, so a zero vector stays zero).

    The reference normalizes at encode time (app.py:170,
    normalize_embeddings=True) and when building product centroids
    (SURVEY.md section 1.2 — product vec = normalized mean of review vecs).
    """
    v = F.col(v) if isinstance(v, str) else v
    n = norm2(v) + F.lit(1e-12)
    return F.transform(v, lambda x: x.cast("double") / n)
