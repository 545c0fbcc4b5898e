"""The vector column of an Arrow batch as one numpy matrix.

The reference relies on one invariant everywhere (SURVEY.md section 1.2):
all vectors are unit-norm, so inner product == cosine similarity (raw `@`
dots at app.py:181,199,234,349 and METRIC_INNER_PRODUCT FAISS indexes).
Every vector product of the package is a numpy product over the float64
matrix ``matrix`` builds (the oracle comparison rounds to 6 decimals;
float32 accumulation would diverge): the query-batch x corpus scans of
operators/knn.py (mapInPandas + matmul, the distributed analog of the
reference's `emb @ qv`, app.py:181), the near-dup kernels of
operators/dedup.py, the SQ8 and PQ scorers and the driver-side products
of the serving engine. No vector product runs as a Spark lambda
(``zip_with``/``aggregate``/``transform`` are interpreted per element,
outside whole-stage codegen); tests/test_plan_lint.py keeps it so.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def matrix(vectors: pd.Series) -> np.ndarray:
    """A pandas column of equal-width vectors (an Arrow batch's or a
    ``lifetime.collect_bounded`` frame's) as one float64 (rows, width)
    matrix; an empty column is a (0, 0) matrix."""
    if vectors.empty:
        return np.empty((0, 0))
    return np.stack(vectors.to_numpy()).astype(np.float64)
