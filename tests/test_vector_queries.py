"""Registry-level checks of vector queries the DuckDB oracle cannot pin.

The rows-only IVF probes (k-means assignment is iterative, so they have
no oracle) must still return exact scores of real pairs in rank order,
and the free-text queries must not collect back the query row they
built on the driver.
"""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_DIR, SF_DIR_MID

from vector_database_product_recommendation_spark.registry import queries
from vector_database_product_recommendation_spark.sources.tables import load_table

K, N_QUERIES = 5, 8


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MID], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ["ivf_knn_probe", "ivf_store_pruned_probe"])
def test_rows_only_ivf_probes_return_exact_scores_of_real_pairs(spark, name, sf_dir):
    """Each of the 8 queries gets ranks 1..k; every score is the numpy
    round(q·v, 6) of its pair, no (query, neighbor) pair repeats and
    every neighbor is a corpus row."""
    rows = queries()[name](spark, sf_dir).collect()
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vec = {r[0]: np.asarray(r[1], dtype=np.float64) for r in corpus}
    ranks: dict[int, list[int]] = {}
    for r in rows:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
        assert r["neighbor_id"] in vec
        assert r["score"] == round(float(vec[r["query_id"]] @ vec[r["neighbor_id"]]), 6)
    assert ranks == {q: list(range(1, K + 1)) for q in range(N_QUERIES)}
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(set(pairs)) == len(pairs)


def test_free_text_queries_collect_no_query_row(jobs_run_by, spark):
    """The free-text queries hand their encoded query row to exact_knn as
    ``query_arrays``, so no job collects it back: at sf0.01 a search runs
    one job and a filtered search three."""
    qmap = queries()
    for name, jobs in (("free_text_search", 1), ("free_text_filtered_search", 3)):
        qmap[name](spark, SF_DIR_MID).collect()  # builds the encoded-documents artifact
        assert jobs_run_by(lambda: qmap[name](spark, SF_DIR_MID).collect(), name) == jobs, name
