"""Registry-level checks of vector queries the DuckDB oracle cannot pin.

The rows-only IVF probes (k-means assignment is iterative, so they have
no oracle) must still return exact scores of real pairs in rank order,
and each query of the KNN family runs a pinned number of Spark jobs:
its query batch reaches the kernel collected once, and a free-text
batch encoded on the driver is never collected back.
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


# warm ``.collect()`` jobs of the KNN family's queries at sf0.01, and of
# the engine's E3 side-by-side (both hit lists) on the reference fixture
KNN_JOBS = {
    "knn_exact_batch": 4,
    "knn_item_to_item": 4,
    "pairwise_similarity": 1,
    "ivf_knn_probe": 3,
    "ivf_knn_exactprobe": 3,
    "ivf_store_pruned_probe": 6,
    "pq_knn_refined": 6,
    "sq8_knn": 4,
    "hybrid_search": 6,
    "ann_tradeoff": 8,
    "free_text_search": 1,
    "free_text_filtered_search": 3,
    "ann_review_search": 3,
}


@pytest.fixture(scope="module")
def engine(spark, ref_fixture):
    from vector_database_product_recommendation_spark.api import ProductSearchEngine

    return ProductSearchEngine.from_reference_dir(spark, ref_fixture.ref_dir)


@pytest.mark.parametrize("name", list(KNN_JOBS))
def test_knn_family_runs_its_pinned_jobs(request, jobs_run_by, spark, name):
    if name == "ann_review_search":
        engine = request.getfixturevalue("engine")

        def run():
            for hits in engine.ann_review_search(11, k=K, nprobe=2):
                hits.collect()

    else:

        def run():
            queries()[name](spark, SF_DIR_MID).collect()

    run()  # builds the artifacts (or the review index) the query reads
    assert jobs_run_by(run, name) == KNN_JOBS[name]
