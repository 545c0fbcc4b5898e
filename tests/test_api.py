"""The serving facade (api.ProductSearchEngine) on a seeded catalog in the
reference's on-disk layout (conftest.ref_fixture) — widget-parameter
semantics and the SURVEY.md section 5 metamorphic identities
(hybrid(alpha=1) == vector ranking; item-to-item never returns its query;
filters respected; nprobe=nlist == exact).
"""

from __future__ import annotations

import math

import numpy as np
import pytest


@pytest.fixture(scope="module")
def engine(spark, ref_fixture):
    from vector_database_product_recommendation_spark.api import ProductSearchEngine

    return ProductSearchEngine.from_reference_dir(spark, ref_fixture.ref_dir)


def test_item_to_item_matches_numpy(engine, ref_fixture):
    mat = ref_fixture.emb
    pid = ref_fixture.ids[7]
    qv = mat[7]
    scores = mat @ qv
    scores[7] = -np.inf
    expect_top = np.sort(scores)[::-1][:5]
    got = engine.search_by_product_id(pid, k=5).collect()
    assert len(got) == 5
    assert pid not in {r["id"] for r in got}  # self-exclusion
    for r, e in zip(got, expect_top):
        assert abs(r["score"] - e) < 1e-4


def test_search_products_respects_filters(engine):
    out = engine.search_products(
        "kindle fire tablet", brand="amazon", min_rating=2.8, min_reviews=5, k=5
    ).collect()
    assert 0 < len(out) <= 5
    for r in out:
        assert r["brand"].lower() == "amazon"
        assert r["avg_rating"] >= 2.8
        assert r["n_reviews"] >= 5


def test_hybrid_alpha1_equals_vector_ranking(engine):
    """SURVEY.md section 5.3: hybrid(alpha=1) ranks exactly like vector
    mode (the tfidf term contributes 0)."""
    v = engine.search_products("kindle reading light", mode="vector", k=5).collect()
    h = engine.search_products(
        "kindle reading light", mode="hybrid", alpha=1.0, k=5
    ).collect()
    assert [r["id"] for r in v] == [r["id"] for r in h]


def test_hybrid_blend_changes_order_or_scores(engine):
    h = engine.search_products(
        "kindle reading light", mode="hybrid", alpha=0.7, k=5
    ).collect()
    assert len(h) == 5
    assert all(-1.001 <= r["score"] <= 1.001 for r in h)


def test_compare_products_matrix(engine, ref_fixture):
    pids = list(ref_fixture.ids[:3])
    out = engine.compare_products(pids).collect()
    assert len(out) == 9
    m = {(r["id_a"], r["id_b"]): r["score"] for r in out}
    for p in pids:
        assert abs(m[(p, p)] - 1.0) < 1e-4  # unit vectors -> diagonal 1
    for a in pids:
        for b in pids:
            assert abs(m[(a, b)] - m[(b, a)]) < 1e-6  # symmetry


def test_ann_side_by_side_full_probe_equals_exact(engine):
    nlist = math.isqrt(engine.review_emb.count())  # the index's ⌊√n⌋ lists
    exact, ivf = engine.ann_review_search(7, k=5, nprobe=nlist)
    e = [(r["neighbor_id"], r["score"]) for r in exact.collect()]
    i = [(r["neighbor_id"], r["score"]) for r in ivf.collect()]
    assert e == i  # probing every list degenerates to exact search


def test_hybrid_plan_ranks_after_selection(engine):
    """The blend path must not route O(N) candidate rows through a
    single-partition rank window. The plan selects top-k first
    (TakeOrderedAndProject) and the only Window sits above it, seeing k
    rows."""
    import contextlib
    import io

    df = engine.search_products("kindle reading light", mode="hybrid", alpha=0.7, k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # The rank window's direct child is the top-k selection, so it only
    # ever sees k rows. (Ingest lineage mints review_idx with its own
    # windows — those are upstream of the cached corpus, not the blend.)
    import re

    assert re.search(
        r"Window \(\d+\)\n\s*:?\s*\+\- TakeOrderedAndProject \(\d+\)", plan
    ), plan
