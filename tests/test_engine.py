"""The serving facade (api.ProductSearchEngine) end to end on a small
seeded catalog in the reference's on-disk layout (conftest.ref_fixture),
checked against numpy: E1 vector and filtered search, E2 item-to-item,
J5 compare, hybrid(alpha=1) == vector ranking, filtered hybrid(alpha=0.7)
against a numpy TF-IDF blend and the E3 side-by-side at full probe. The
default engine serves from driver arrays; a second one, its array bound
at 0, takes the Spark path, and both must give the oracle's rows and the
same schema. The E3 and AN5 demos share one review index per engine."""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.embed import hash_embed_py
from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN

K = 4
TOL = 2e-6  # both sides round scores to 6 decimals


@pytest.fixture(scope="module")
def engine(spark, ref_fixture):
    from vector_database_product_recommendation_spark.api import ProductSearchEngine

    return ProductSearchEngine.from_reference_dir(spark, ref_fixture.ref_dir)


@pytest.fixture(scope="module")
def spark_engine(spark, ref_fixture):
    """The same catalog over the driver-array bound: every request takes
    the Spark path."""
    from vector_database_product_recommendation_spark import api

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(api, "DRIVER_CATALOG_MAX_BYTES", 0)
        return api.ProductSearchEngine.from_reference_dir(spark, ref_fixture.ref_dir)


def _oracle(fx, qv, mask, k=K):
    """Top-k (ids, scores) by (score desc, id asc) among ``mask``."""
    scores = np.round(fx.emb @ np.asarray(qv), 6)
    idx = np.flatnonzero(mask)
    order = idx[np.lexsort((fx.ids[idx], -scores[idx]))][:k]
    return list(fx.ids[order]), scores[order]


def _app_mask(fx, brand="All", min_rating=0.0, min_reviews=0):
    """The app's filters, nulls included: avg_rating compares as
    coalesce(avg, -1), so an all-null product fails even min_rating 0."""
    mask = np.nan_to_num(fx.avg_rating, nan=-1.0) >= min_rating
    mask &= fx.n_reviews >= min_reviews
    if brand != "All":
        mask &= np.char.lower(fx.brand.astype(str)) == brand.lower()
    return mask


def _assert_ranked(rows, ids, scores):
    assert [r["rank"] for r in rows] == list(range(1, len(ids) + 1))
    assert [r["id"] for r in rows] == ids
    assert np.allclose([r["score"] for r in rows], scores, atol=TOL)


def _assert_hits(fx, rows, ids, scores):
    """The oracle's ranking, each hit carrying its product's payload."""
    _assert_ranked(rows, ids, scores)
    pos = {p: i for i, p in enumerate(fx.ids)}
    for r in rows:
        i = pos[r["id"]]
        assert (r["brand"], r["n_reviews"]) == (fx.brand[i], fx.n_reviews[i])
        if np.isnan(fx.avg_rating[i]):
            assert r["avg_rating"] is None
        else:
            assert abs(r["avg_rating"] - fx.avg_rating[i]) < 1e-9


def _same_on_both_paths(engine, spark_engine, request) -> list:
    """The rows of ``request`` on the driver and the Spark path, which must
    agree in rows (rank, id, score, payload) and schema."""
    driver, spark_side = request(engine), request(spark_engine)
    assert driver.schema == spark_side.schema
    rows = driver.collect()
    assert rows == spark_side.collect()
    return rows


def test_embedding_dim_comes_from_the_npy(engine, ref_fixture):
    assert engine.embedding_dim == ref_fixture.emb.shape[1]


def test_vector_search_matches_numpy(engine, spark_engine, ref_fixture):
    text = "kindle reading light"
    rows = _same_on_both_paths(engine, spark_engine, lambda e: e.search_products(text, k=K))
    qv = hash_embed_py(text, ref_fixture.emb.shape[1])
    _assert_hits(ref_fixture, rows, *_oracle(ref_fixture, qv, _app_mask(ref_fixture)))


def test_filtered_search_matches_numpy(engine, spark_engine, ref_fixture):
    text = "tablet battery charger"
    f = {"brand": "AmAzOn", "min_rating": 3.0, "min_reviews": 3}
    mask = _app_mask(ref_fixture, **f)
    assert 1 < mask.sum() < len(mask) - 1  # the filters really bite
    rows = _same_on_both_paths(engine, spark_engine, lambda e: e.search_products(text, k=K, **f))
    qv = hash_embed_py(text, ref_fixture.emb.shape[1])
    _assert_hits(ref_fixture, rows, *_oracle(ref_fixture, qv, mask))


# filters and k at the edges of the candidate set: (text, filters, k)
EDGE_SEARCHES = {
    "min_rating_-1": ("fire tablet", {"min_rating": -1.0}, 12),  # every product
    "k_over_candidates": ("speaker sound music", {"brand": "moshi"}, 50),
    "no_candidate": ("speaker sound music", {"brand": "no-such-brand"}, K),
}


@pytest.mark.parametrize("case", list(EDGE_SEARCHES))
def test_edge_searches_match_numpy(engine, spark_engine, ref_fixture, case):
    """min_rating -1 admits the all-null-rating product (its avg_rating
    comes back null), a k over the candidate count returns them all and
    a filter nothing passes returns no row, with the hit schema."""
    fx = ref_fixture
    text, f, k = EDGE_SEARCHES[case]
    rows = _same_on_both_paths(engine, spark_engine, lambda e: e.search_products(text, k=k, **f))
    mask = _app_mask(fx, **f)
    _assert_hits(fx, rows, *_oracle(fx, hash_embed_py(text, fx.emb.shape[1]), mask, k))
    if case == "min_rating_-1":
        (null,) = fx.ids[np.isnan(fx.avg_rating)]  # the all-null-rating product
        assert null in {r["id"] for r in rows}
    elif case == "k_over_candidates":
        assert 0 < len(rows) == mask.sum() < k
    else:
        assert rows == []


def test_item_to_item_matches_numpy_and_skips_query(engine, spark_engine, ref_fixture):
    for i in (0, 5):
        pid = ref_fixture.ids[i]
        rows = _same_on_both_paths(
            engine, spark_engine, lambda e: e.search_by_product_id(pid, k=K)
        )
        assert pid not in {r["id"] for r in rows}
        mask = np.ones(len(ref_fixture.ids), dtype=bool)
        mask[i] = False
        _assert_hits(ref_fixture, rows, *_oracle(ref_fixture, ref_fixture.emb[i], mask))


def test_unknown_product_id_names_it(engine, spark_engine):
    for e in (engine, spark_engine):
        with pytest.raises(ValueError, match="NO-SUCH-ID"):
            e.search_by_product_id("NO-SUCH-ID", k=K)


def test_compare_is_symmetric_with_unit_diagonal(engine, spark_engine, ref_fixture):
    pids = [str(p) for p in ref_fixture.ids[[2, 7, 9]]]
    rows = _same_on_both_paths(engine, spark_engine, lambda e: e.compare_products(pids))
    got = {(r["id_a"], r["id_b"]): r["score"] for r in rows}
    assert len(got) == 9
    vecs = ref_fixture.emb[[2, 7, 9]]
    exp = np.round(vecs @ vecs.T, 6)
    for a, pa in enumerate(pids):
        assert abs(got[(pa, pa)] - 1.0) < TOL
        for b, pb in enumerate(pids):
            assert got[(pa, pb)] == got[(pb, pa)]
            assert abs(got[(pa, pb)] - exp[a, b]) < TOL


def test_compare_unknown_ids_names_them(engine, spark_engine, ref_fixture):
    real = str(ref_fixture.ids[1])
    for e in (engine, spark_engine):
        with pytest.raises(ValueError, match="NO-SUCH-ID") as err:
            e.compare_products([real, "NO-SUCH-ID", "ALSO-MISSING"])
        assert "ALSO-MISSING" in str(err.value) and real not in str(err.value)


def test_driver_replies_keep_nulls_and_wide_ids(jobs_run_by, spark, monkeypatch):
    """A driver-path reply is a ``lifetime.local_frame`` of its rows: a
    null ``n_reviews``, a null ``brand`` and ids past 2**53 come back
    exactly, and as the Spark path returns them, in one schema whether
    the catalog spans one partition (the scan's ranks) or three (the
    merge window's). A reply with no hit runs no job and keeps the Spark
    path's schema."""
    from vector_database_product_recommendation_spark import api

    big = 2**53 + 1
    rows = [
        (big, None, 3, 4.5, "kindle case", [1.0, 0.0, 0.0]),
        (big + 2, "Amazon", None, None, "echo speaker", [0.6, 0.8, 0.0]),
        (7, "Moshi", 2, 3.0, "kindle light", [0.0, 0.6, 0.8]),
    ]
    schema = (
        "id bigint, brand string, n_reviews bigint, avg_rating double, "
        "example_text string, embedding array<double>"
    )
    review_emb = spark.createDataFrame([], "review_idx int, embedding array<double>")

    def empty(e):
        return e.search_products("anything", k=K, brand="no-such-brand")

    for parts in (1, 3):
        catalog = spark.createDataFrame(rows, schema).repartition(parts)
        assert catalog.rdd.getNumPartitions() == parts
        engine = api.ProductSearchEngine(catalog, review_emb=review_emb)
        with monkeypatch.context() as m:
            m.setattr(api, "DRIVER_CATALOG_MAX_BYTES", 0)
            spark_engine = api.ProductSearchEngine(catalog, review_emb=review_emb)
        assert engine._driver is not None and spark_engine._driver is None

        got = _same_on_both_paths(engine, spark_engine, lambda e: e.search_by_product_id(big, k=2))
        assert [tuple(r) for r in got] == [
            (1, big + 2, 0.6, "Amazon", None, None),
            (2, 7, 0.0, "Moshi", 2, 3.0),
        ]
        got = _same_on_both_paths(engine, spark_engine, lambda e: e.compare_products([7, big]))
        assert [tuple(r) for r in got] == [(7, 7, 1.0), (7, big, 0.0), (big, 7, 0.0), (big, big, 1.0)]
        assert jobs_run_by(lambda: empty(engine).collect(), f"empty-reply-{parts}") == 0
        assert _same_on_both_paths(engine, spark_engine, empty) == []
        hybrid = spark_engine.search_products("kindle", k=K, mode="hybrid")
        assert hybrid.schema == empty(engine).schema


def test_ann_full_probe_equals_exact(engine):
    """E3: probing every IVF list degenerates to exact search, ids and
    scores alike."""
    nlist = math.isqrt(engine.review_emb.count())
    exact, ivf = engine.ann_review_search(11, k=K, nprobe=nlist)
    e = [(r["neighbor_id"], r["score"]) for r in exact.collect()]
    assert len(e) == K and 11 not in {n for n, _ in e}
    assert [(r["neighbor_id"], r["score"]) for r in ivf.collect()] == e


def test_ann_review_search_collects_its_query_once(jobs_run_by, engine):
    """E3 hands its one collected query row to both kernels, and the
    index's centroid rows, collected when the index was built, to the
    IVF kernel: a call on a built index runs that one collect job. An
    unknown ``q_idx`` raises ValueError naming it."""
    engine.ann_review_search(11, k=K, nprobe=2)  # builds the review index
    assert jobs_run_by(lambda: engine.ann_review_search(11, k=K, nprobe=2), "e3") == 1
    with pytest.raises(ValueError, match="review 987654321 is not in the corpus"):
        engine.ann_review_search(987654321, k=K)


def test_ann_tradeoff_table_derives_nlist(engine):
    """AN5 on the review corpus: the index has ⌊√n⌋ lists, and probing
    all of them gives precision == MRR == 1.0."""
    nlist = math.isqrt(engine.review_emb.count())
    rows = engine.ann_tradeoff_table(k=K, nprobes=(nlist,)).collect()
    cents, _ = engine._review_index()
    assert cents.count() == nlist
    assert [(r["nprobe"], r["precision_at_k"], r["mrr"]) for r in rows] == [(nlist, 1.0, 1.0)]


def test_review_index_is_trained_once_per_engine(engine, monkeypatch):
    """E3 and AN5 read one review index per engine, built on the first
    such call: two E3 calls and an AN5 call train k-means once, and
    nprobe = nlist still equals exact search."""
    from vector_database_product_recommendation_spark.api import ProductSearchEngine
    from vector_database_product_recommendation_spark.operators import ivf

    trained = []
    train = ivf.train_kmeans_centroids

    def spy(*a, **kw):
        trained.append(train(*a, **kw))
        return trained[-1]

    monkeypatch.setattr(ivf, "train_kmeans_centroids", spy)
    fresh = ProductSearchEngine(engine.catalog, review_emb=engine.review_emb)
    nlist = math.isqrt(engine.review_emb.count())
    for q_idx in (3, 11):
        exact, probed = fresh.ann_review_search(q_idx, k=K, nprobe=nlist)
        e = [(r["neighbor_id"], r["score"]) for r in exact.collect()]
        assert [(r["neighbor_id"], r["score"]) for r in probed.collect()] == e
    rows = fresh.ann_tradeoff_table(k=K, nprobes=(nlist,)).collect()
    assert [(r["precision_at_k"], r["mrr"]) for r in rows] == [(1.0, 1.0)]
    assert len(trained) == 1
    assert fresh._review_index() is fresh._review_index()


def test_hybrid_alpha1_ranks_like_vector(engine):
    text = "speaker sound music"
    v = engine.search_products(text, mode="vector", k=K).collect()
    h = engine.search_products(text, mode="hybrid", alpha=1.0, k=K).collect()
    assert [r["id"] for r in h] == [r["id"] for r in v]
    assert [r["score"] for r in h] == [r["score"] for r in v]


def _tfidf_cosine(docs: list[str], query: str) -> np.ndarray:
    """sklearn TfidfVectorizer(token_pattern=r"(?u)\\b\\w\\w+\\b",
    stop_words=STOPWORDS_EN, smooth_idf=True, norm="l2") fit on ``docs``:
    the cosine of ``query`` against each doc."""
    stop = set(STOPWORDS_EN)

    def tokens(t):
        return [w for w in re.findall(r"(?u)\b\w\w+\b", t.lower()) if w not in stop]

    vocab = sorted({w for d in docs for w in tokens(d)})
    col = {w: j for j, w in enumerate(vocab)}

    def counts(t):
        v = np.zeros(len(vocab))
        for w in tokens(t):
            if w in col:
                v[col[w]] += 1
        return v

    tf = np.stack([counts(d) for d in docs])
    idf = np.log((1 + len(docs)) / (1 + (tf > 0).sum(axis=0))) + 1
    w = tf * idf
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    q = counts(query) * idf
    return w @ (q / np.linalg.norm(q))


def test_hybrid_blend_matches_numpy_over_filtered_candidates(engine, ref_fixture):
    """The reference's hybrid (app.py:202-210): TF-IDF cosine fitted on the
    WHOLE catalog's example_text, min-max over the filtered candidates
    only, the dense side raw, then alpha*dense + (1-alpha)*scaled."""
    fx, text, alpha = ref_fixture, "battery charger", 0.7
    reviews = pd.read_csv(os.path.join(fx.ref_dir, "reviews.csv"))
    # a product's example_text is its first review's combined_text
    example = reviews.drop_duplicates("id").set_index("id").loc[fx.ids, "combined_text"]
    ts = _tfidf_cosine(list(example), text)
    mask = _app_mask(fx, brand="amazon")
    assert 1 < mask.sum() < len(mask) - 1  # the filter really bites
    idx = np.flatnonzero(mask)
    cand = ts[idx]
    mn, mx = cand.min(), cand.max()
    # the rescale branch runs, over bounds the whole catalog does not share
    assert mn < mx < ts.max()
    scaled = (cand - mn) / (mx - mn + 1e-12)
    vs = fx.emb[idx] @ np.asarray(hash_embed_py(text, fx.emb.shape[1]))
    scores = np.round(alpha * vs + (1 - alpha) * scaled, 6)
    order = np.lexsort((fx.ids[idx], -scores))[:K]
    rows = engine.search_products(text, mode="hybrid", alpha=alpha, brand="amazon", k=K).collect()
    _assert_ranked(rows, list(fx.ids[idx][order]), scores[order])


def test_serving_caches_right_sized_and_jobs_bounded(jobs_run_by, engine, spark_engine, ref_fixture):
    """Products and their vectors are one catalog table, sized by the
    shared rule (one partition per ~25k rows) and materialized at
    construction. Within the driver-array bound a vector, filtered, item
    or compare request runs no job. Over it, a search is one kernel pass
    over one cached partition that returns its hits with their payload:
    no join, no merge window, no collect of its own query vector."""
    for e in (engine, spark_engine):
        cached = {n for n, v in vars(e).items() if isinstance(v, DataFrame) and v.is_cached}
        assert cached == {"catalog", "review_emb"}
        assert e.catalog.rdd.getNumPartitions() == 1
        e.search_products("warm up", k=K).collect()
    pids = [str(p) for p in ref_fixture.ids[[3, 4, 8]]]
    requests = {
        "vector": (lambda e: e.search_products("fire tablet", k=K), 1),
        "filtered": (lambda e: e.search_products("fire tablet", k=K, brand="amazon", min_reviews=3), 1),
        "item": (lambda e: e.search_by_product_id(pids[0], k=K), 2),
        "compare": (lambda e: e.compare_products(pids), 1),
    }
    for label, (request, spark_bound) in requests.items():
        assert jobs_run_by(lambda: request(engine).collect(), label) == 0, label
        jobs = jobs_run_by(lambda: request(spark_engine).collect(), f"{label}-spark")
        assert jobs <= spark_bound, label


def test_over_the_bound_the_constructor_holds_no_arrays(engine, spark_engine, ref_fixture):
    """Within the bound the engine holds the catalog's float64 matrix;
    over it, the constructor collects nothing."""
    from vector_database_product_recommendation_spark.api import _DriverCatalog

    assert engine._driver.mat.shape == ref_fixture.emb.shape
    assert not [
        n for n, v in vars(spark_engine).items() if isinstance(v, (np.ndarray, _DriverCatalog))
    ]


def test_query_width_is_checked_before_any_spark_work(jobs_run_by, engine, spark_engine, monkeypatch):
    """A custom encoder of the wrong width fails with a ValueError naming
    both widths on either path and in either mode, running no job."""
    dim = engine.embedding_dim
    for path, e in (("driver", engine), ("spark", spark_engine)):
        monkeypatch.setattr(e, "encoder", lambda text: [0.0] * (dim + 1))
        for mode in ("vector", "hybrid"):

            def request():
                with pytest.raises(ValueError, match=rf"width {dim + 1}\b.* {dim}\b"):
                    e.search_products("fire tablet", k=K, mode=mode)

            assert jobs_run_by(request, f"width-{path}-{mode}") == 0


def test_custom_encoder_sets_the_query_vector(engine, spark_engine, ref_fixture, monkeypatch):
    """``encoder`` is a driver-side str -> floats function of the
    catalog's width: an engine built with a fake one scores vector search
    against the fake's vector, on the driver and on the Spark path."""
    from vector_database_product_recommendation_spark import api

    vec = np.random.default_rng(5).standard_normal(ref_fixture.emb.shape[1])
    vec /= np.linalg.norm(vec)
    texts = []

    def fake(text):
        texts.append(text)
        return vec.tolist()

    driver = api.ProductSearchEngine(engine.catalog, review_emb=engine.review_emb, encoder=fake)
    monkeypatch.setattr(api, "DRIVER_CATALOG_MAX_BYTES", 0)
    over = api.ProductSearchEngine(spark_engine.catalog, review_emb=spark_engine.review_emb, encoder=fake)
    assert driver._driver is not None and over._driver is None
    rows = _same_on_both_paths(driver, over, lambda e: e.search_products("fire tablet", k=K))
    _assert_hits(ref_fixture, rows, *_oracle(ref_fixture, vec, _app_mask(ref_fixture)))
    assert texts == ["fire tablet", "fire tablet"]


# requests under the reference's k and nprobe sliders, which start at 1:
# (request, the value its error names)
OUT_OF_RANGE = {
    "E1_k0": (lambda e, pid: e.search_products("fire tablet", k=0), "k must be at least 1, got 0"),
    "E1_hybrid_k0": (
        lambda e, pid: e.search_products("fire tablet", k=0, mode="hybrid"),
        "k must be at least 1, got 0",
    ),
    "E2_k0": (lambda e, pid: e.search_by_product_id(pid, k=0), "k must be at least 1, got 0"),
    "E3_k0": (lambda e, pid: e.ann_review_search(11, k=0), "k must be at least 1, got 0"),
    "E3_nprobe0": (
        lambda e, pid: e.ann_review_search(11, k=K, nprobe=0),
        "nprobe must be at least 1, got 0",
    ),
    "E3_nprobe-1": (
        lambda e, pid: e.ann_review_search(11, k=K, nprobe=-1),
        "nprobe must be at least 1, got -1",
    ),
}


@pytest.mark.parametrize("case", list(OUT_OF_RANGE))
def test_out_of_range_k_and_nprobe_raise_before_any_spark_work(
    jobs_run_by, engine, spark_engine, ref_fixture, case
):
    """A k or nprobe below 1 raises ValueError naming it on either path,
    running no job: not an empty reply, a failed task or a probe of all
    lists but one."""
    request, message = OUT_OF_RANGE[case]
    pid = str(ref_fixture.ids[0])
    for path, e in (("driver", engine), ("spark", spark_engine)):

        def call():
            with pytest.raises(ValueError, match=f"^{re.escape(message)}$"):
                request(e, pid)

        assert jobs_run_by(call, f"range-{case}-{path}") == 0


def test_reviews_split_over_part_files_mint_the_same_ids(spark, ref_fixture, tmp_path):
    """``load_reviews`` over the fixture's reviews.csv cut into two part
    files mints the single file's review_idx for every row; both frames
    come back on one partition (hash-partitioned into one partition per
    file for the per-file window, then right-sized)."""
    from vector_database_product_recommendation_spark.sources.reference import load_reviews

    src = pd.read_csv(f"{ref_fixture.ref_dir}/reviews.csv")
    for i, part in enumerate((src.iloc[:25], src.iloc[25:])):
        part.to_csv(tmp_path / f"part-{i:05d}.csv", index=False)

    def minted(path):
        df = load_reviews(spark, path)
        rows = df.orderBy("review_idx").select("review_idx", "id", "`reviews.title`").collect()
        return df.rdd.getNumPartitions(), [tuple(r) for r in rows]

    single = minted(f"{ref_fixture.ref_dir}/reviews.csv")
    assert minted(str(tmp_path)) == single
    assert single[0] == 1 and [r[0] for r in single[1]] == list(range(len(src)))
