"""Unit + metamorphic tests for text analysis and dedup operators.

The cross-engine value checks live in the driver oracle (tools/
oracle_check.py); these tests pin the *semantics* on hand-built rows where
the right answer is obvious.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.functions.textprof import profile_docs_py
from vector_database_product_recommendation_spark.operators import dedup
from vector_database_product_recommendation_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_table,
    ngram_jaccard_pairs,
    shingle_postings,
    simhash_pairs,
    simhash_signatures,
    winnow_fingerprints_df,
)
from vector_database_product_recommendation_spark.sources.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_token_counts(spark):
    df = _docs(spark, [(1, "Hello,  world! x"), (2, ""), (3, "   ")])
    prof = {
        r["doc_id"]: (r["n_tokens"], r["n_tokens_re"])
        for r in profile_docs_py(df, ("n_tokens", "n_tokens_re")).collect()
    }
    # "hello," "world!" "x" -> 3 ws tokens; regex: hello , world ! x -> 5
    assert prof == {1: (3, 5), 2: (0, 0), 3: (0, 0)}


def test_lang_id_markers(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog of it"),
            (2, "der hund und die katze ist"),
            (3, "le chat et la maison est"),
            (4, "xyzzy qwerty"),
        ],
    )
    out = {r["doc_id"]: r["lang"] for r in profile_docs_py(df, ("lang",)).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_order_invariant(spark):
    df = _docs(spark, [(1, "b a c a"), (2, "a b c"), (3, "a b d")])
    out = {r["doc_id"]: r["fingerprint"] for r in profile_docs_py(df, ("fingerprint",)).collect()}
    assert out[1] == out[2]  # same distinct token set
    assert out[1] != out[3]


def test_quality_score_range(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over a lazy dog today ok"), (2, "x")])
    out = {r["doc_id"]: r["quality"] for r in profile_docs_py(df, ("quality",)).collect()}
    assert out[1] == 1.0
    assert 0.0 <= out[2] < 1.0


def test_word_shingles_short_doc(spark):
    df = _docs(spark, [(1, "a b"), (2, "a b c d")])
    out = {r["doc_id"]: sorted(r["shingles"]) for r in dedup._doc_shingles_py(df).collect()}
    assert out[1] == ["a b"]  # shorter than n -> whole text
    assert out[2] == ["a b c", "b c d"]


def test_hash60_positive_and_stable():
    """The 60-bit md5 hash of the dedup kernels equals the DuckDB oracles'
    ``_h60`` fragment, and stays positive in a signed int64."""
    import duckdb

    from vector_database_product_recommendation_spark.registry import _h60

    expect = 46699026325707782
    assert dedup._md5_60("7|foo bar baz") == expect
    assert duckdb.sql(f"SELECT {_h60(repr('7|foo bar baz'))}").fetchone()[0] == expect


def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(df).collect()}
    assert out == {1: 2, 3: 1}


def test_near_dup_family_finds_planted_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, base + "lambda"),  # near-dup of 1
        (3, "totally different words entirely unrelated content here now"),
    ]
    df = _docs(spark, rows)
    jac = ngram_jaccard_pairs(shingle_postings(df))
    assert [(r["id_a"], r["id_b"]) for r in jac.collect()] == [(1, 2)]
    lsh = minhash_lsh_pairs(minhash_table(df))
    assert [(r["id_a"], r["id_b"]) for r in lsh.collect()] == [(1, 2)]


def test_simhash_pairs_identical_docs_blocked_join(spark):
    # identical docs -> hamming 0, must be found through the chunk blocking;
    # an unrelated doc must not pair up. (A one-token edit on a short doc
    # legitimately flips ~5-8 of 60 bits, so near-dup recall at a small
    # MAX_HAMMING is only meaningful on longer documents — covered by the
    # sf0.01 oracle check with its planted near-dups.)
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "totally different words entirely unrelated content here now"),
        ],
    )
    out = [(r["id_a"], r["id_b"], r["hamming"]) for r in simhash_pairs(simhash_signatures(df)).collect()]
    assert out == [(1, 2, 0)]


def test_simhash_identical_docs_same_sig(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "q r s t u")])
    out = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(0 <= v < (1 << 60) for v in out.values())


def test_embedding_near_dup(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = embedding_near_dup(emb).collect()
    assert [(r["id_a"], r["id_b"], r["score"]) for r in out] == [(1, 2, 1.0)]


def test_embedding_lsh_blocked_matches_exact_on_planted_dups(spark, monkeypatch):
    import numpy as np

    from vector_database_product_recommendation_spark.operators.dedup import (
        embedding_band_signatures,
        embedding_near_dup_lsh,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
        if i % 4 == 0:  # plant a near-duplicate of every 4th vector
            w = v + rng.normal(scale=0.02, size=64)
            w /= np.linalg.norm(w)
            rows.append((1000 + i, w.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # SRP recall is ~0.99 at near-dup cosine, ~0.5 at the registry's 0.4
    monkeypatch.setattr(dedup, "COSINE_THRESHOLD", 0.95)
    exact = {(r["id_a"], r["id_b"]) for r in embedding_near_dup(emb).collect()}
    banded = embedding_band_signatures(emb)
    lsh = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_lsh(emb, banded).collect()}
    assert lsh <= exact                      # precision exact by construction
    assert len(exact) >= 10
    assert len(lsh) / len(exact) >= 0.9      # SRP recall at near-dup cosine


def test_text_functions_property_fuzz(spark):
    """Property fuzz (hypothesis): for arbitrary printable strings, the
    profile kernel's token count and fingerprint agree with their
    plain-Python definitions and its quality stays in range."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    texts_acc = []

    @settings(max_examples=60, deadline=None)
    @given(st.text(alphabet=st.characters(codec="ascii", exclude_categories=("Cc",)), max_size=80))
    def collect(t):
        texts_acc.append(t)

    collect()
    rows = [(i, t) for i, t in enumerate(texts_acc)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = profile_docs_py(df, ("n_tokens", "quality", "fingerprint")).collect()
    by_id = {r["doc_id"]: r for r in out}
    for i, t in rows:
        r = by_id[i]
        assert r["n_tokens"] == len(t.lower().split())
        assert 0.0 <= r["quality"] <= 1.0
        import hashlib as _h

        expect = _h.md5(" ".join(sorted(set(t.lower().split()))).encode()).hexdigest()
        assert r["fingerprint"] == expect


def test_corpus_prep_funnel_monotone(spark, sf_dir):
    from vector_database_product_recommendation_spark.operators.corpus import corpus_prep_pipeline

    rows = {r["stage"]: r for r in corpus_prep_pipeline(spark, sf_dir).collect()}
    assert set(rows) == {"raw", "lang_quality_gate", "fingerprint_dedup"}
    assert rows["raw"]["n_docs"] >= rows["lang_quality_gate"]["n_docs"] >= rows["fingerprint_dedup"]["n_docs"]
    assert rows["fingerprint_dedup"]["n_docs"] > 0
    assert rows["raw"]["total_tokens"] >= rows["lang_quality_gate"]["total_tokens"]


def test_winnowing_shared_run_guarantee(spark):
    """Schleimer et al. guarantee: two documents sharing a token run of
    length >= w + k - 1 (= 8 for k=4, w=5) share at least one
    fingerprint; disjoint-vocabulary documents share none."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, f"intro words here {shared} closing remarks"),
        (1, f"{shared} completely different tail content"),
        (2, "unrelated vocabulary entirely separate tokens nine ten eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints_df(docs).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1]  # shared run -> shared fingerprint
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnowing_short_doc_fingerprint(spark):
    docs = spark.createDataFrame(
        [(0, "one two three"), (1, "one two three")], "doc_id long, text string"
    )
    fp = winnow_fingerprints_df(docs).collect()
    assert len(fp) == 2  # one whole-stream fingerprint each
    assert fp[0]["fp"] == fp[1]["fp"]


def test_connected_components_transitive(spark):
    from vector_database_product_recommendation_spark.operators.dedup import connected_components

    # chain 1-2, 2-3 plus isolated 4: {1,2,3} share min-label 1, 4 stays alone
    verts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: r["component_id"] for r in connected_components(verts, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_labels_no_edge_without_a_job(jobs_run_by, spark):
    """With no edge the driver path's label table is empty. As a
    ``lifetime.local_frame`` it costs no job: the call runs the edge
    transfer and the vertex scan, and nothing more."""
    from vector_database_product_recommendation_spark.lifetime import collect_bounded

    verts = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    floor = jobs_run_by(
        lambda: (collect_bounded(edges, 1, what=None), verts.collect()), "cc-no-edge-floor"
    )
    out = []

    def labels():
        out.extend(dedup.connected_components(verts, edges).collect())

    assert jobs_run_by(labels, "cc-no-edge") == floor
    assert {r["doc_id"]: r["component_id"] for r in out} == {i: i for i in range(5)}


def test_connected_components_raises_past_the_round_budget(spark, monkeypatch):
    """A path graph needs one min-label round per hop: with a one-round
    budget the distributed loop (forced by an edge bound of 0) has not
    converged, and the operator raises instead of returning wrong
    components."""
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], "id_a long, id_b long")
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="CC_MAX_ITER=1"):
        dedup.connected_components(verts, edges)


def test_connected_components_frees_superseded_round_checkpoints(spark, monkeypatch):
    """The distributed loop (forced by an edge bound of 0) checkpoints
    every round; a 9-hop path takes ten of them. Each call leaves at most
    one new storage entry: the final labels its lazy result reads."""
    verts = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], "id_a long, id_b long")
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)

    def stored() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    for _ in range(3):
        before = stored()
        out = dedup.connected_components(verts, edges).collect()
        assert {r["component_id"] for r in out} == {1}
        assert stored() - before <= 1


@pytest.mark.parametrize("bound", ["driver", "distributed"])
def test_connected_components_computes_the_edges_once(spark, monkeypatch, bound):
    """Each edge row is computed once on either path: the transfer that
    decides the path fills the cache the distributed loop then reads, so
    an over-bound graph does not run its pair join twice."""
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    verts = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    edges = (
        spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long")
        .repartition(4)
        .mapInPandas(counted, "id_a long, id_b long")
    )
    if bound == "distributed":
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    out = dedup.connected_components(verts, edges).collect()
    assert len(out) == 60
    assert seen.value == 20


def _union_find_labels(vertices: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """The oracle: a plain union-find, each vertex labeled with the
    smallest id of its component."""
    parent = {v: v for v in vertices}

    def root(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: root(v) for v in vertices}


def _random_graph(seed: int, n: int, n_edges: int) -> tuple[list[int], list[tuple[int, int]]]:
    """Sparse ids and random edges among them, with duplicate and reversed
    copies of some edges mixed in."""
    rng = np.random.default_rng(seed)
    ids = sorted(int(v) for v in rng.choice(10 * n, size=n, replace=False))
    edges = [tuple(int(v) for v in rng.choice(ids, size=2, replace=False)) for _ in range(n_edges)]
    extra = [edges[i] for i in rng.integers(0, len(edges), size=n_edges // 3)] if edges else []
    edges += extra + [(b, a) for a, b in extra]
    return ids, [edges[i] for i in rng.permutation(len(edges))]


CC_CASES = {
    # mostly isolated vertices beside a few components
    "sparse": _random_graph(1, 40, 12),
    "zero_edges": (_random_graph(2, 10, 0)[0], []),
    "dense": _random_graph(3, 30, 45),
    # one hop per round: 9 hops against a planted 3-round budget
    "long_path": ([7 * i for i in range(10, 0, -1)], [(7 * i, 7 * (i + 1)) for i in range(1, 10)] + [(99, 100)]),
}


@pytest.mark.parametrize("case", sorted(CC_CASES))
def test_connected_components_both_paths_match_union_find(spark, monkeypatch, case):
    """The driver path (edges within ``CC_DRIVER_MAX_EDGES``) equals a
    plain union-find on every graph; the distributed path, forced by an
    edge bound of 0, equals it wherever it converges within the round
    budget (the default's 25 rounds for the random graphs), and raises
    on the path that is longer than its planted budget."""
    verts, edges = CC_CASES[case]
    if case == "long_path":
        verts = verts + [99, 100]
    want = _union_find_labels(verts, edges)
    vdf = spark.createDataFrame([(v,) for v in verts], "doc_id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    if case == "long_path":
        monkeypatch.setattr(dedup, "CC_MAX_ITER", 3)

    def labels():
        out = dedup.connected_components(vdf, edf).collect()
        assert len(out) == len(verts)
        return {r["doc_id"]: r["component_id"] for r in out}

    assert labels() == want
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    if case == "long_path":
        with pytest.raises(RuntimeError, match="CC_MAX_ITER=3"):
            labels()
    else:
        assert labels() == want


def test_dedup_components_keeps_min_id(spark):
    from vector_database_product_recommendation_spark.operators.dedup import dedup_components

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),
        (11, base + " lambda"),          # near-dup of 10
        (12, base + " lambda mu"),       # near-dup of 11 (chains to 10)
        (20, "totally different words one two three four five six seven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["component_id"], r["is_kept"]) for r in dedup_components(docs, shingle_postings(docs)).collect()}
    assert out[10] == (10, True)
    assert out[11][0] == 10 and out[11][1] is False
    assert out[12][0] == 10 and out[12][1] is False
    assert out[20] == (20, True)


def test_repetition_signals_extremes(spark):
    from vector_database_product_recommendation_spark.operators.quality import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # fully repetitive
            (2, "one two three four"),            # fully unique
            (3, "solo"),                          # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert got[1]["top_token_frac"] == 1.0 and got[1]["dup_bigram_frac"] == 1.0
    assert got[1]["unique_token_ratio"] == 0.25
    assert got[2]["top_token_frac"] == 0.25 and got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["unique_token_ratio"] == 1.0
    assert got[3]["n_tokens"] == 1 and got[3]["dup_bigram_frac"] == 0.0


def test_embedding_near_dup_guard_raises_beyond_max_rows(spark, monkeypatch):
    """The exact all-pairs path collects the corpus to the driver — it must
    refuse large inputs and point to the LSH scale path."""
    emb = spark.range(6).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    monkeypatch.setattr(dedup, "NEAR_DUP_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="embedding_near_dup_lsh"):
        embedding_near_dup(emb)
    # at or under the cap it still runs
    monkeypatch.setattr(dedup, "NEAR_DUP_MAX_ROWS", 6)
    assert embedding_near_dup(emb).count() > 0


def test_embedding_lsh_bucket_over_the_bound_raises(spark, monkeypatch):
    """A band bucket of the LSH path holds at most NEAR_DUP_MAX_ROWS rows:
    a larger one raises a ValueError naming the bound and the operator,
    checked in the bucket's task before its matrix is stacked."""
    from pyspark.errors import PythonException

    from vector_database_product_recommendation_spark.operators.dedup import (
        embedding_band_signatures,
        embedding_near_dup_lsh,
    )

    # six copies of one vector: every band puts all six in one bucket
    emb = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.6), F.lit(0.8), F.lit(0.0), F.lit(0.0)).alias("embedding"),
    )
    banded = embedding_band_signatures(emb).cache()
    monkeypatch.setattr(dedup, "NEAR_DUP_MAX_ROWS", 5)
    with pytest.raises(PythonException, match=r"ValueError.*embedding_near_dup_lsh.*NEAR_DUP_MAX_ROWS = 5"):
        embedding_near_dup_lsh(emb, banded).collect()
    # at the bound the bucket is verified: all 15 pairs, once each
    monkeypatch.setattr(dedup, "NEAR_DUP_MAX_ROWS", 6)
    assert embedding_near_dup_lsh(emb, banded).count() == 15
    banded.unpersist()
