"""IVF / free-text metamorphic tests (SURVEY.md section 5.2-5.3).

The exactness anchor: IVF with nprobe == nlist scans every inverted list,
so it must return EXACTLY the exact-KNN result (same ids, same scores,
same ranks) — the reference's own ground-truth construction.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.functions.embed import (
    encode_documents,
    hash_embed_py,
)
from vector_database_product_recommendation_spark.operators import ivf
from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff
from vector_database_product_recommendation_spark.operators.ivf import (
    assign_clusters,
    build_ivf_index,
    collect_centroids,
    ivf_knn,
    read_ivf_store,
    train_kmeans_centroids,
    write_ivf_store,
)
from vector_database_product_recommendation_spark.operators.knn import (
    QueryBatch,
    collect_queries,
    exact_knn,
)
from vector_database_product_recommendation_spark.sources.tables import load_table

NLIST = 7


@pytest.fixture(scope="module", autouse=True)
def fixed_nlist():
    """Every index here has NLIST lists, whatever the corpus size, so a
    probe of 2 lists is a partial probe and one of NLIST a full one."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ivf, "_nlist", lambda n: NLIST)
        yield


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def ivf_parts(emb):
    cents = train_kmeans_centroids(emb)
    assigned = assign_clusters(emb, cents).cache()
    return cents, assigned


def _queries(emb, n=6) -> QueryBatch:
    return collect_queries(emb, F.col("vec_id") < n)


def test_ivf_full_probe_equals_exact(emb, ivf_parts):
    cents, assigned = ivf_parts
    q = _queries(emb)
    exact = exact_knn(emb, q, 5).collect()
    full = ivf_knn(assigned, collect_centroids(cents), q, 5, nprobe=NLIST).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in exact]


def test_ivf_partial_probe_subset_of_corpus_and_sane(emb, ivf_parts):
    cents, assigned = ivf_parts
    q = _queries(emb)
    part = ivf_knn(assigned, collect_centroids(cents), q, 5, nprobe=2)
    rows = part.collect()
    assert len(rows) == 6 * 5
    assert all(-1.0001 <= r["score"] <= 1.0001 for r in rows)
    # recall vs exact should be decent even at nprobe=2
    exact = exact_knn(emb, q, 5)
    hit = part.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    assert hit / (6 * 5) >= 0.3


def test_assign_clusters_covers_corpus(emb, ivf_parts):
    _, assigned = ivf_parts
    assert assigned.count() == emb.count()
    n_clusters = assigned.select("cluster_id").distinct().count()
    assert 1 < n_clusters <= NLIST


def test_train_on_empty_corpus_names_it(emb):
    with pytest.raises(ValueError, match="empty corpus"):
        train_kmeans_centroids(emb.limit(0))


def test_build_checks_max_centroids_before_training(emb, monkeypatch):
    """More lists than ivf.MAX_CENTROIDS raise before either trainer runs."""
    calls = []
    for name in ("_lloyd", "_mllib_centroids"):
        real = getattr(ivf, name)

        def spy(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(ivf, name, spy)
    monkeypatch.setattr(ivf, "MAX_CENTROIDS", 2)
    assert emb.count() >= 9
    with pytest.raises(ValueError, match="MAX_CENTROIDS"):
        build_ivf_index(emb)
    assert calls == []


def test_mllib_fallback_past_the_byte_budget(emb, monkeypatch):
    """A sample past the driver byte budget trains with MLlib KMeans."""
    monkeypatch.setattr(ivf, "MAX_TRAIN_BYTES", 1)
    rows = train_kmeans_centroids(emb).orderBy("cluster_id").collect()
    d = len(emb.first()["embedding"])
    assert [r["cluster_id"] for r in rows] == list(range(NLIST))
    assert all(len(r["centroid"]) == d for r in rows)


def test_ann_tradeoff_shape_and_monotonicity(emb):
    index = build_ivf_index(emb)
    rows = ann_tradeoff(emb, index, n_queries=8, k=5, nprobes=(1, NLIST)).collect()
    assert [r["nprobe"] for r in rows] == [1, NLIST]
    for r in rows:
        assert 0.0 <= r["precision_at_k"] <= 1.0
        assert 0.0 <= r["mrr"] <= 1.0
    # full probe == exact -> perfect precision and MRR
    assert rows[-1]["precision_at_k"] == 1.0
    assert rows[-1]["mrr"] == 1.0
    assert rows[0]["precision_at_k"] <= rows[-1]["precision_at_k"]


def test_ann_tradeoff_scores_the_kernels_hit_lists(emb, ivf_parts):
    """At nprobe=1 some queries miss exact neighbours. The sweep's
    precision and MRR are still those of exact_knn's and ivf_knn's own
    hit lists, recomputed here in numpy: |ivf ∩ exact| / k and 1/rank of
    the exact top-1 in the IVF list, averaged over the queries."""
    n_q, k = 8, 5
    cents, assigned = ivf_parts
    q = _queries(emb, n_q)
    exact = exact_knn(emb, q, k, exclude_self=True).toPandas()
    ivf = ivf_knn(assigned, collect_centroids(cents), q, k, 1, exclude_self=True).toPandas()
    precision, rr = [], []
    for qid in range(n_q):
        e = exact[exact.query_id == qid].sort_values("rank").neighbor_id.to_numpy()
        i = ivf[ivf.query_id == qid].sort_values("rank").neighbor_id.to_numpy()
        precision.append(np.isin(i, e).sum() / k)
        at = np.flatnonzero(i == e[0])
        rr.append(1.0 / (at[0] + 1) if len(at) else 0.0)
    assert min(precision) < 1.0

    (row,) = ann_tradeoff(emb, ivf_parts, n_queries=n_q, k=k, nprobes=(1,)).collect()
    assert row["queries_used"] == n_q
    assert row["precision_at_k"] == pytest.approx(np.mean(precision), abs=1e-6)
    assert row["mrr"] == pytest.approx(np.mean(rr), abs=1e-6)


def test_ann_tradeoff_persists_nothing(emb, ivf_parts, monkeypatch):
    """The sweep collects its hit lists and scores them on the driver: it
    caches no frame of its own."""

    def refuse(self, *a, **kw):
        raise AssertionError("ann_tradeoff cached a frame")

    monkeypatch.setattr(type(emb), "persist", refuse)
    monkeypatch.setattr(type(emb), "cache", refuse)
    rows = ann_tradeoff(emb, ivf_parts, n_queries=8, k=5, nprobes=(1, NLIST)).collect()
    assert [r["nprobe"] for r in rows] == [1, NLIST]


def test_ann_tradeoff_table_collects_without_a_job(jobs_run_by, emb, ivf_parts):
    """The sweep's rows are scored on the driver and returned as a
    ``lifetime.local_frame``: collecting the table runs no job."""
    table = ann_tradeoff(emb, ivf_parts, n_queries=8, k=5, nprobes=(1, NLIST))
    assert jobs_run_by(table.collect, "ann-tradeoff-table") == 0
    assert [r["nprobe"] for r in table.collect()] == [1, NLIST]


def test_free_text_self_retrieval(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    qtext = docs.filter(F.col("doc_id") == 5).select("text").first()[0]
    # E1's vector path: encode the corpus, embed the query, exact KNN
    q = QueryBatch(np.array([0]), np.array([hash_embed_py(qtext)]), "bigint")
    top = exact_knn(encode_documents(docs), q, 3).collect()
    assert top[0]["neighbor_id"] == 5
    assert abs(top[0]["score"] - 1.0) < 1e-4


def test_ann_tradeoff_exact_at_full_probe(spark, sf_dir):
    """nprobe == nlist scans every inverted list, so the harness must
    report precision == MRR == 1.0 — the eval-harness self-consistency
    pin (the reference's own ground-truth discipline, SURVEY.md §5)."""
    from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff
    from vector_database_product_recommendation_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = {
        r["nprobe"]: r
        for r in ann_tradeoff(
            emb, build_ivf_index(emb), n_queries=16, k=5, nprobes=(1, NLIST)
        ).collect()
    }
    assert out[NLIST]["precision_at_k"] == 1.0
    assert out[NLIST]["mrr"] == 1.0
    assert out[1]["precision_at_k"] <= 1.0


def test_ivf_task_holding_only_the_query_row(spark):
    """exclude_self where the probed cluster's task holds only the query
    row: the task keeps no candidate and must emit nothing, not fail."""
    vecs = [[1.0, 0.0], [0.8, 0.6], [0.0, 1.0]]
    sc = spark.sparkContext
    assigned = sc.parallelize([(i, v, i) for i, v in enumerate(vecs)], 3).toDF(
        "vec_id long, embedding array<double>, cluster_id int"
    )
    cents = (np.arange(3), np.array(vecs))
    q = collect_queries(assigned, F.col("vec_id") == 0)
    assert ivf_knn(assigned, cents, q, 2, nprobe=1, exclude_self=True).collect() == []
    two = ivf_knn(assigned, cents, q, 2, nprobe=2, exclude_self=True).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in two] == [(1, 1)]


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ivf_knn_single_partition_elides_merge_window(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").coalesce(1)
    cents = train_kmeans_centroids(emb)
    assigned = assign_clusters(emb, cents)
    plan = plan_of(ivf_knn(assigned, collect_centroids(cents), _queries(emb), 5, nprobe=2))
    # kernel emits task-local ranks; a one-task pool needs no merge window
    assert "hashpartitioning" not in plan, plan
    assert "Window" not in plan.replace("WindowGroupLimit", ""), plan


def test_ivf_knn_multi_partition_matches_single(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_kmeans_centroids(emb)
    one = assign_clusters(emb.coalesce(1), cents)
    many = assign_clusters(emb.repartition(7), cents)
    centroids, q = collect_centroids(cents), _queries(emb)
    a = ivf_knn(one, centroids, q, 5, nprobe=3).collect()
    b = ivf_knn(many, centroids, q, 5, nprobe=3).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ivf_knn_store_probe_statically_pruned(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_kmeans_centroids(emb)
    assigned = assign_clusters(emb, cents)
    path = str(tmp_path / "store")
    write_ivf_store(assigned, path)
    store = read_ivf_store(spark, path)
    plan = plan_of(ivf_knn(store, collect_centroids(cents), _queries(emb), 5, nprobe=2))
    # the isin cluster filter must reach the store scan as partition pruning
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "cluster_id" in pf_line, plan
