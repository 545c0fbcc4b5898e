"""Session artifacts: one memo for every builder in artifacts.py, each
builder one call that builds its artifact whole, and one persist rule
(lifetime.persist_right_sized) for every cached table."""

from __future__ import annotations

import contextlib
import inspect
import io

import pytest
from conftest import optimized_nodes
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark import artifacts
from vector_database_product_recommendation_spark.lifetime import persist_right_sized
from vector_database_product_recommendation_spark.operators.tfidf import TfidfModel
from vector_database_product_recommendation_spark.registry import queries

BUILDERS = [b.__name__ for b in artifacts.BUILDERS]


def test_artifacts_has_ten_builders():
    """``BUILDERS`` holds every public function of the module, each once."""
    public = {
        name
        for name, fn in vars(artifacts).items()
        if inspect.isfunction(fn) and fn.__module__ == artifacts.__name__ and not name.startswith("_")
    }
    assert sorted(BUILDERS) == sorted(public)
    assert len(BUILDERS) == 10, BUILDERS


@pytest.mark.parametrize("name", BUILDERS)
def test_builder_second_call_is_the_same_object_with_no_job(spark, sf_dir, jobs_run_by, name):
    build = getattr(artifacts, name)
    first = build(spark, sf_dir)
    again = []
    assert jobs_run_by(lambda: again.append(build(spark, sf_dir)), f"memo-{name}") == 0
    assert again[0] is first


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _cached_rdds(spark) -> dict[int, int]:
    """{rdd id: materialized partitions} of every RDD holding cached
    blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.numCachedPartitions() for i in infos}


def _new_cached_rdds(spark, fn) -> list[int]:
    """The materialized partition counts of the RDDs ``fn`` leaves
    cached."""
    before = _cached_rdds(spark)
    fn()
    return [n for i, n in _cached_rdds(spark).items() if i not in before]


def _frames(artifact) -> list[DataFrame]:
    """The frames a reader of ``artifact`` reads: the frame itself, each
    frame of a tuple, and a fitted TF-IDF model's vocab, postings and
    weights."""
    if isinstance(artifact, DataFrame):
        return [artifact]
    if isinstance(artifact, tuple):
        return [f for a in artifact for f in _frames(a)]
    if isinstance(artifact, TfidfModel):
        return [artifact.vocab, artifact.postings, artifact.weights()]
    return []


@pytest.mark.parametrize("name", BUILDERS)
def test_builder_call_builds_its_artifact_whole(spark, sf_dir, name):
    """After one fresh builder call, reading every frame the artifact
    holds caches no new RDD: the call persisted and filled them all."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    artifacts._CACHE.pop(key, None)
    artifact = getattr(artifacts, name)(spark, sf_dir)
    frames = []

    def read():
        frames.extend(_frames(artifact))
        for f in frames:
            f.count()

    assert _new_cached_rdds(spark, read) == []
    assert frames, name


def test_capped_weights_cache_nothing(spark, sf_dir):
    """The capped-vocabulary weights are computed from the fitted model's
    cached vocab and postings: reading them caches no table."""
    full = artifacts.fitted_tfidf(spark, sf_dir)
    assert _new_cached_rdds(spark, lambda: full.capped_weights(7).count()) == []


@pytest.mark.parametrize("name", ["minhash_signatures", "simhash_signatures"])
def test_signature_queries_compute_in_their_own_call(spark, sf_dir, name):
    """With every artifact built, the signature queries still run their
    own kernel: no cached kernel output (the signature tables) stands in
    for them."""
    for build in artifacts.BUILDERS:
        build(spark, sf_dir)
    nodes = optimized_nodes(queries()[name](spark, sf_dir))
    assert "MapInPandas" in [n.nodeName() for n in nodes]
    cached = [n.cachedPlan().toString() for n in nodes if n.nodeName() == "InMemoryRelation"]
    assert not any("MapInPandas" in plan for plan in cached)


def test_wide_frame_is_coalesced_materialized_and_the_wide_copy_released(spark):
    df = spark.range(100).repartition(7).selectExpr("id", "id * 2 AS x")
    assert df.rdd.getNumPartitions() == 7
    got = []
    # one new cached table, filled, of one partition: the wide copy is gone
    assert _new_cached_rdds(spark, lambda: got.append(persist_right_sized(df))) == [1]
    (out,) = got
    assert out.is_cached and out.rdd.getNumPartitions() == 1
    assert not df.is_cached
    assert sorted(map(tuple, out.collect())) == [(i, 2 * i) for i in range(100)]
    out.unpersist()


def test_one_partition_frame_is_cached_declared_single(spark, jobs_run_by):
    """A frame already at one partition is cached once, under coalesce(1),
    and filled by one count: its plan then declares the single partition,
    so a sort over it adds no exchange."""

    def one_partition():
        return spark.range(100).selectExpr("id", "id + 1 AS y").coalesce(1).selectExpr("id", "y")

    df = one_partition()
    got, cached = [], []
    jobs = jobs_run_by(
        lambda: cached.extend(
            _new_cached_rdds(spark, lambda: got.append(persist_right_sized(df)))
        ),
        "rule-one-partition",
    )
    assert cached == [1]
    (out,) = got
    assert out.is_cached and out.rdd.getNumPartitions() == 1
    assert "Exchange" not in plan_of(out.orderBy("y"))
    assert sorted(map(tuple, out.collect())) == [(i, i + 1) for i in range(100)]
    out.unpersist(blocking=True)
    # the jobs of filling that one cache with one count: no second copy
    once = one_partition().coalesce(1).persist()
    assert jobs == jobs_run_by(once.count, "one-cache-one-count")
    once.unpersist()


def test_frame_narrower_than_its_rows_need_is_cached_as_is(spark):
    """60k rows want 3 partitions; a 2-partition frame is not coalesced
    (coalesce never widens) and its own cache is the artifact."""
    df = spark.range(60_000, numPartitions=2).selectExpr("id", "id % 7 AS z")
    got = []
    assert _new_cached_rdds(spark, lambda: got.append(persist_right_sized(df))) == [2]
    assert got[0] is df and df.is_cached
    assert df.count() == 60_000
    df.unpersist()
