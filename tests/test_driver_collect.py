"""The one bounded driver transfer (``lifetime.collect_bounded``) and the
sites that read through it: the bound is the transfer's own row limit,
it costs no job beyond a plain collect, and a site with no fallback
raises a ValueError naming its bound constant."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from vector_database_product_recommendation_spark.lifetime import collect_bounded
from vector_database_product_recommendation_spark.operators import dedup, ivf, knn
from vector_database_product_recommendation_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _queries(emb, n=4):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_within_the_bound_rows_arrive_as_arrays(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    pdf = collect_bounded(emb.select("vec_id", "embedding"), n, what="x")
    assert len(pdf) == n and list(pdf.columns) == ["vec_id", "embedding"]
    assert isinstance(pdf["embedding"].iloc[0], np.ndarray)
    assert collect_bounded(emb, n - 1, what=None) is None
    with pytest.raises(ValueError, match=f"BOUND_NAME: more than {n - 1} rows"):
        collect_bounded(emb, n - 1, what="BOUND_NAME")


def test_an_empty_frame_is_an_empty_result(spark):
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 0)
    for bound in (0, 5):
        pdf = collect_bounded(emb.select("vec_id", "embedding"), bound, what=None)
        assert pdf is not None and pdf.empty
        assert list(pdf.columns) == ["vec_id", "embedding"]


@pytest.mark.parametrize("shape", ["scan", "sort", "aggregate", "join"])
def test_no_more_jobs_than_a_plain_collect(spark, jobs_run_by, shape):
    """The limit is planned as one collect-limit stage, not as
    executeTake's scale-up rounds over the partitions."""

    def frame():
        docs = load_table(spark, SF_DIR, "documents")
        return {
            "scan": lambda: docs.select("doc_id"),
            "sort": lambda: docs.orderBy(F.desc("doc_id")).select("doc_id"),
            "aggregate": lambda: docs.groupBy(F.col("doc_id") % 7).count(),
            "join": lambda: docs.alias("a").join(docs.alias("b"), "doc_id").select("doc_id"),
        }[shape]().repartition(8)

    frame().collect()  # warm: the schema and the Python side
    plain = jobs_run_by(lambda: frame().collect(), f"plain-{shape}")
    n = len(frame().collect())
    bounded = jobs_run_by(lambda: collect_bounded(frame(), n, what="x"), f"bounded-{shape}")
    assert bounded <= plain, (bounded, plain)


def test_sites_without_a_fallback_raise_naming_their_bound(spark, monkeypatch):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = _queries(emb)
    cents, assigned = ivf.build_ivf_index(emb)
    cases = {
        "QUERY_BATCH_MAX_ROWS": (knn, lambda: knn.exact_knn(emb, q, 3)),
        "MAX_CENTROIDS": (ivf, lambda: ivf.ivf_knn(assigned, cents, q, 3, nprobe=2)),
        "NEAR_DUP_MAX_ROWS": (dedup, lambda: dedup.embedding_near_dup(emb)),
    }
    for name, (module, call) in cases.items():
        with monkeypatch.context() as mp:
            mp.setattr(module, name, 0)
            with pytest.raises(ValueError, match=name):
                call()
        call()  # the bound restored, the same call runs
