"""Parity against the reference's artifacts: our operators applied to
reviews.csv must reproduce products.csv, combined_text, and
product_embeddings.npy — the four [verified] lineage facts of SURVEY.md
sections 1.1/1.2 replayed through this engine. Runs on the reference's
own files when present, else on the seeded catalog in the same layout
(conftest.ref_fixture), whose products.csv and product_embeddings.npy come
from a pandas/numpy derivation.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

REF = "/root/reference"


def with_combined_text(reviews: DataFrame) -> DataFrame:
    """P10 [verified]: lower(title || ' ' || text || ' ' || brand).

    NB: concat (not concat_ws) semantics — the reference joins with single
    spaces even when a part is empty, which concat_ws would collapse — and
    whitespace runs are collapsed to single spaces afterwards (3 of 1578
    rows carry multi-space runs in the raw fields that the shipped
    combined_text does not: the offline pipeline normalized whitespace).
    """
    joined = F.concat(
        F.coalesce(F.col("`reviews.title`"), F.lit("")),
        F.lit(" "),
        F.coalesce(F.col("`reviews.text`"), F.lit("")),
        F.lit(" "),
        F.coalesce(F.col("brand"), F.lit("")),
    )
    return reviews.withColumn(
        "combined_text_rebuilt",
        F.trim(F.regexp_replace(F.lower(joined), r"\s+", " ")),
    )


@pytest.fixture(scope="module")
def ref(ref_fixture):
    return REF if os.path.isdir(REF) else ref_fixture.ref_dir


@pytest.fixture(scope="module")
def reviews(spark, ref):
    from vector_database_product_recommendation_spark.sources.reference import load_reviews

    return load_reviews(spark, f"{ref}/reviews.csv")


def test_combined_text_identity(reviews):
    df = with_combined_text(reviews)
    bad = df.filter(df.combined_text != df.combined_text_rebuilt).count()
    assert bad == 0


def test_rebuild_products_matches_reference(reviews, ref):
    from vector_database_product_recommendation_spark.sources.reference import rebuild_products

    ours = rebuild_products(reviews).toPandas().set_index("id").sort_index()
    theirs = pd.read_csv(f"{ref}/products.csv").set_index("id").sort_index()
    assert len(ours) == len(theirs) > 0
    assert (ours.index == theirs.index).all()

    for col in ("brand", "categories", "asins", "example_text"):
        assert (ours[col] == theirs[col]).all(), col
    assert (ours["n_reviews"] == theirs["n_reviews"]).all()
    for a, b in zip(ours["avg_rating"], theirs["avg_rating"]):
        if math.isnan(b):
            assert a is None or math.isnan(a)
        else:
            assert abs(a - b) < 1e-9


def test_rebuild_product_embeddings_matches_reference(spark, reviews, ref):
    from vector_database_product_recommendation_spark.sources.reference import (
        load_embeddings_npy,
        rebuild_product_embeddings,
    )

    emb = load_embeddings_npy(spark, f"{ref}/review_embeddings.npy")
    ours = {
        r["id"]: np.array(r["vector"])
        for r in rebuild_product_embeddings(reviews, emb).collect()
    }
    theirs = np.load(f"{ref}/product_embeddings.npy").astype(np.float64)
    prod_ids = pd.read_csv(f"{ref}/products.csv")["id"]
    assert len(ours) == len(prod_ids) > 0
    for i, pid in enumerate(prod_ids):
        cos = float(np.dot(ours[pid], theirs[i]) / (np.linalg.norm(theirs[i]) + 1e-12))
        assert cos > 1.0 - 1e-9, (pid, cos)


def test_review_embeddings_unit_norm(spark, ref):
    from vector_database_product_recommendation_spark.sources.reference import load_embeddings_npy

    emb = load_embeddings_npy(spark, f"{ref}/review_embeddings.npy")
    rows = emb.select("embedding").collect()
    norms = np.linalg.norm(np.array([r[0] for r in rows], dtype=np.float64), axis=1)
    assert len(norms) > 0
    assert abs(norms.min() - 1.0) < 1e-3 and abs(norms.max() - 1.0) < 1e-3
