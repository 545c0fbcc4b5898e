from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pytest

from vector_database_product_recommendation_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("vdb-rec-tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def jobs_run_by(spark):
    """``jobs_run_by(fn, label)``: the Spark jobs ``fn`` runs, read from
    statusTracker() under a job group of its own."""

    def count(fn, label: str) -> int:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group, marker = f"jobs-{label}", f"jobs-{label}-marker"
        sc.setJobGroup(group, group)
        try:
            fn()
            # listener events land asynchronously but in order: once a
            # later marker job is visible, every job of ``group`` is too
            sc.setJobGroup(marker, marker)
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 10
        while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count


def optimized_nodes(df) -> list:
    """The nodes of ``df``'s optimized logical plan (JVM objects); a cached
    table (InMemoryRelation) is a leaf."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


REF_WORDS = (
    "kindle fire tablet screen battery charger case cover light reading "
    "speaker echo voice remote music sound wifi fast great poor cheap gift "
    "kids home travel easy setup display bright color storage"
).split()


@dataclass(frozen=True)
class RefFixture:
    """A seeded catalog in the reference's on-disk layout plus its numpy
    oracle, derived in pandas/numpy independently of the engine."""

    ref_dir: str
    ids: np.ndarray  # (P,) product ids, sorted
    emb: np.ndarray  # (P, D) unit product vectors
    brand: np.ndarray  # (P,) brand of the product's first review
    n_reviews: np.ndarray  # (P,) every review counts, null ratings too
    avg_rating: np.ndarray  # (P,) mean of non-null ratings, NaN if none


def write_reference_fixture(out_dir: str) -> RefFixture:
    """``reviews.csv`` (8 columns, dotted ``reviews.*`` names, nullable
    ratings, comma-joined ``asins``/``categories``, ``combined_text =
    lower(title + ' ' + text + ' ' + brand)`` with whitespace runs
    collapsed, one quoted multi-line body) and the row-aligned, unit-norm
    float32 ``review_embeddings.npy`` (PAPER.md section 1.1), plus the
    derived ``products.csv`` and row-aligned ``product_embeddings.npy``
    computed here in pandas/numpy."""
    n_products, n_reviews, dim = 12, 60, 16
    rng = np.random.default_rng(7)
    pids = np.array([f"AV{i:04d}" for i in rng.permutation(n_products)])
    owner = rng.permutation(
        np.concatenate([np.arange(n_products), rng.integers(0, n_products, n_reviews - n_products)])
    )
    brand_of = np.where(rng.random(n_products) < 0.7, "Amazon", "Moshi")
    centers = rng.standard_normal((n_products, dim))
    vecs = centers[owner] + 0.8 * rng.standard_normal((n_reviews, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ratings = rng.integers(1, 6, n_reviews).astype(np.float64)
    ratings[rng.random(n_reviews) < 0.25] = np.nan
    ratings[owner == 0] = np.nan  # one product with no rating at all

    rows = []
    for i, p in enumerate(owner):
        title = " ".join(rng.choice(REF_WORDS, 3)).capitalize()
        text = " ".join(rng.choice(REF_WORDS, 8))
        if i == 1:
            text += ', "really"\ngood'  # quotes, a comma and a newline in one cell
        brand = str(brand_of[p])
        rows.append(
            {
                "id": pids[p],
                "asins": ",".join(f"B0{x}" for x in rng.integers(10**7, 10**8, 2)),
                "brand": brand,
                "categories": ",".join(rng.choice(["Electronics", "Tablets", "Home", "Audio"], 2)),
                "reviews.title": title,
                "reviews.text": text,
                "reviews.rating": ratings[i],
                "combined_text": " ".join(f"{title} {text} {brand}".lower().split()),
            }
        )
    reviews = pd.DataFrame(rows)
    os.makedirs(out_dir, exist_ok=True)
    reviews.to_csv(os.path.join(out_dir, "reviews.csv"), index=False)
    np.save(os.path.join(out_dir, "review_embeddings.npy"), vecs)

    first = reviews.drop_duplicates("id").set_index("id").sort_index()
    groups = reviews.groupby("id", sort=True)
    sums = pd.DataFrame(vecs.astype(np.float64)).groupby(reviews["id"], sort=True).sum()
    emb = sums.to_numpy() / np.linalg.norm(sums.to_numpy(), axis=1, keepdims=True)
    products = pd.DataFrame(
        {
            "id": first.index,
            "brand": first["brand"].to_numpy(),
            "categories": first["categories"].to_numpy(),
            "asins": first["asins"].to_numpy(),
            "n_reviews": groups.size().to_numpy(),
            "example_text": first["combined_text"].to_numpy(),
            "avg_rating": groups["reviews.rating"].mean().to_numpy(),
        }
    )
    products.to_csv(os.path.join(out_dir, "products.csv"), index=False)
    np.save(os.path.join(out_dir, "product_embeddings.npy"), emb.astype(np.float32))
    return RefFixture(
        ref_dir=out_dir,
        ids=first.index.to_numpy(),
        emb=emb,
        brand=first["brand"].to_numpy(),
        n_reviews=groups.size().to_numpy(),
        avg_rating=groups["reviews.rating"].mean().to_numpy(),
    )


@pytest.fixture(scope="session")
def ref_fixture(tmp_path_factory):
    return write_reference_fixture(str(tmp_path_factory.mktemp("reference")))
