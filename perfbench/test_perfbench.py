"""Tests of the benchmark's own logic: the tail rule, self time from nested
spans, span wrappers, the generators' invariants and the metric lists.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle

import numpy as np
import pandas as pd
import pytest

import gen
import layers
from harness import END_TO_END
from measure import Span, Tracer, intervals_covered, self_time, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = list(range(100))
    value, pct = tail(xs)
    assert value == 89
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_at_21_samples_is_the_median():
    value, pct = tail(list(range(21)))
    assert (value, pct) == (10, 50.0)


def test_tail_of_a_short_run_is_its_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail(list(range(20))) == (19, 100.0)
    with pytest.raises(ValueError):
        tail([])


def test_intervals_covered_merges_overlaps_and_clips():
    assert intervals_covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert intervals_covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert intervals_covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span(0, None, "op", 0.0, 10.0)
    kids = [Span(1, 0, "a", 1.0, 4.0), Span(2, 0, "b", 3.0, 6.0), Span(3, 0, "c", 8.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10 - 5 - 2)
    assert self_time(parent, []) == 10.0


def test_tracer_nests_spans_and_restores_patches():
    import types

    mod = types.ModuleType("fake")
    user = types.ModuleType("user")

    def leaf(x):
        return x + 1

    def outer(x):
        return mod.leaf(x) * 2

    mod.leaf, mod.outer = leaf, outer
    user.leaf = leaf  # imported by name elsewhere
    tracer = Tracer(ledger=None)
    tracer.patch("fake.leaf", mod, "leaf", [user])
    tracer.patch("fake.outer", mod, "outer", [])
    assert mod.outer(1) == 4
    assert user.leaf is not leaf and user.leaf(1) == 2
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("fake.outer", None), ("fake.leaf", 0), ("fake.leaf", None)]
    root = tracer.spans[0]
    assert [s.id for s in tracer.descendants(root)] == [1]
    tracer.restore()
    assert mod.leaf is leaf and user.leaf is leaf and mod.outer is outer


def test_traced_function_pickles_as_the_original_and_binds_as_method():
    tracer = Tracer(ledger=None)
    traced = tracer.wrap("np.sum", np.sum)
    assert pickle.loads(pickle.dumps(traced)) is np.sum

    class Box:
        def get(self, k):
            return k * 3

    Box.get = tracer.wrap("Box.get", Box.get)
    assert Box().get(2) == 6
    assert tracer.spans[-1].name == "Box.get"


def test_reference_catalog_invariants_and_determinism(tmp_path):
    a = gen.reference_catalog(str(tmp_path / "a"), 7, n_products=20, n_reviews=200, dim=8)
    b = gen.reference_catalog(str(tmp_path / "b"), 7, n_products=20, n_reviews=200, dim=8)
    assert (tmp_path / "a" / "reviews.csv").read_bytes() == (tmp_path / "b" / "reviews.csv").read_bytes()
    assert np.array_equal(a.product_emb, b.product_emb)
    df = pd.read_csv(tmp_path / "a" / "reviews.csv")
    assert "reviews.rating" in df.columns and df["reviews.rating"].isna().any()
    # the oracle arrays agree with a pandas/numpy rebuild from the files
    vecs = np.load(tmp_path / "a" / "review_embeddings.npy").astype(np.float64)
    grouped = df.assign(i=np.arange(len(df))).groupby("id")
    for pid, rows in grouped:
        k = int(np.flatnonzero(a.product_ids == pid)[0])
        mean = vecs[rows["i"]].mean(axis=0)
        assert np.allclose(a.product_emb[k], mean / np.linalg.norm(mean))
        assert a.n_reviews[k] == len(rows)
        expect = rows["reviews.rating"].mean()
        assert (np.isnan(expect) and np.isnan(a.avg_rating[k])) or np.isclose(expect, a.avg_rating[k])


def test_catalog_check_catches_a_broken_combined_text(tmp_path):
    cat = gen.reference_catalog(str(tmp_path), 1, n_products=20, n_reviews=200, dim=8)
    path = tmp_path / "reviews.csv"
    df = pd.read_csv(path, keep_default_na=False)
    df.loc[0, "combined_text"] = df.loc[0, "combined_text"].upper()
    df.to_csv(path, index=False)
    with pytest.raises(ValueError, match="combined_text"):
        gen._check_catalog(str(tmp_path), cat, 200, 8)


def test_sf_tables_invariants(tmp_path):
    vecs = gen.sf_tables(str(tmp_path), 3, n_customers=50, n_suppliers=10, n_parts=40,
                         n_orders=200, n_events=100, n_docs=60, n_vectors=80, dim=16)
    assert vecs.shape == (80, 16)
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        assert (tmp_path / f"{name}.parquet").exists()
    again = gen.sf_tables(str(tmp_path / "again"), 3, n_customers=50, n_suppliers=10, n_parts=40,
                          n_orders=200, n_events=100, n_docs=60, n_vectors=80, dim=16)
    assert np.array_equal(vecs, again)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    names = layers.per_layer_names()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == names
    assert len({n for n, _ in names}) == len(names) <= 128
