"""Workload ``serve``: the reference app's user traffic through
``api.ProductSearchEngine``, one client, closed loop.

A run builds the engine with ``from_reference_dir`` over a generated
catalog (100 products, 1,600 reviews, 384 dimensions: about the
reference's own 66 products and 1,578 reviews), warms the engine with one
filtered search, then sends whole decks of requests in a seeded order. A
deck holds two E1 vector searches, one E1 search with
brand/min_rating/min_reviews filters, one E2 item-to-item lookup and one
J5 compare of 2-4 products. All but the compare take about the same
time, so the deck's median is one of them. E1 hybrid search is measured
by ``query_suite``'s ``hybrid_search`` instead: its first call fits a
TF-IDF model, and warming and timing it here would cost a run about 16 s.
E3 ``ann_review_search`` is left out: it trains a fresh IVF index per
call and would alone set the tail.

Every reply, the warm-up's too, is checked against a numpy oracle over
the generated arrays.
"""

from __future__ import annotations

import os
import time

import gen
import numpy as np
from harness import Harness, Op, Report, log, report
from measure import cache_mb

from vector_database_product_recommendation_spark.functions.embed import hash_embed_py

DECK = ("vector", "vector", "filtered", "item", "compare")
K = 10
DIM = 384
TOL = 2e-6  # scores are rounded to 6 decimals on both sides


def _filter_mask(cat: gen.Catalog, p: dict) -> np.ndarray:
    """Products that pass the app's filters for request ``p``. The app's
    defaults (min_rating 0 against coalesce(avg, -1)) drop products whose
    ratings are all null even when unfiltered."""
    brand = p.get("brand", "All")
    mask = np.nan_to_num(cat.avg_rating, nan=-1.0) >= p.get("min_rating", 0.0)
    mask &= cat.n_reviews >= p.get("min_reviews", 0)
    if brand != "All":
        mask &= np.char.lower(cat.brand.astype(str)) == brand.lower()
    return mask


def _request(rng: np.random.Generator, kind: str, cat: gen.Catalog) -> dict:
    text = " ".join(rng.choice(gen.WORDS, size=int(rng.integers(2, 6))))
    if kind == "filtered":
        # filters that leave fewer than k products make a cheaper request
        # (none left: no Spark job at all), so every filtered request
        # leaves at least k and costs the same
        while True:
            p = {
                "text": text,
                "brand": str(rng.choice(gen.BRANDS)),
                "min_rating": float(rng.choice([0.0, 2.5, 3.0])),
                "min_reviews": int(rng.choice([0, 4, 8])),
            }
            if _filter_mask(cat, p).sum() >= K:
                return p
    if kind == "item":
        return {"pid": str(rng.choice(cat.product_ids))}
    if kind == "compare":
        n = int(rng.integers(2, 5))
        return {"pids": [str(p) for p in rng.choice(cat.product_ids, size=n, replace=False)]}
    return {"text": text}


def _call(engine, kind: str, p: dict):
    if kind == "vector":
        return lambda: engine.search_products(p["text"], k=K)
    if kind == "filtered":
        return lambda: engine.search_products(
            p["text"], k=K, brand=p["brand"], min_rating=p["min_rating"], min_reviews=p["min_reviews"]
        )
    if kind == "item":
        return lambda: engine.search_by_product_id(p["pid"], k=K)
    return lambda: engine.compare_products(p["pids"])


# -- numpy oracle ---------------------------------------------------------------


def _oracle(cat: gen.Catalog, qv: np.ndarray, mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-k ids and scores by (score desc, id asc) among ``mask``, and
    every product's rounded score."""
    scores = np.round(cat.product_emb @ qv, 6)
    idx = np.flatnonzero(mask)
    order = idx[np.lexsort((cat.product_ids[idx], -scores[idx]))][:K]
    return cat.product_ids[order], scores[order], scores


def _check_ranked(rows: list, exp_scores: np.ndarray, scores: np.ndarray, mask: np.ndarray, pos: dict) -> str:
    """Empty string when ``rows`` (rank, id, score, ...) are the oracle's
    top-k up to ties, else the reason they are not."""
    if len(rows) != len(exp_scores):
        return f"{len(rows)} rows, oracle has {len(exp_scores)}"
    if [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not 1..n"
    got = np.array([r[2] for r in rows], dtype=np.float64)
    if not np.allclose(got, exp_scores, atol=TOL):
        return f"scores {got[:3]} vs oracle {exp_scores[:3]}"
    for r in rows:
        i = pos.get(r[1])
        if i is None or not mask[i] or abs(scores[i] - r[2]) > TOL:
            return f"id {r[1]} breaks a filter or has another score"
    if len({r[1] for r in rows}) != len(rows):
        return "duplicate ids"
    return ""


def _quality(rows: list, exp_scores: np.ndarray) -> tuple[float, float]:
    """Tie-aware Precision@K and reciprocal rank of the exact top-1."""
    if len(exp_scores) == 0:
        return 1.0, 1.0
    got = np.array([r[2] for r in rows], dtype=np.float64)
    hits = int(np.sum(got >= exp_scores[-1] - TOL))
    first = np.flatnonzero(np.abs(got - exp_scores[0]) <= TOL)
    return min(hits, len(exp_scores)) / len(exp_scores), (1.0 / (first[0] + 1) if len(first) else 0.0)


def check(op, cat: gen.Catalog, pos: dict) -> tuple[str, tuple[float, float] | None]:
    """(reason the reply is wrong or "", quality for E1 vector replies)."""
    p, rows = op.params, op.rows
    if op.kind in ("vector", "filtered"):
        mask = _filter_mask(cat, p)
        _, exp, scores = _oracle(cat, np.asarray(hash_embed_py(p["text"], DIM)), mask)
        return _check_ranked(rows, exp, scores, mask, pos), _quality(rows, exp)
    if op.kind == "item":
        i = pos[p["pid"]]
        mask = np.ones(len(cat.product_ids), dtype=bool)
        mask[i] = False
        _, exp, scores = _oracle(cat, cat.product_emb[i], mask)
        if any(r[1] == p["pid"] for r in rows):
            return "item-to-item returned its query", None
        return _check_ranked(rows, exp, scores, mask, pos), None
    # compare
    ids = p["pids"]
    got = {(r[0], r[1]): r[2] for r in rows}
    if len(got) != len(ids) ** 2:
        return f"{len(rows)} cells for {len(ids)} products", None
    vecs = cat.product_emb[[pos[i] for i in ids]]
    exp = np.round(vecs @ vecs.T, 6)
    for a, ia in enumerate(ids):
        for b, ib in enumerate(ids):
            if abs(got[(ia, ib)] - got[(ib, ia)]) > TOL or abs(got[(ia, ib)] - exp[a, b]) > TOL:
                return f"cell ({ia}, {ib}) is not symmetric or off the oracle", None
        if abs(got[(ia, ia)] - 1.0) > TOL:
            return "diagonal is not 1", None
    return "", None


def run(h: Harness, seed: int, seconds: float) -> Report:
    from vector_database_product_recommendation_spark.api import ProductSearchEngine

    rng = np.random.default_rng(seed)
    cat = gen.reference_catalog(os.path.join(h.work, "catalog"), seed)
    pos = {pid: i for i, pid in enumerate(cat.product_ids)}

    t_start = time.perf_counter()
    h.start_spark()
    engine = ProductSearchEngine.from_reference_dir(h.spark, cat.ref_dir, embedding_dim=DIM)
    # warm-up: the first request pays the engine's lazy builds and
    # code-path warm-up; a filtered one runs every step a vector search
    # does, and it is checked like a timed one
    warm = Op("filtered", _request(rng, "filtered", cat))
    warm.rows = [tuple(r) for r in _call(engine, "filtered", warm.params)().collect()]
    setup_s = time.perf_counter() - t_start

    t0 = time.perf_counter()
    while True:
        for kind in rng.permutation(DECK):
            p = _request(rng, str(kind), cat)
            h.op(str(kind), p, _call(engine, str(kind), p))
        if time.perf_counter() - t0 >= seconds:
            break
    timed_s = time.perf_counter() - t0
    cache = cache_mb(h.sc)

    quality = []
    for op in [warm, *h.ops]:
        if op.ok:
            reason, q = check(op, cat, pos)
            if reason:
                op.ok = False
                log(f"{op.kind} {op.params}: {reason}")
            if q is not None and op is not warm:
                quality.append(q)

    def api_values() -> dict[str, float]:
        values = {}
        for kind in sorted(set(DECK)):
            mine = [o for o in h.ops if o.kind == kind]
            values[f"api.{kind}.build_ms"] = float(np.median([o.build_ms for o in mine]))
            values[f"api.{kind}.execute_ms"] = float(np.median([o.execute_ms for o in mine]))
            values[f"api.{kind}.jobs"] = float(np.median([o.ledger.jobs for o in mine]))
        return values

    return report(
        h,
        attempted=len(h.ops) + 1,  # the requests and the warm-up
        failed=sum(not o.ok for o in [warm, *h.ops]),
        setup_s=setup_s,
        timed_s=timed_s,
        precision=float(np.mean([q[0] for q in quality])) if quality else 0.0,
        mrr=float(np.mean([q[1] for q in quality])) if quality else 0.0,
        cache=cache,
        layer_values=api_values,
    )
