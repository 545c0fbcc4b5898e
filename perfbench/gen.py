"""Seeded input generators. The same seed always writes the same files.

One input per workload:

- ``reference_catalog`` (serve): the reference app's on-disk layout
  (``reviews.csv`` + ``review_embeddings.npy``), read by
  ``ProductSearchEngine.from_reference_dir``;
- ``sf_tables`` (query_suite): the star-schema, event, document and
  embedding tables the query registry reads, one parquet file per table.

Every generator checks its own invariants before it returns and raises
``ValueError`` when one does not hold.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "kindle fire tablet screen battery charger cable case cover light reading "
    "speaker echo voice alexa remote stream video music sound bass wifi "
    "bluetooth fast slow great good poor cheap price value gift kids parent "
    "home office travel warranty return replace broken works easy setup app "
    "display bright sharp color weight thin heavy storage memory card port"
).split()
BRANDS = ("Amazon", "Moshi", "Anker", "Belkin", "Logitech")
BRAND_WEIGHTS = (0.86, 0.05, 0.04, 0.03, 0.02)
CATEGORIES = (
    "Electronics", "Tablets", "Computers & Accessories", "Kindle Store",
    "Amazon Devices", "Home", "Audio", "Speakers", "Chargers", "Cases",
)


@dataclass(frozen=True)
class Catalog:
    """Arrays the serve oracle needs, aligned with the files on disk."""

    ref_dir: str
    product_ids: np.ndarray  # (P,) str, sorted
    product_emb: np.ndarray  # (P, D) float64, unit rows
    brand: np.ndarray  # (P,) str, first review's brand
    n_reviews: np.ndarray  # (P,) int
    avg_rating: np.ndarray  # (P,) float, NaN when every rating is null


def _unit(mat: np.ndarray) -> np.ndarray:
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(lo, hi + 1))))


def reference_catalog(
    out_dir: str,
    seed: int,
    *,
    n_products: int = 100,
    n_reviews: int = 1600,
    dim: int = 384,
) -> Catalog:
    """Write ``reviews.csv`` and ``review_embeddings.npy`` in the reference
    layout: 8 columns with the dotted ``reviews.*`` names, about 25% null
    ratings, comma-joined ``asins``/``categories``, ``combined_text =
    lower(title + ' ' + text + ' ' + brand)``, and unit-norm float32
    review vectors clustered by product."""
    if n_reviews < 3 * n_products:
        raise ValueError("need at least 3 reviews per product")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pids = np.array([f"AV{i:06d}" for i in rng.permutation(n_products)])
    # skewed review counts, at least 3 each, summing to n_reviews
    extra = rng.zipf(1.6, size=n_products).astype(np.float64)
    extra = np.floor(extra / extra.sum() * (n_reviews - 3 * n_products)).astype(int)
    extra[: (n_reviews - 3 * n_products) - extra.sum()] += 1
    counts = 3 + extra
    owner = rng.permutation(np.repeat(np.arange(n_products), counts))

    brand_of = rng.choice(BRANDS, size=n_products, p=BRAND_WEIGHTS)
    centers = _unit(rng.standard_normal((n_products, dim)))
    vecs = _unit(centers[owner] + 0.9 * rng.standard_normal((n_reviews, dim)) / np.sqrt(dim))
    vecs = vecs.astype(np.float32)
    ratings = rng.integers(1, 6, size=n_reviews).astype(np.float64)
    ratings[rng.random(n_reviews) < 0.25] = np.nan

    with open(os.path.join(out_dir, "reviews.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["id", "asins", "brand", "categories", "reviews.title",
             "reviews.text", "reviews.rating", "combined_text"]
        )
        for i in range(n_reviews):
            p = owner[i]
            title = _words(rng, 2, 10).capitalize()
            text = _words(rng, 10, 40)
            if rng.random() < 0.05:
                text += ', "really" good'  # quoting and commas inside a cell
            brand = str(brand_of[p])
            asins = ",".join(f"B0{rng.integers(10**7, 10**8)}" for _ in range(rng.integers(1, 7)))
            cats = ",".join(rng.choice(CATEGORIES, size=int(rng.integers(1, 7))))
            rating = "" if np.isnan(ratings[i]) else f"{ratings[i]:.1f}"
            combined = f"{title} {text} {brand}".lower()
            w.writerow([pids[p], asins, brand, cats, title, text, rating, combined])
    np.save(os.path.join(out_dir, "review_embeddings.npy"), vecs)

    order = np.argsort(pids)
    sums = np.zeros((n_products, dim))
    np.add.at(sums, owner, vecs.astype(np.float64))
    rated = ~np.isnan(ratings)
    rating_sum = np.bincount(owner[rated], weights=ratings[rated], minlength=n_products)
    rating_n = np.bincount(owner[rated], minlength=n_products)
    with np.errstate(invalid="ignore", divide="ignore"):
        avg = np.where(rating_n > 0, rating_sum / np.maximum(rating_n, 1), np.nan)
    first_brand = brand_of  # every review of a product carries its brand
    cat = Catalog(
        ref_dir=out_dir,
        product_ids=pids[order],
        product_emb=_unit(sums)[order],
        brand=first_brand[order],
        n_reviews=np.bincount(owner, minlength=n_products)[order],
        avg_rating=avg[order],
    )
    _check_catalog(out_dir, cat, n_reviews, dim)
    return cat


def _check_catalog(out_dir: str, cat: Catalog, n_reviews: int, dim: int) -> None:
    df = pd.read_csv(os.path.join(out_dir, "reviews.csv"), keep_default_na=False)
    cols = ["id", "asins", "brand", "categories", "reviews.title",
            "reviews.text", "reviews.rating", "combined_text"]
    if list(df.columns) != cols or len(df) != n_reviews:
        raise ValueError(f"reviews.csv shape {df.shape}, columns {list(df.columns)}")
    expect = (df["reviews.title"] + " " + df["reviews.text"] + " " + df["brand"]).str.lower()
    if not (expect == df["combined_text"]).all():
        raise ValueError("combined_text != lower(title + ' ' + text + ' ' + brand)")
    null_share = (df["reviews.rating"] == "").mean()
    if not 0.2 <= null_share <= 0.3:
        raise ValueError(f"null rating share {null_share:.3f} outside [0.2, 0.3]")
    if not df["asins"].str.contains(",").any() or not df["categories"].str.contains(",").any():
        raise ValueError("asins/categories carry no comma-joined cells")
    vecs = np.load(os.path.join(out_dir, "review_embeddings.npy"))
    if vecs.dtype != np.float32 or vecs.shape != (n_reviews, dim):
        raise ValueError(f"review_embeddings.npy is {vecs.dtype}{vecs.shape}")
    if not np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5):
        raise ValueError("review embeddings are not unit-norm")
    if cat.n_reviews.sum() != n_reviews or cat.n_reviews.min() < 3:
        raise ValueError("review counts per product are inconsistent")


DOC_WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size=size)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def sf_tables(
    out_dir: str,
    seed: int,
    *,
    n_customers: int = 150,
    n_suppliers: int = 10,
    n_parts: int = 200,
    n_orders: int = 1500,
    n_events: int = 1000,
    n_docs: int = 500,
    n_vectors: int = 500,
    dim: int = 64,
    n_labels: int = 10,
) -> dict[str, np.ndarray]:
    """Write the ten tables the query registry reads, one
    ``<name>.parquet`` each, with the column names and Arrow types of the
    project's synthetic star schema. The defaults match its sf0.001 sizes
    (about four lineitems per order). Documents carry exact and
    near-duplicate copies and the embeddings cluster by label, so the
    dedup and ANN queries have real work. Returns the embedding matrix
    indexed by ``vec_id``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = np.int32, np.int64
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_customers, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": rng.integers(0, 25, n_customers).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_customers
            ),
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_suppliers, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
            "s_nationkey": rng.integers(0, 25, n_suppliers).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_suppliers),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_parts, dtype=i64),
            "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_parts)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_parts),
            "p_size": rng.integers(1, 51, n_parts).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=i64),
            "o_custkey": rng.integers(0, n_customers, n_orders).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=i64), lines),
            "l_partkey": rng.integers(0, n_parts, n_lines).astype(i64),
            "l_suppkey": rng.integers(0, n_suppliers, n_lines).astype(i64),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(i32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            # unrounded, so no price/quantity ratio lands on a rounding
            # boundary where the engine and DuckDB may round differently
            "l_extendedprice": rng.uniform(900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_lines),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=i64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_events).astype(i64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 10, replace=False):
        src = texts[int(rng.integers(0, n_docs))]
        # an exact copy, or a near copy with one word swapped and one added
        words = src.split()
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
            words.append("dup")
        texts[i] = " ".join(words)
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=i64),
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=i64),
        }
    )
    labels = rng.integers(0, n_labels, n_vectors)
    centers = _unit(rng.standard_normal((n_labels, dim)))
    vecs = _unit(centers[labels] + 0.8 * rng.standard_normal((n_vectors, dim)) / np.sqrt(dim))
    for i in rng.choice(n_vectors, n_vectors // 20, replace=False):
        j = int(rng.integers(0, n_vectors))
        vecs[i] = _unit(vecs[j : j + 1] + 0.01 * rng.standard_normal((1, dim)) / np.sqrt(dim))[0]
        labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=i64),
            "embedding": list(vecs),
            "label": labels.astype(i32),
        }
    )
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    _check_sf_tables(out_dir, n_vectors, dim)
    return vecs


def _check_sf_tables(out_dir: str, n_vectors: int, dim: int) -> None:
    schema = {
        "orders": {"o_orderdate": pa.timestamp("us")},
        "lineitem": {"l_shipdate": pa.timestamp("us"), "l_linenumber": pa.int32()},
        "events": {"ts": pa.timestamp("us"), "event_id": pa.int64()},
        "embeddings": {"embedding": pa.list_(pa.float32()), "label": pa.int32()},
    }
    for name, cols in schema.items():
        got = pq.read_schema(os.path.join(out_dir, f"{name}.parquet"))
        for col, typ in cols.items():
            if got.field(col).type != typ:
                raise ValueError(f"{name}.{col} is {got.field(col).type}, expected {typ}")
    docs = pq.read_table(os.path.join(out_dir, "documents.parquet")).to_pandas()
    if docs["text"].duplicated().sum() == 0:
        raise ValueError("documents carry no exact duplicates")
    if not (docs["n_chars"] == docs["text"].str.len()).all():
        raise ValueError("documents.n_chars != len(text)")
    emb = np.stack(pq.read_table(os.path.join(out_dir, "embeddings.parquet"))["embedding"].to_numpy(zero_copy_only=False))
    if emb.shape != (n_vectors, dim) or not np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5):
        raise ValueError("embeddings are not unit-norm rows of the expected shape")
