"""The reference app's serving surface as a typed API — a user of the
reference (app.py's Streamlit widgets) switches to these five calls:

    engine = ProductSearchEngine.from_reference_dir(spark, "/path/to/ref")
    engine.search_products("kindle for reading", brand="amazon", k=5)   # E1
    engine.search_products(..., mode="hybrid", alpha=0.7)               # E1 hybrid
    engine.search_by_product_id("B00ZV9PXP2", k=5)                      # E2
    engine.compare_products(["B00ZV9PXP2", "B00QJDU3KY"])               # J5
    engine.ann_review_search(q_idx=7, k=5, nprobe=5)                    # E3
    engine.ann_tradeoff_table()                                         # AN5

Parameter semantics match the widgets exactly (SURVEY.md section 3):
brand "All" sentinel = no filter (app.py:158-159), min_rating compares
against coalesce(avg_rating, -1) (app.py:160-161), min_reviews against
coalesce(n_reviews, 0) (app.py:162-163), hybrid blends
alpha*dense + (1-alpha)*minmax(tfidf) with the dense side raw
(app.py:206-210, quirks 2.9.2-3 preserved) through the one sparse scorer
and the one blend of operators/tfidf.py (``TfidfModel.scores``,
``blend_hybrid``).

Like the reference's ``@st.cache_resource`` numpy/FAISS state, the engine
collects its catalog once, at construction, into driver arrays (ids,
filter columns, hit payload and the float64 embedding matrix) when the
matrix fits ``DRIVER_CATALOG_MAX_BYTES``, through the one bounded Arrow
transfer (``lifetime.collect_bounded``). Vector and filtered search,
item-to-item and compare then mask, score (``np.round(mat @ qv, 6)``) and
rank (``knn.rank_topk``) on the driver and reply with a local table
(``lifetime.local_frame``, the reverse transfer): no Spark job, and no
SQL to parse, per request. A larger catalog is never collected: it is
served by the one-job ``exact_knn(payload=...)`` pass over the cached
``catalog``. Hybrid search always runs on Spark. E3 and AN5 read one
review IVF index per engine, built on the first such call.

The query encoder is pluggable: ``encoder`` is a driver-side function
from the query string to a sequence of floats of the catalog's width
(the reference's ``model.encode(query)``, app.py:169-171), called once
per free-text request; by default ``hash_embed_py`` (deterministic,
oracle-checkable). ``functions.embed.sentence_encoder()`` is not one: it
returns a pandas UDF, a Column function, and plugs into
``encode_documents`` to encode a corpus. NB: with the default hash
encoder, free-text scores differ from the reference's SBERT scores by
design; item-to-item / compare / ANN paths use the corpus vectors and
match the reference bit-for-bit (tests/test_reference_retrieval.py).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from vector_database_product_recommendation_spark.functions.embed import hash_embed_py
from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.lifetime import collect_bounded, local_frame
from vector_database_product_recommendation_spark.operators.knn import (
    QueryBatch,
    collect_queries,
    exact_knn,
    exact_scores,
    item_to_item,
    rank_topk,
    similarity_rows,
)
from vector_database_product_recommendation_spark.operators.tfidf import (
    TfidfModel,
    blend_hybrid,
)

# the product fields a search hit carries (app.py:186)
HIT_PAYLOAD = ("brand", "n_reviews", "avg_rating")

# the largest float64 embedding matrix the engine collects to the driver:
# 64 MiB is ~21.8k products at 384 dimensions, under one right-sized
# catalog partition (lifetime.persist_right_sized, ~25k rows)
DRIVER_CATALOG_MAX_BYTES = 64 << 20


def _at_least_one(**sliders: int) -> None:
    """The reference's k and nprobe sliders start at 1: a smaller value
    raises ValueError naming it, before any Spark work, on either path."""
    for name, value in sliders.items():
        if value < 1:
            raise ValueError(f"{name} must be at least 1, got {value!r}")


class _DriverCatalog:
    """The catalog as driver arrays, row-aligned: what a vector, filtered,
    item-to-item or compare request reads instead of running a job."""

    def __init__(self, pdf):
        self.ids = pdf["id"].to_numpy(dtype=object)
        self.row = {pid: i for i, pid in enumerate(self.ids)}
        self.brand_lower = pdf["brand_lower"].to_numpy(dtype=object)
        self.rating = pdf["rating"].to_numpy(dtype=np.float64)
        self.reviews = pdf["reviews"].to_numpy(dtype=np.int64)
        # raw, nulls kept: Arrow hands a null numeric cell over as NaN
        raw = pdf[list(HIT_PAYLOAD)].astype(object)
        self.payload = list(raw.where(raw.notna(), None).itertuples(index=False, name=None))
        self.mat = matrix(pdf["embedding"])

    def mask(self, brand: str, min_rating: float, min_reviews: int) -> np.ndarray:
        """candidate_products' filters: ``lower(brand)`` equality (a null
        brand never matches), coalesced rating and review count."""
        mask = (self.rating >= float(min_rating)) & (self.reviews >= int(min_reviews))
        if brand != "All":
            mask &= self.brand_lower == brand.lower()
        return mask

    def hits(self, qv, mask: np.ndarray, k: int) -> list[tuple]:
        """(rank, id, score, *HIT_PAYLOAD) of the top-k among ``mask`` under
        exact_knn's scores (rounded to 6 decimals before selection) and
        its order (score desc, id asc)."""
        idx = np.flatnonzero(mask)
        scores = np.round(self.mat[idx] @ np.asarray(qv, dtype=np.float64), 6)
        sel, rank = rank_topk(np.zeros(len(idx), dtype=np.int64), self.ids[idx], scores, k)
        return [
            (int(r), self.ids[i], float(s), *self.payload[i])
            for i, s, r in zip(idx[sel], scores[sel], rank)
        ]


class ProductSearchEngine:
    """Serving engine over one catalog table (a row per product: its
    products.csv fields plus its unit ``embedding``) and the review
    embeddings (review_idx, embedding) that the ANN demo paths search.

    Construction runs one job for the catalog's row count and embedding
    width and, when ``0 < rows * width * 8 <= DRIVER_CATALOG_MAX_BYTES``,
    one more that collects it into a ``_DriverCatalog``; ``embedding_dim``
    defaults to that width."""

    def __init__(
        self,
        catalog: DataFrame,
        *,
        review_emb: DataFrame,
        encoder=None,
        embedding_dim: int | None = None,
    ):
        self.catalog = catalog
        self.review_emb = review_emb  # (review_idx, embedding)
        self.encoder = encoder  # str -> floats on the driver; None -> hash_embed_py
        self._tfidf = None
        self._ivf = None
        self._ivf_centroids = None
        n, self._width = catalog.select(
            F.count(F.lit(1)), F.max(F.size("embedding"))
        ).first()
        self.embedding_dim = self._width if embedding_dim is None else embedding_dim
        # the Spark path's reply schemas, as DDL for the driver path's
        # local_frame replies
        types = {f.name: f.dataType.simpleString() for f in catalog.schema}
        self._hit_schema = ", ".join(
            [f"rank int, id {types['id']}, score double"] + [f"{c} {types[c]}" for c in HIT_PAYLOAD]
        )
        self._compare_schema = f"id_a {types['id']}, id_b {types['id']}, score double"
        # the bound is checked before the collect: an over-bound catalog
        # never reaches the driver (nor does an empty one, which has no
        # width; the Spark path serves both)
        self._driver = None
        if 0 < n * (self._width or 0) * 8 <= DRIVER_CATALOG_MAX_BYTES:
            pdf = collect_bounded(
                catalog.select(
                    "id",
                    F.lower("brand").alias("brand_lower"),
                    F.coalesce(F.col("avg_rating"), F.lit(-1.0)).alias("rating"),
                    F.coalesce(F.col("n_reviews"), F.lit(0)).alias("reviews"),
                    *HIT_PAYLOAD,
                    "embedding",
                ),
                n,
                what=None,
            )
            if pdf is not None:
                self._driver = _DriverCatalog(pdf)

    # -- construction -----------------------------------------------------

    @classmethod
    def from_reference_dir(
        cls, spark: SparkSession, ref_dir: str, *, embedding_dim: int | None = None
    ):
        """Build from the reference's shipped artifacts: reviews.csv +
        review_embeddings.npy, products/product-vectors REBUILT through
        this engine's lineage operators (proved identical in
        tests/test_reference_parity.py).

        Like the reference's ``@st.cache_resource``, the serving state is
        built once, here. The parsed reviews (in ``load_reviews``), the
        review embeddings and the ``catalog`` table (products joined once
        with their vectors) are each cached and materialized under
        lifetime.persist_right_sized (~25k rows per partition, so one
        partition at the reference's size) before this returns; within
        ``DRIVER_CATALOG_MAX_BYTES`` the catalog is then collected into
        driver arrays. A
        vector or filtered search, an item-to-item lookup and a compare
        then run no Spark job. Above the bound, a request scans the cached
        table with one kernel pass, which returns its hits with their
        payload: a vector or filtered search runs 1 Spark job, an
        item-to-item lookup 2 (the query vector's lookup, then the kernel)
        and a compare 1 (the selected vectors' lookup). tests/test_engine.py
        pins both sets of counts. ``embedding_dim`` defaults to the
        catalog's width, so free-text search never probes the corpus for
        it.
        """
        from vector_database_product_recommendation_spark.lifetime import persist_right_sized
        from vector_database_product_recommendation_spark.sources.reference import (
            load_embeddings_npy,
            load_reviews,
            rebuild_product_embeddings,
            rebuild_products,
        )

        reviews = load_reviews(spark, f"{ref_dir}/reviews.csv")
        review_emb = persist_right_sized(
            load_embeddings_npy(spark, f"{ref_dir}/review_embeddings.npy")
        )
        products = rebuild_products(reviews)
        vectors = rebuild_product_embeddings(reviews, review_emb).select(
            "id", F.col("vector").alias("embedding")
        )
        catalog = persist_right_sized(products.join(vectors, "id"))
        return cls(catalog, review_emb=review_emb, embedding_dim=embedding_dim)

    # -- stage 1: metadata prefilter (P1-P4) ------------------------------

    def candidate_products(
        self,
        *,
        brand: str = "All",
        min_rating: float = 0.0,
        min_reviews: int = 0,
    ) -> DataFrame:
        """Conjunctive metadata filter with the app's exact null handling."""
        out = self.catalog
        if brand != "All":
            out = out.filter(F.lower(F.col("brand")) == F.lit(brand.lower()))
        out = out.filter(
            F.coalesce(F.col("avg_rating"), F.lit(-1.0)) >= F.lit(float(min_rating))
        )
        return out.filter(
            F.coalesce(F.col("n_reviews"), F.lit(0)) >= F.lit(int(min_reviews))
        )

    # -- E1: free-text search (vector / hybrid) ---------------------------

    def _encode_query(self, query_text: str) -> list[float]:
        """The query's vector, checked against the catalog's width before
        any Spark work (an empty catalog has no width to check)."""
        if self.encoder is not None:
            qv = self.encoder(query_text)
        else:
            qv = hash_embed_py(query_text, self.embedding_dim)
        if self._width not in (None, len(qv)):
            raise ValueError(
                f"query vector has width {len(qv)} but the catalog's embeddings "
                f"have width {self._width}"
            )
        return qv

    def search_products(
        self,
        query_text: str,
        *,
        k: int = 5,
        brand: str = "All",
        min_rating: float = 0.0,
        min_reviews: int = 0,
        mode: str = "vector",
        alpha: float = 0.7,
    ) -> DataFrame:
        """E1 (app.py:281-303): filter -> score -> top-k -> gather. On the
        driver arrays when held, else the gather rides on the kernel's hits
        (exact_knn ``payload``). A ``k`` below 1 raises ValueError."""
        if mode not in ("vector", "hybrid"):
            raise ValueError(f"unknown mode {mode!r}")
        _at_least_one(k=k)
        qv = self._encode_query(query_text)
        if mode == "vector" and self._driver is not None:
            mask = self._driver.mask(brand, min_rating, min_reviews)
            hits = self._driver.hits(qv, mask, k)
            return local_frame(self.catalog.sparkSession, hits, self._hit_schema)
        cand = self.candidate_products(
            brand=brand, min_rating=min_rating, min_reviews=min_reviews
        )
        batch = QueryBatch(np.array([0]), np.asarray([qv], dtype=np.float64), "int")
        if mode == "vector":
            return _hit_rows(exact_knn(cand, batch, k, corpus_id="id", payload=HIT_PAYLOAD))
        # F2-F4 with the reference's quirks: TF-IDF cosine over the WHOLE
        # catalog, min-max over the CANDIDATE set, dense side raw
        # (app.py:202-210). The blend needs every candidate's dense score,
        # not a ranking: exact_scores is the same BLAS kernel minus top-k
        # selection. No pin: engine calls never begin a registry query, so
        # nothing would release it.
        sparse = self._tfidf_model().scores(
            query_text, cand.select(F.col("id").alias("doc_id"))
        )
        dense = exact_scores(cand, batch, corpus_id="id").select(
            F.col("neighbor_id").alias("doc_id"), F.col("score").alias("vs")
        )
        top = blend_hybrid(sparse, dense, alpha, k)
        # ranks are minted after the selection: the window sees k rows
        hits = top.select(F.col("doc_id").alias("id"), "score").withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("id")))
        )
        return (
            hits.join(self.catalog, "id")
            .select(_nullable_rank(), "id", "score", *HIT_PAYLOAD)
            .orderBy("rank")
        )

    def _tfidf_model(self) -> TfidfModel:
        if self._tfidf is None:
            self._tfidf = TfidfModel(self.catalog, "id", "example_text")
        return self._tfidf

    # -- E2: item-to-item -------------------------------------------------

    def search_by_product_id(self, pid, k: int = 5) -> DataFrame:
        """E2 (app.py:221-241): the query vector comes FROM the corpus.
        An unknown ``pid``, or a ``k`` below 1, raises ValueError naming
        it."""
        _at_least_one(k=k)
        if self._driver is None:
            return _hit_rows(
                item_to_item(self.catalog, pid, k, corpus_id="id", payload=HIT_PAYLOAD)
            )
        i = self._driver.row.get(pid)
        if i is None:
            raise ValueError(f"item {pid!r} is not in the corpus")
        mask = np.ones(len(self._driver.ids), dtype=bool)
        mask[i] = False
        hits = self._driver.hits(self._driver.mat[i], mask, k)
        return local_frame(self.catalog.sparkSession, hits, self._hit_schema)

    # -- J5: pairwise compare ---------------------------------------------

    def compare_products(self, pids: list) -> DataFrame:
        """J5 (app.py:348-354): pairwise similarity of 2-4 selected
        products, long form (id_a, id_b, score), rows sorted by
        (id_a, id_b). The vectors come from the driver arrays when held,
        else one job collects them; the matrix is the reference's
        ``V @ V.T`` on the driver (``knn.similarity_rows``, which
        ``knn.pairwise_similarity`` shares) and comes back as a local
        table. Unknown ids raise ValueError naming them, as does an empty
        ``pids``."""
        wanted = list(dict.fromkeys(pids))
        if not wanted:
            raise ValueError("no product ids to compare")
        if self._driver is not None:
            d = self._driver
            ids = [p for p in wanted if p in d.row]
            mat = d.mat[[d.row[p] for p in ids]]
        else:
            # ids are the catalog's key: at most one row per wanted id
            pdf = collect_bounded(
                self.catalog.filter(F.col("id").isin(wanted)).select("id", "embedding"),
                len(wanted),
                what="the compared products (one catalog row per id)",
            )
            ids, mat = pdf["id"].tolist(), matrix(pdf["embedding"])
        missing = [p for p in wanted if p not in ids]
        if missing:
            raise ValueError(f"products {missing!r} are not in the catalog")
        rows = similarity_rows(ids, mat)
        return local_frame(self.catalog.sparkSession, rows, self._compare_schema)

    # -- E3: ANN demo -----------------------------------------------------

    def ann_review_search(
        self, q_idx: int, *, k: int = 5, nprobe: int = 5
    ) -> tuple[DataFrame, DataFrame]:
        """E3 (app.py:360-440): (exact, ivf) hit lists for one review
        query — the side-by-side demo, probing the engine's one review
        index. The query row is collected once, for both kernels, and the
        index's centroid rows once per engine, so a call on a built index
        runs one Spark job; an unknown ``q_idx``, or a ``k`` or ``nprobe``
        below 1, raises ValueError naming it."""
        from vector_database_product_recommendation_spark.operators.ivf import ivf_knn

        _at_least_one(k=k, nprobe=nprobe)

        emb = self._review_vectors()
        batch = collect_queries(emb, F.col("vec_id") == q_idx)
        if not len(batch.ids):
            raise ValueError(f"review {q_idx!r} is not in the corpus")
        exact = exact_knn(emb, batch, k, exclude_self=True)
        _, assigned = self._review_index()
        ivf = ivf_knn(assigned, self._ivf_centroids, batch, k, nprobe, exclude_self=True)
        return exact, ivf

    def ann_tradeoff_table(self, **kw) -> DataFrame:
        """AN5: regenerate the reference's nprobe trade-off table on the
        review corpus (ann_tradeoff_table.csv lineage), against the same
        review index as E3."""
        from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff

        return ann_tradeoff(self._review_vectors(), self._review_index(), **kw)

    def _review_vectors(self) -> DataFrame:
        return self.review_emb.select(F.col("review_idx").alias("vec_id"), "embedding")

    def _review_index(self) -> tuple[DataFrame, DataFrame]:
        """The review corpus's IVF index (``ivf.build_ivf_index``), built on
        the first E3 or AN5 call and kept with its centroid arrays, which
        E3 hands to ``ivf_knn``: the reference's one shipped IndexIVFFlat,
        read by both."""
        from vector_database_product_recommendation_spark.operators.ivf import (
            build_ivf_index,
            collect_centroids,
        )

        if self._ivf is None:
            self._ivf = build_ivf_index(self._review_vectors())
            self._ivf_centroids = collect_centroids(self._ivf[0])
        return self._ivf


def _nullable_rank():
    """``rank``, nullable as in the driver path's replies whether a scan or a
    ``row_number`` minted it; the optimizer folds the guard away."""
    return F.when(F.col("rank").isNotNull(), F.col("rank")).alias("rank")


def _hit_rows(hits: DataFrame) -> DataFrame:
    """exact_knn's (query_id, neighbor_id, score, rank, *HIT_PAYLOAD) rows
    of one query as the API's (rank, id, score, *HIT_PAYLOAD), in rank
    order."""
    return hits.select(_nullable_rank(), F.col("neighbor_id").alias("id"), "score", *HIT_PAYLOAD)
