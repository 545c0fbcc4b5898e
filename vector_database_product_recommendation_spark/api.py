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

The encoder is pluggable: hash_embedder by default (deterministic,
oracle-checkable), sentence_encoder(SBERT) when installed — matching the
reference's all-MiniLM-L6-v2 (app.py:84). NB: with the default hash
encoder, free-text scores differ from the reference's SBERT scores by
design; item-to-item / compare / ANN paths use the corpus vectors and
match the reference bit-for-bit (tests/test_reference_retrieval.py).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from vector_database_product_recommendation_spark.functions.embed import hash_embed_py
from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN
from vector_database_product_recommendation_spark.operators.knn import (
    exact_knn,
    exact_scores,
    item_to_item,
)
from vector_database_product_recommendation_spark.operators.tfidf import (
    TfidfModel,
    blend_hybrid,
)

# the product fields a search hit carries (app.py:186)
HIT_PAYLOAD = ("brand", "n_reviews", "avg_rating")


class ProductSearchEngine:
    """Serving engine over one catalog table (a row per product: its
    products.csv fields plus its unit ``embedding``) with optional
    (reviews, review_embeddings) for the ANN demo paths."""

    def __init__(
        self,
        catalog: DataFrame,
        *,
        reviews: DataFrame | None = None,
        review_emb: DataFrame | None = None,
        text_col: str = "example_text",
        encoder=None,
        stopwords: tuple[str, ...] = STOPWORDS_EN,
        embedding_dim: int | None = None,
    ):
        self.catalog = catalog
        self.reviews = reviews
        self.review_emb = review_emb  # (review_idx, embedding)
        self.text_col = text_col
        self.encoder = encoder  # None -> driver-side hash_embed_py
        self.stopwords = stopwords
        self.embedding_dim = embedding_dim  # lazily probed once if None
        self._tfidf = None
        # the free-text query frame only carries the schema: each request's
        # encoded vector reaches the kernel as query_rows
        self._text_query = catalog.sparkSession.createDataFrame(
            [], "query_id int, query_vec array<double>"
        )

    # -- construction -----------------------------------------------------

    @classmethod
    def from_reference_dir(cls, spark: SparkSession, ref_dir: str, **kw):
        """Build from the reference's shipped artifacts: reviews.csv +
        review_embeddings.npy, products/product-vectors REBUILT through
        this engine's lineage operators (proved identical in
        tests/test_reference_parity.py).

        Like the reference's ``@st.cache_resource``, the serving cache is
        built once, here: products joined with their vectors into one
        ``catalog`` table, sized by artifacts.persist_right_sized (~25k
        rows per partition, so one partition at the reference's size) and
        materialized before this returns. A request scans that one cached
        table with one kernel pass, which returns its hits with their
        payload, so nothing is joined per request: a vector or filtered
        search runs 1 Spark job, an item-to-item lookup 2 (the query
        vector's lookup, then the kernel) and a compare 1 (the selected
        vectors' lookup; tests/test_engine.py pins these). ``embedding_dim`` defaults to
        the .npy's width, so free-text search never probes the corpus
        for it.
        """
        from vector_database_product_recommendation_spark.artifacts import (
            persist_right_sized,
        )
        from vector_database_product_recommendation_spark.sources.reference import (
            load_embeddings_npy,
            load_reviews,
            rebuild_product_embeddings,
            rebuild_products,
        )

        npy = f"{ref_dir}/review_embeddings.npy"
        kw.setdefault("embedding_dim", int(np.load(npy, mmap_mode="r").shape[1]))
        # no .cache() here: load_reviews already persists the (expensive,
        # unsplittable multiLine) CSV parse; the returned frame only adds a
        # map lookup + cast on top of that cache, and re-caching it would
        # pin a second, redundant copy of every row
        reviews = load_reviews(spark, f"{ref_dir}/reviews.csv")
        review_emb = load_embeddings_npy(spark, npy).cache()
        products = rebuild_products(reviews)
        vectors = rebuild_product_embeddings(reviews, review_emb).select(
            "id", F.col("vector").alias("embedding")
        )
        catalog = persist_right_sized(products.join(vectors, "id"), products.count())
        return cls(
            catalog,
            reviews=reviews,
            review_emb=review_emb,
            **kw,
        )

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
        if self.encoder is not None:
            return self.encoder(query_text)
        if self.embedding_dim is None:
            # probed ONCE and memoized — the encode hot path must not run a
            # Spark job per free-text query (from_reference_dir reads the
            # width from the .npy; direct construction can pass it)
            self.embedding_dim = len(self.catalog.select("embedding").first()[0])
        return hash_embed_py(query_text, self.embedding_dim)

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
        """E1 (app.py:281-303): filter -> score -> top-k -> gather, the
        gather riding on the kernel's hits (exact_knn ``payload``)."""
        if mode not in ("vector", "hybrid"):
            raise ValueError(f"unknown mode {mode!r}")
        cand = self.candidate_products(
            brand=brand, min_rating=min_rating, min_reviews=min_reviews
        )
        rows = [(0, self._encode_query(query_text))]
        if mode == "vector":
            return _hit_rows(
                exact_knn(
                    cand,
                    self._text_query,
                    k,
                    corpus_id="id",
                    query_rows=rows,
                    payload=HIT_PAYLOAD,
                )
            )
        # F2-F4 with the reference's quirks: TF-IDF cosine over the WHOLE
        # catalog, min-max over the CANDIDATE set, dense side raw
        # (app.py:202-210). The blend needs every candidate's dense score,
        # not a ranking: exact_scores is the same BLAS kernel minus top-k
        # selection. No pin: engine calls never begin a registry query, so
        # nothing would release it.
        sparse = self._tfidf_model().scores(
            query_text, cand.select(F.col("id").alias("doc_id"))
        )
        dense = exact_scores(
            cand, self._text_query, corpus_id="id", query_rows=rows
        ).select(F.col("neighbor_id").alias("doc_id"), F.col("score").alias("vs"))
        top = blend_hybrid(sparse, dense, alpha, k, 6)
        # ranks are minted after the selection: the window sees k rows
        hits = top.select(F.col("doc_id").alias("id"), "score").withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("id")))
        )
        return (
            hits.join(self.catalog, "id")
            .select("rank", "id", "score", *HIT_PAYLOAD)
            .orderBy("rank")
        )

    def _tfidf_model(self) -> TfidfModel:
        if self._tfidf is None:
            self._tfidf = TfidfModel(
                self.catalog, "id", self.text_col, self.stopwords
            )
        return self._tfidf

    # -- E2: item-to-item -------------------------------------------------

    def search_by_product_id(self, pid, k: int = 5) -> DataFrame:
        """E2 (app.py:221-241): the query vector comes FROM the corpus.
        An unknown ``pid`` raises ValueError naming it."""
        return _hit_rows(
            item_to_item(self.catalog, pid, k, corpus_id="id", payload=HIT_PAYLOAD)
        )

    # -- J5: pairwise compare ---------------------------------------------

    def compare_products(self, pids: list) -> DataFrame:
        """J5 (app.py:348-354): pairwise similarity of 2-4 selected
        products, long form (id_a, id_b, score), rows sorted by
        (id_a, id_b). One job collects the selected vectors; the matrix
        is the reference's ``V @ V.T`` on the driver, each pair scored
        once so the cells are exactly symmetric, and comes back as an
        inline table, which Spark returns without a job. Unknown ids
        raise ValueError naming them, as does an empty ``pids``."""
        wanted = list(dict.fromkeys(pids))
        if not wanted:
            raise ValueError("no product ids to compare")
        vec = {
            r[0]: np.asarray(r[1], dtype=np.float64)
            for r in self.catalog.filter(F.col("id").isin(wanted))
            .select("id", "embedding")
            .collect()
        }
        missing = [p for p in wanted if p not in vec]
        if missing:
            raise ValueError(f"products {missing!r} are not in the catalog")
        ids = sorted(vec)
        score = {}
        for i, a in enumerate(ids):
            for b in ids[i:]:
                score[a, b] = score[b, a] = float(np.round(vec[a] @ vec[b], 6))
        cells = [(a, b, score[a, b]) for a in ids for b in ids]
        # named markers bind the ids as literals: no quoting, no injection
        rows = ", ".join(f"(:a{i}, :b{i}, :s{i})" for i in range(len(cells)))
        args = {f"{c}{i}": v for i, cell in enumerate(cells) for c, v in zip("abs", cell)}
        return self.catalog.sparkSession.sql(
            f"SELECT * FROM VALUES {rows} AS t(id_a, id_b, score)", args=args
        )

    # -- E3: ANN demo -----------------------------------------------------

    def ann_review_search(
        self, q_idx: int, *, k: int = 5, nprobe: int = 5, nlist: int | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """E3 (app.py:360-440): (exact, ivf) hit lists for one review
        query — the side-by-side demo. Requires review_emb."""
        from vector_database_product_recommendation_spark.operators.ivf import (
            assign_clusters,
            ivf_knn,
            train_kmeans_centroids,
        )

        emb = self.review_emb.select(
            F.col("review_idx").alias("vec_id"), "embedding"
        )
        q = emb.filter(F.col("vec_id") == q_idx).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = exact_knn(emb, q, k, exclude_self=True)
        n = emb.count()
        eff = nlist or max(2, int(n**0.5))
        cents = train_kmeans_centroids(emb, eff)
        assigned = assign_clusters(emb, cents)
        ivf = ivf_knn(assigned, cents, q, k, nprobe, exclude_self=True)
        return exact, ivf

    def ann_tradeoff_table(self, **kw) -> DataFrame:
        """AN5: regenerate the reference's nprobe trade-off table on the
        review corpus (ann_tradeoff_table.csv lineage)."""
        from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff

        emb = self.review_emb.select(
            F.col("review_idx").alias("vec_id"), "embedding"
        )
        return ann_tradeoff(emb, **kw)


def _hit_rows(hits: DataFrame) -> DataFrame:
    """exact_knn's (query_id, neighbor_id, score, rank, *HIT_PAYLOAD) rows
    of one query as the API's (rank, id, score, *HIT_PAYLOAD), in rank
    order."""
    return hits.select("rank", F.col("neighbor_id").alias("id"), "score", *HIT_PAYLOAD)
