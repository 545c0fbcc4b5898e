"""TF-IDF + sparse cosine + hybrid blend as pure DataFrame programs.

The reference's model (SURVEY.md section 1.4, params [verified] from the
joblib pickle): sklearn TfidfVectorizer with token_pattern
``(?u)\\b\\w\\w+\\b``, english stop words, smooth_idf, l2 norm. Scoring
(section 2.6 F2-F4, app.py:202-210): sparse cosine of the query against
the WHOLE corpus, min-max rescale of the TF-IDF score over the candidate
set, then ``alpha*dense + (1-alpha)*tfidf_scaled`` (the dense side stays
raw — an asymmetry the reference ships, replicated per SURVEY 2.9.3).

Each rule is written once here and every caller routes through it:
``_tokens`` is the one tokenizer (corpus kernels and driver-side
queries), ``TfidfModel.scores`` the one sparse scorer (F2; tfidf_search,
hybrid_search and the serving engine's hybrid) and ``blend_hybrid`` the
one min-max blend (F3+F4; hybrid_search and the serving engine).

Representation: the long sparse form (doc_id, term, weight) — the exploded
(term, weight) join is the Spark-native sparse dot product, shuffles only
on `term`, and doubles as the DuckDB oracle form (SURVEY 7 hard-part v).

sklearn parity notes:
- smooth idf: ln((1+n)/(1+df)) + 1
- tf is the raw count (sublinear_tf=False), l2-normalized per doc AFTER
  tf*idf
- stop words are STOPWORDS_EN, our 20-word list, not sklearn's 318
  (vocabulary choice, not an algorithm difference).

One fitted state per corpus: ``TfidfModel``'s cached tf and df tables
(plus n) are the only term statistics. The capped-vocabulary model
(``TfidfModel.capped``) and BM25 (``bm25_search``) are views over them;
nothing re-tokenizes the corpus after the fit.

Scale notes: tf/df/norm are all hash aggregates with map-side combine; the
scored join broadcasts the query's terms (a query has O(10) terms). The
only full-corpus shuffles key on `term` and `doc_id`, both fine-grained.
"""

from __future__ import annotations

import re
from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN
from vector_database_product_recommendation_spark.functions.textprof import per_doc
from vector_database_product_recommendation_spark.lifetime import (
    local_frame,
    persist_right_sized,
    pin,
)
from vector_database_product_recommendation_spark.operators.knn import collect_queries, exact_scores

# sklearn's (?u)\b\w\w+\b — runs of >=2 word chars (ASCII corpus).
TOKEN_PATTERN = r"\w\w+"
# re.ASCII pins \w to [a-zA-Z0-9_], byte-identical to Java's default \w
# in regexp_extract_all, and ASCII lower() agrees with Java toLowerCase
# (oracle-verified across sf0.001/0.01/0.1): a non-ASCII query like
# "café" yields the same "caf" token as the Column form.
_token_pat = re.compile(TOKEN_PATTERN, flags=re.ASCII)
_STOP = frozenset(STOPWORDS_EN)

# Okapi BM25 term-frequency saturation and length normalization
BM25_K1 = 1.2
BM25_B = 0.75


def _tokens(text: str | None) -> list[str]:
    """The tokens of one string, in order: TOKEN_PATTERN runs over the
    lowercased text (None has none), STOPWORDS_EN dropped. The one
    tokenizer of every TF-IDF/BM25 path, the corpus kernel and
    driver-side queries alike."""
    return [w for w in _token_pat.findall((text or "").lower()) if w not in _STOP]


def _doc_term_counts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, tf) — term frequency per document, one ``per_doc``
    pass.

    Same values as exploding ``regexp_extract_all(lower(text),
    TOKEN_PATTERN)`` minus stop words, then ``groupBy("doc_id","term")
    .count()`` (the shape the DuckDB oracles mirror): term frequency is
    DOC-LOCAL, so counting inside the kernel removes the explode of every
    token occurrence AND the (doc_id, term) hash exchange. Tokens come
    from ``_tokens``, byte-identical to the Column form.
    """
    src = docs.select(F.col(id_col).alias("doc_id"), text_col)
    return per_doc(src, "term string, tf long", lambda t: Counter(_tokens(t)).items())


class TfidfModel:
    """The fitted state (tf, df, n) with the per-scan shuffles cached under
    the one persist rule (``lifetime.persist_right_sized``) —
    every downstream consumer (weights, query transform, search, hybrid,
    the capped view, BM25) derives from these without re-running
    tokenization/aggregation. The warehouse-scale analog is writing the
    tf/df tables once per corpus."""

    def __init__(self, docs: DataFrame, id_col: str, text_col: str):
        # corpus row count is FITTED STATE (sklearn stores it as n_samples_);
        # kept as a plain int so consumers fold it into expressions as a
        # literal (the old one-row crossJoin form re-scanned docs on every
        # query transform).
        self.n = docs.count()
        self.tf = persist_right_sized(_doc_term_counts(docs, id_col, text_col))
        self.dfreq = persist_right_sized(
            self.tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        )
        self._normalized_df: DataFrame | None = None

    def capped(self, max_features: int) -> TfidfModel:
        """The model with its vocabulary capped at ``max_features`` terms,
        as a view: tf and df are this model's cached tables restricted to
        the capped vocabulary, n is shared, and only the view's own
        normalized table is persisted (when first read). sklearn
        max_features semantics: keep the top-k vocabulary by total corpus
        term count (ties broken alphabetically — made explicit here where
        sklearn relies on sort stability); df on a kept term is the same
        count either way."""
        from pyspark.sql import Window

        vocab = F.broadcast(
            self.tf.groupBy("term")
            .agg(F.sum("tf").alias("cnt"))
            .withColumn(
                "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term")))
            )
            .filter(F.col("rk") <= max_features)
            .select("term")
        )
        # the view shares the fitted tables, so it skips the fit
        view = TfidfModel.__new__(TfidfModel)
        view.n = self.n
        view.tf = self.tf.join(vocab, "term")
        view.dfreq = self.dfreq.join(vocab, "term")
        view._normalized_df = None
        return view

    def _raw(self, tf: DataFrame, keys: list[str]) -> DataFrame:
        # (1 + n) enters as an exact integer literal — value-identical to
        # the previous one-row crossJoin, minus a job and a broadcast
        return (
            tf.join(self.dfreq, "term")
            .select(
                *keys,
                (
                    F.col("tf").cast("double")
                    * (F.log(F.lit(1 + self.n) / (1 + F.col("df"))) + F.lit(1.0))
                ).alias("w"),
            )
        )

    def _normalized(self) -> DataFrame:
        """The UNROUNDED l2-normalized weight table (doc_id, term, wn),
        cached once — every rounding level is a projection over it, so
        the normalize join+aggregate runs once per model instead of once
        per rounding level (and pins one cached copy, not one per level)."""
        if self._normalized_df is None:
            raw = self._raw(self.tf, ["doc_id", "term"])
            norms = raw.groupBy("doc_id").agg(
                F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
            )
            self._normalized_df = persist_right_sized(
                raw.join(norms, "doc_id").select(
                    "doc_id", "term", (F.col("w") / F.col("nrm")).alias("wn")
                )
            )
        return self._normalized_df

    def weights(self, round_decimals: int = 6) -> DataFrame:
        """l2-normalized smooth-idf TF-IDF, long sparse form
        (doc_id, term, weight), rounded per consumer contract — a cheap
        projection over the persisted normalized table (the reference's
        tfidf_matrix.joblib). round(w/nrm) is computed from the identical
        w/nrm double as before; only the persist boundary moved."""
        return self._normalized().select(
            "doc_id",
            "term",
            F.round(F.col("wn"), round_decimals).alias("weight"),
        ).orderBy("doc_id", "term")

    def transform_query(self, query_text: str) -> DataFrame:
        """One query string -> (term, qw) under the corpus-fitted idf.
        Unseen terms drop out (outside the fitted vocabulary, as in
        sklearn transform). Tiny result, meant to be broadcast.

        The query is a scalar parameter, not data, so its term counts are
        tokenized DRIVER-SIDE (``_tokens``, the fit's tokenizer) into a
        ``lifetime.local_frame``: no corpus-side job runs just to split
        one string. Counts are exact integers; every float enters
        downstream through the same engine expressions as the fit's. The
        same query text builds the same plan, so a re-run matches its
        cached (``lifetime.pin``ned) intermediates."""
        counts = sorted(Counter(_tokens(query_text)).items())
        q_tf = local_frame(self.tf.sparkSession, counts, "term string, tf long")
        raw = self._raw(q_tf, ["term"])
        nrm = raw.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        return raw.crossJoin(F.broadcast(nrm)).select(
            "term", (F.col("w") / F.col("nrm")).alias("qw")
        )

    def scores(
        self, query_text: str, candidates: DataFrame | None = None
    ) -> DataFrame:
        """F2, the one sparse scorer: (doc_id, ts), the cosine of the query
        against the fitted docs = sum over shared terms of qw*weight. The
        join broadcasts the query's terms, so the corpus side never
        shuffles before the per-doc sum. Docs sharing no term have no row;
        with ``candidates`` (a frame with a ``doc_id`` column) every
        candidate has one, 0.0 where no term is shared (as sklearn
        yields), and only candidates do."""
        w = self.weights(round_decimals=12)
        qw = self.transform_query(query_text)
        ts = (
            w.join(F.broadcast(qw), "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("weight") * F.col("qw")).alias("ts"))
        )
        if candidates is None:
            return ts
        return candidates.join(ts, "doc_id", "left").select(
            "doc_id", F.coalesce("ts", F.lit(0.0)).alias("ts")
        )


def blend_hybrid(sparse: DataFrame, dense: DataFrame, alpha: float, k: int) -> DataFrame:
    """F3+F4 (app.py:206-210), the one hybrid blend: min-max the sparse
    ``(doc_id, ts)`` over the candidate set it covers (guarded like
    app.py:207-208: no rescale when every score ties, an epsilon in
    the denominator), leave the dense ``(doc_id, vs)`` raw, and return the
    top-k ``(doc_id, score)`` of ``alpha*vs + (1-alpha)*scaled`` rounded
    to 6 decimals, by (score desc, doc_id asc). The top-k is a
    TakeOrderedAndProject: partition-local heaps, no full-set shuffle."""
    bounds = sparse.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
    scaled = sparse.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        F.when(
            F.col("mx") > F.col("mn"),
            (F.col("ts") - F.col("mn")) / (F.col("mx") - F.col("mn") + F.lit(1e-12)),
        )
        .otherwise(F.col("ts"))
        .alias("ts_scaled"),
    )
    return (
        scaled.join(dense, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.lit(alpha) * F.col("vs") + F.lit(1.0 - alpha) * F.col("ts_scaled"),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_search(query_text: str, model: TfidfModel, k: int) -> DataFrame:
    """F2: the top-k of the fitted ``model``'s ``scores``, rounded to 6
    decimals (the joblib-artifact serving path)."""
    return (
        model.scores(query_text)
        .select("doc_id", F.round("ts", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_search(
    query_text: str,
    query_vec_id,
    docs: DataFrame,
    emb: DataFrame,
    k: int,
    *,
    alpha: float,
    model: TfidfModel,
) -> DataFrame:
    """F3+F4 (app.py:202-210): hybrid = alpha*dense_dot + (1-alpha)*
    minmax(tfidf_cosine), replicating the reference's quirks exactly
    (SURVEY 2.9.2-3): TF-IDF cosine computed over the WHOLE corpus by the
    fitted ``model``, min-max over the candidate set (here: all ``docs``),
    dense side left raw: ``knn.exact_scores`` against the query item's
    collected vector, as in the serving engine's hybrid.
    """
    # sparse side — cosine for every doc; query-local pin: it feeds the
    # blend's min/max bounds agg AND its rescale projection
    sparse = pin(model.scores(query_text, docs.select("doc_id")))
    # dense side — raw products against the query item's own vector (E2 shape)
    batch = collect_queries(emb, F.col("vec_id") == F.lit(query_vec_id))
    dense = exact_scores(emb, batch, corpus_id="vec_id").select(
        F.col("neighbor_id").alias("doc_id"), F.col("score").alias("vs")
    )
    return blend_hybrid(sparse, dense, alpha, k)


def bm25_search(query_text: str, model: TfidfModel, k: int) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson et al., TREC-3), the lexical
    scorer the reference's TF-IDF path approximates: score(q, d) =
    sum over query terms of idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    with the always-positive Lucene idf ln(1 + (n-df+0.5)/(df+0.5)),
    k1 = BM25_K1 and b = BM25_B, over the STOPWORDS_EN-filtered tokens.

    Every corpus statistic is read off the fitted ``model``: tf is the
    query terms' rows of ``model.tf``, df their rows of ``model.dfreq``, n
    is ``model.n``, and a document's length dl is its summed tf (the same
    ``_tokens`` stream, so a document without tokens has no dl, as it has
    no tf). Query terms are tokenized driver-side by ``_tokens``; the
    corpus is not tokenized again. avgdl rides along as a broadcast
    crossJoin, so nothing collects to the driver. Per-term contributions
    round to 12 decimals before the sum so engine FP noise stays below
    the final 6-decimal round (same policy as TfidfModel).
    """
    qterms = sorted(set(_tokens(query_text)))
    k1, b = BM25_K1, BM25_B

    tf = model.tf.filter(F.col("term").isin(qterms))
    dl = model.tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = model.dfreq.filter(F.col("term").isin(qterms)).select(
        "term",
        F.log(
            F.lit(1.0) + (F.lit(model.n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
                12,
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
