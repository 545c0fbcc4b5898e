"""Query registry: every implemented operator exposed as (spark, sf_dir) ->
DataFrame, plus its DuckDB oracle SQL for the driver's correctness gate.

Column names are aliased identically on both sides (driver hash compares
sorted-by-name columns). Scores are computed in float64 and rounded to 6
decimals on BOTH engines before ranking, with (score DESC, id ASC) tie
breaks, per FIXTURES.md oracle notes.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from vector_database_product_recommendation_spark.operators import relational as R
from vector_database_product_recommendation_spark.operators.centroids import group_centroids_long
from vector_database_product_recommendation_spark.operators.knn import (
    QueryBatch,
    collect_queries,
    exact_knn,
    item_to_item,
    pairwise_similarity,
)
from vector_database_product_recommendation_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver supplies its own SparkSession, whose construction
            # confs we don't control. Timestamp literal parsing, NTZ<->LTZ
            # casts, and date_trunc all key off the session timezone, and
            # the DuckDB oracle reads the parquet wall-clock values as
            # naive — so deterministic comparison requires UTC. Both confs
            # are runtime-settable, so pinning here is safe and idempotent.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # lifetime contract: entering a DIFFERENT query releases the
            # previous query's query-local pins (at most one query's pins
            # are ever cached; pins must outlive their own call because
            # the result is lazy, and same-query re-runs keep them warm)
            from vector_database_product_recommendation_spark.lifetime import begin_query

            begin_query(name)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", name)
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# Relational shapes (SURVEY.md section 2.2/2.4/2.5)
# ---------------------------------------------------------------------------

register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)(R.q1_pricing_summary)

register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)(R.q3_shipping_priority)

register(
    "two_stage_retrieval",
    """
    WITH stats AS (
      SELECT l_partkey,
             count(*) AS n_lines,
             avg(l_quantity) AS avg_qty,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_partkey, p_name, p_brand, p_size, n_lines, avg_qty, revenue
    FROM part LEFT JOIN stats ON p_partkey = l_partkey
    WHERE lower(p_brand) = lower('Brand#3')
      AND coalesce(avg_qty, -1.0) >= 10.0
      AND coalesce(n_lines, 0) >= 5
    ORDER BY revenue DESC, p_partkey
    LIMIT 20
    """,
)(R.two_stage_retrieval)

register(
    "brand_domain",
    """
    SELECT DISTINCT lower(coalesce(p_brand, 'unknown')) AS brand
    FROM part ORDER BY brand
    """,
)(R.brand_domain)

register(
    "minmax_rescale",
    """
    WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
    SELECT o_orderkey,
           round((o_totalprice - mn) / (mx - mn + 1e-12), 6) AS price_scaled
    FROM orders, b
    ORDER BY o_orderkey
    """,
)(R.minmax_rescale)


# ---------------------------------------------------------------------------
# Vector kernels (SURVEY.md sections 2.3 J4/J5, 2.5 K1-K3, 2.4 A-g4)
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
pairs AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_inner_product(q.qv, c.cv), 6) AS score
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, score, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _knn_queries(emb: DataFrame) -> QueryBatch:
    """The KNN queries' batch: the 8 corpus rows with ``vec_id < 8``."""
    return collect_queries(emb, F.col("vec_id") < 8)


@register("knn_exact_batch", _KNN_ORACLE)
def _knn_exact_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return exact_knn(emb, _knn_queries(emb), 5)


_ITEM_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id = 7
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
pairs AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_inner_product(q.qv, c.cv), 6) AS score
  FROM q CROSS JOIN c
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, score, rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("knn_item_to_item", _ITEM_ORACLE)
def _knn_item_to_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return item_to_item(emb, 7, 10)


_PAIRWISE_ORACLE = """
WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 4)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v), 6) AS score
FROM s a CROSS JOIN s b
ORDER BY id_a, id_b
"""


@register("pairwise_similarity", _PAIRWISE_ORACLE)
def _pairwise_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pairwise_similarity(emb.filter(F.col("vec_id") < 4))


_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
m AS (
  SELECT label, pos, avg(val) AS m FROM ex GROUP BY label, pos
),
n AS (
  SELECT label, pos,
         m / (sqrt(sum(m * m) OVER (PARTITION BY label)) + 1e-12) AS val
  FROM m
)
SELECT label, pos, round(val, 6) AS val
FROM n ORDER BY label, pos
"""


@register("centroid_by_label", _CENTROID_ORACLE)
def _centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return group_centroids_long(emb, "label")


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline: lang-id, quality, tokens, fingerprint)
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.functions.text import (  # noqa: E402
    LANG_MARKERS,
    STOPWORDS_EN,
)
from vector_database_product_recommendation_spark.functions.textprof import (  # noqa: E402
    profile_docs_py,
)
from vector_database_product_recommendation_spark.operators import dedup as D  # noqa: E402

# Shared DuckDB fragments — must mirror the engine's tokenization exactly:
# tokens = lowercased whitespace split, zero-length dropped (the kernels'
# ``(text or "").lower().split()``); shingles = distinct word 3-grams,
# short docs -> one whole-text shingle (dedup._shingles_py); _h60 = first
# 60 bits of md5 as a positive BIGINT (= dedup._md5_60).
_TOKS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)"


def _h60(expr: str) -> str:
    return f"('0x'||substr(md5({expr}),1,15))::BIGINT"


_SHINGLES_CTE = f"""
t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+{D.SHINGLE_N - 1}], ' ')
                            FOR i IN range(1, greatest(len(toks)-{D.SHINGLE_N - 1},1)+1)]) AS shingles
      FROM t WHERE len(toks) > 0)
"""

_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

_PROFILE_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_tokens_re,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS mtl,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains([{_SW_LIST}], x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS swr,
         len(regexp_replace(lower(text), '\\s', '', 'g')) AS n_ch,
         len(regexp_replace(regexp_replace(lower(text), '\\s', '', 'g'), '[^a-z0-9]', '', 'g')) AS n_al
  FROM t
),
q AS (
  SELECT doc_id, n_tokens, n_tokens_re, mtl, swr,
         CASE WHEN n_ch > 0 THEN (n_ch - n_al)::DOUBLE / n_ch ELSE 0.0 END AS pr
  FROM p
)
SELECT doc_id, n_tokens, n_tokens_re,
       round(mtl, 6) AS mean_tok_len,
       round(swr, 6) AS stopword_ratio,
       round(pr, 6) AS punct_ratio,
       round(CAST(CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 0.25 ELSE 0.0 END
                + CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
                + CASE WHEN swr >= 0.01 THEN 0.25 ELSE 0.0 END
                + CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0.0 END AS DOUBLE), 6) AS quality
FROM q ORDER BY doc_id
"""


@register("doc_text_profile", _PROFILE_ORACLE)
def _doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one Arrow kernel pass (functions/textprof.py); rounding stays in the
    # engine
    docs = load_table(spark, sf_dir, "documents")
    prof = profile_docs_py(
        docs,
        (
            "n_tokens",
            "n_tokens_re",
            "mean_tok_len",
            "stopword_ratio",
            "punct_ratio",
            "quality",
        ),
    )
    return prof.select(
        "doc_id",
        "n_tokens",
        "n_tokens_re",
        F.round("mean_tok_len", 6).alias("mean_tok_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("quality", 6).alias("quality"),
    ).orderBy("doc_id")


def _lang_scores_sql() -> tuple[str, str]:
    cols, names = [], []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        cols.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x))) AS s_{lang}"
        )
        names.append(f"s_{lang}")
    return ",\n         ".join(cols), names


_LANG_COLS, _LANG_NAMES = _lang_scores_sql()
# CASE chain == the left fold of the profile kernel's language ID
# (functions/textprof.py; earlier lang wins ties)
_LANG_CASE = (
    "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' "
    "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' "
    "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"
)

_LANG_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sc AS (
  SELECT doc_id,
         {_LANG_COLS}
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest({", ".join(_LANG_NAMES)}) > 0 THEN {_LANG_CASE}
            ELSE 'und' END AS lang_pred
FROM sc ORDER BY doc_id
"""


@register("lang_id_pred", _LANG_ORACLE)
def _lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = profile_docs_py(load_table(spark, sf_dir, "documents"), ("lang",))
    return prof.withColumnRenamed("lang", "lang_pred").orderBy("doc_id")


_FPRINT_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM t ORDER BY doc_id
"""


@register("doc_fingerprint", _FPRINT_ORACLE)
def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = profile_docs_py(load_table(spark, sf_dir, "documents"), ("fingerprint",))
    return prof.orderBy("doc_id")


_REPETITION_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
ts AS (SELECT doc_id, max(c) AS top_c, count(*) AS n_distinct, sum(c) AS n_tok
       FROM tc GROUP BY 1),
bg0 AS (SELECT doc_id, [array_to_string(toks[i:i+1], ' ')
                        FOR i IN range(1, greatest(len(toks)-1, 0)+1)] AS bigrams
        FROM t),
bg AS (SELECT doc_id, unnest(bigrams) AS g FROM bg0),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
              sum(c) AS n_bg
       FROM bc GROUP BY 1)
SELECT t.doc_id, len(toks) AS n_tokens,
       round(CASE WHEN n_tok > 0 THEN n_distinct::DOUBLE / n_tok ELSE 0.0 END, 6)
         AS unique_token_ratio,
       round(CASE WHEN n_tok > 0 THEN top_c::DOUBLE / n_tok ELSE 0.0 END, 6)
         AS top_token_frac,
       round(CASE WHEN n_bg > 0 THEN dup_occ::DOUBLE / n_bg ELSE 0.0 END, 6)
         AS dup_bigram_frac
FROM t LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)
ORDER BY doc_id
"""


@register("doc_repetition_signals", _REPETITION_ORACLE)
def _doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.operators.quality import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding cosine)
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS text_hash,
       count(*) AS n_copies,
       min(doc_id) AS keep_id
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


@register("dedup_exact", _EXACT_DEDUP_ORACLE)
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


_NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM s),
cold AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= {D.MAX_DF}),
ex2 AS (SELECT ex.* FROM ex JOIN cold USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM ex2 GROUP BY doc_id),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM ex2 a JOIN ex2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 6) >= {D.JACCARD_THRESHOLD}
ORDER BY id_a, id_b
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import shingle_index

    return D.ngram_jaccard_pairs(shingle_index(spark, sf_dir)).orderBy("id_a", "id_b")


# Permutation constants mirror operators/dedup.py (_perm_constants): one
# md5-based base hash per shingle, then affine permutations mod 2^31-1.
from vector_database_product_recommendation_spark.operators.dedup import (  # noqa: E402
    _MERSENNE_P,
    _perm_constants,
)

_PERM_A, _PERM_B = _perm_constants(D.NUM_HASHES)
_CONSTS_SQL = f"(SELECT {_PERM_A} AS pa, {_PERM_B} AS pb) consts"
# signature rows per LSH band
_ROWS = D.NUM_HASHES // D.BANDS

_MINHASH_SIG_ORACLE = f"""
WITH {_SHINGLES_CTE},
hsrc AS (SELECT doc_id, list_transform(shingles,
                 sh -> {_h60("sh")} % {_MERSENNE_P}) AS hs FROM s)
SELECT doc_id, t2.seed,
       list_min(list_transform(hs,
                h -> (pa[t2.seed + 1] * h + pb[t2.seed + 1]) % {_MERSENNE_P})) AS minhash
FROM hsrc CROSS JOIN {_CONSTS_SQL} CROSS JOIN range(0, {D.NUM_HASHES}) t2(seed)
ORDER BY doc_id, t2.seed
"""


@register("minhash_signatures", _MINHASH_SIG_ORACLE)
def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(load_table(spark, sf_dir, "documents"))


_MINHASH_LSH_ORACLE = f"""
WITH {_SHINGLES_CTE},
hsrc AS (SELECT doc_id, shingles, list_transform(shingles,
                 sh -> {_h60("sh")} % {_MERSENNE_P}) AS hs FROM s),
mh AS (SELECT doc_id, shingles,
              list_transform(range(0, {D.NUM_HASHES}),
                sd -> list_min(list_transform(hs,
                       h -> (pa[sd + 1] * h + pb[sd + 1]) % {_MERSENNE_P}))) AS mh
       FROM hsrc CROSS JOIN {_CONSTS_SQL}),
banded AS (SELECT doc_id, j AS band,
                  md5(array_to_string(mh[j*{_ROWS}+1 : j*{_ROWS}+{_ROWS}], ',')) AS sig
           FROM mh CROSS JOIN range(0, {D.BANDS}) t2(j)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(ma.shingles, mb.shingles)) AS common,
         len(ma.shingles) AS sz_a, len(mb.shingles) AS sz_b
  FROM cand JOIN mh ma ON ma.doc_id = id_a JOIN mh mb ON mb.doc_id = id_b)
SELECT id_a, id_b,
       round(common::DOUBLE / (sz_a + sz_b - common), 6) AS jaccard
FROM verified
WHERE round(common::DOUBLE / (sz_a + sz_b - common), 6) >= {D.JACCARD_THRESHOLD}
ORDER BY id_a, id_b
"""


@register("dedup_minhash_lsh", _MINHASH_LSH_ORACLE)
def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import (
        minhash_signature_table,
    )

    return D.minhash_lsh_pairs(minhash_signature_table(spark, sf_dir))


_SIMHASH_CTE = f"""
t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, tk -> {_h60("tk")}) AS hs
      FROM t WHERE len(toks) > 0),
v AS (SELECT doc_id,
             list_transform(range(0, {D._SIMHASH_BITS}),
               b -> list_sum(list_transform(hs,
                      hh -> CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END))) AS votes
      FROM h),
sig AS (SELECT doc_id,
               list_sum(list_transform(range(0, {D._SIMHASH_BITS}),
                 b -> CASE WHEN votes[b+1] > 0 THEN (1::BIGINT << b)
                           ELSE 0 END))::BIGINT AS simhash
        FROM v)
"""

_SIMHASH_SIG_ORACLE = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sig ORDER BY doc_id"


@register("simhash_signatures", _SIMHASH_SIG_ORACLE)
def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signatures(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# bits per SimHash blocking chunk, as dedup.simhash_pairs splits them
_CHUNK_BITS = D._SIMHASH_BITS // D.SIMHASH_CHUNKS

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTE},
blocked AS (SELECT doc_id, simhash, c AS chunk_idx,
                   (simhash >> ({_CHUNK_BITS}*c)) & {(1 << _CHUNK_BITS) - 1} AS chunk
            FROM sig CROSS JOIN range(0, {D.SIMHASH_CHUNKS}) t2(c)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM blocked a JOIN blocked b
            ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
               AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {D.MAX_HAMMING} ORDER BY id_a, id_b
"""


@register("dedup_simhash", _SIMHASH_PAIRS_ORACLE)
def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import (
        simhash_signature_table,
    )

    return D.simhash_pairs(simhash_signature_table(spark, sf_dir))


_EMB_NEAR_DUP_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {D.COSINE_THRESHOLD}
ORDER BY id_a, id_b
"""


@register("dedup_embedding_cosine", _EMB_NEAR_DUP_ORACLE)
def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup(load_table(spark, sf_dir, "embeddings"))


# Fuzzy-dedup endgame: Jaccard pairs -> connected components -> keep/drop.
# Oracle computes the same components with a recursive label-closure CTE
# (min reachable id per vertex == min-label-propagation fixed point).
_DEDUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM s),
cold AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= {D.MAX_DF}),
ex2 AS (SELECT ex.* FROM ex JOIN cold USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM ex2 GROUP BY doc_id),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM ex2 a JOIN ex2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b
  FROM common JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 6) >= {D.JACCARD_THRESHOLD}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(u, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.u)
SELECT u AS doc_id, min(lbl) AS component_id, (u = min(lbl)) AS is_kept
FROM reach GROUP BY u ORDER BY doc_id
"""


@register("dedup_components", _DEDUP_COMPONENTS_ORACLE)
def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import shingle_index

    return D.dedup_components(
        load_table(spark, sf_dir, "documents"), shingle_index(spark, sf_dir)
    )


# SQ8 scalar-quantized KNN (operators/sq.py) — floor/minmax arithmetic is
# engine-exact, so the approximate path itself hash-matches DuckDB.
_SQ8_KNN_ORACLE = """
WITH dims AS (SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
              FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY i),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
ex AS (SELECT vec_id, i, embedding[i]::DOUBLE AS x
       FROM embeddings CROSS JOIN range(1, 65) t(i) WHERE vec_id <> 7),
rec AS (SELECT vec_id, i,
               mn + ((CASE WHEN mx > mn
                           THEN least(255, greatest(0, floor((x - mn) * 256.0 / (mx - mn))))
                           ELSE 0 END) + 0.5) * (mx - mn) / 256.0 AS xhat
        FROM ex JOIN dims USING (i)),
approx AS (SELECT vec_id, round(sum(xhat * qv[i]), 6) AS approx_score
           FROM rec CROSS JOIN q GROUP BY vec_id),
cand AS (SELECT vec_id, approx_score FROM approx
         ORDER BY approx_score DESC, vec_id LIMIT 80)
SELECT c.vec_id,
       round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score,
       c.approx_score
FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


@register("sq8_knn", _SQ8_KNN_ORACLE)
def _sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.operators.sq import sq8_knn

    return sq8_knn(load_table(spark, sf_dir, "embeddings"), query_id=7, k=20)


# ---------------------------------------------------------------------------
# Lineage pipeline (M0: reviews -> products, SURVEY.md sections 1.1, 2.4)
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators.lineage import docs_to_catalog  # noqa: E402
from vector_database_product_recommendation_spark.operators.tfidf import (  # noqa: E402
    hybrid_search,
    tfidf_search,
)

_CATALOG_ORACLE = """
WITH r AS (SELECT doc_id, source, lang, n_chars,
                  lower(concat_ws(' ', text, lang, source)) AS combined_text
           FROM documents)
SELECT source AS group_id,
       count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       arg_min(combined_text, doc_id) AS example_text,
       arg_min(lang, doc_id) AS first_lang
FROM r GROUP BY source ORDER BY group_id
"""


@register("products_from_reviews", _CATALOG_ORACLE)
def _products_from_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs_to_catalog(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TF-IDF + hybrid (M4, SURVEY.md sections 1.4, 2.6 F2-F4)
# ---------------------------------------------------------------------------

# Mirrors operators/tfidf.py exactly: sklearn token pattern \w\w+, our
# stop-word list, smooth idf ln((1+n)/(1+df))+1, l2 norm, weights rounded
# to 12 decimals before scoring (so engine FP noise stays below the final
# 6-decimal round).
_TFIDF_CTE = f"""
terms AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(lower(text), '\\w\\w+'),
                            t -> NOT list_contains([{_SW_LIST}], t))) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
raw AS (SELECT doc_id, term, tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM raw GROUP BY 1),
weights AS (SELECT doc_id, term, round(w / nrm, 12) AS weight
            FROM raw JOIN nrm USING (doc_id))
"""

_QUERY_TERMS_CTE = f"""
q_terms AS (
  SELECT unnest(list_filter(regexp_extract_all(lower(text), '\\w\\w+'),
                            t -> NOT list_contains([{_SW_LIST}], t))) AS term
  FROM documents WHERE doc_id = 7),
q_tf AS (SELECT term, count(*) AS tf FROM q_terms GROUP BY 1),
q_raw AS (SELECT term, tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
          FROM q_tf JOIN dfreq USING (term) CROSS JOIN n),
q_nrm AS (SELECT sqrt(sum(w * w)) AS nrm FROM q_raw),
qw AS (SELECT term, w / nrm AS qw FROM q_raw CROSS JOIN q_nrm)
"""

_TFIDF_WEIGHTS_ORACLE = f"""
WITH {_TFIDF_CTE}
SELECT doc_id, term, round(weight, 6) AS weight FROM weights
ORDER BY doc_id, term
"""


@register("tfidf_weights", _TFIDF_WEIGHTS_ORACLE)
def _tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import fitted_tfidf

    return fitted_tfidf(spark, sf_dir).weights()


_TFIDF_SEARCH_ORACLE = f"""
WITH {_TFIDF_CTE},
{_QUERY_TERMS_CTE}
SELECT doc_id, round(sum(weight * qw), 6) AS score
FROM weights JOIN qw USING (term)
GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
"""


@register("tfidf_search", _TFIDF_SEARCH_ORACLE)
def _tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import fitted_tfidf

    docs = load_table(spark, sf_dir, "documents")
    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    return tfidf_search(qtext, fitted_tfidf(spark, sf_dir), k=20)


_HYBRID_ORACLE = f"""
WITH {_TFIDF_CTE},
{_QUERY_TERMS_CTE},
ts0 AS (SELECT doc_id, sum(weight * qw) AS ts FROM weights JOIN qw USING (term) GROUP BY doc_id),
ts AS (SELECT d.doc_id, coalesce(ts0.ts, 0.0) AS ts
       FROM documents d LEFT JOIN ts0 ON d.doc_id = ts0.doc_id),
b AS (SELECT min(ts) AS mn, max(ts) AS mx FROM ts),
scaled AS (SELECT doc_id,
                  CASE WHEN mx > mn THEN (ts - mn) / (mx - mn + 1e-12) ELSE ts END AS ts_scaled
           FROM ts CROSS JOIN b),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
dense AS (SELECT vec_id AS doc_id, list_inner_product(embedding::DOUBLE[], qv.v) AS vs
          FROM embeddings CROSS JOIN qv)
SELECT s.doc_id, round(0.7 * vs + 0.3 * ts_scaled, 6) AS score
FROM scaled s JOIN dense USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 20
"""


@register("hybrid_search", _HYBRID_ORACLE)
def _hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    from vector_database_product_recommendation_spark.artifacts import fitted_tfidf

    return hybrid_search(
        qtext, 7, docs, emb, k=20, alpha=0.7, model=fitted_tfidf(spark, sf_dir)
    )


_BM25_ORACLE = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(lower(text), '\\w\\w+'),
                            t -> NOT list_contains([{_SW_LIST}], t))) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
qt AS (SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower(text), '\\w\\w+'),
                              t -> NOT list_contains([{_SW_LIST}], t))) AS term
       FROM documents WHERE doc_id = 7),
idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
        FROM dfreq CROSS JOIN n),
contrib AS (
  SELECT doc_id,
         round(idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 12) AS c
  FROM tf JOIN qt USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id) CROSS JOIN avgdl)
SELECT doc_id, round(sum(c), 6) AS score
FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
"""


@register("bm25_search", _BM25_ORACLE)
def _bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import fitted_tfidf
    from vector_database_product_recommendation_spark.operators.tfidf import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    qtext = docs.filter(F.col("doc_id") == 7).select("text").first()[0]
    return bm25_search(qtext, fitted_tfidf(spark, sf_dir), k=20)


# ---------------------------------------------------------------------------
# Encoder UDF + free-text retrieval (M3, E1 vector path)
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators.eval import ann_tradeoff  # noqa: E402
from vector_database_product_recommendation_spark.operators.ivf import (  # noqa: E402
    collect_centroids,
    ivf_knn,
)

_FREE_TEXT_Q = "spark fast table join query scan stream window"


def _free_text_batch() -> QueryBatch:
    """The free-text queries' one query, encoded on the driver."""
    import numpy as np

    from vector_database_product_recommendation_spark.functions.embed import hash_embed_py

    return QueryBatch(np.array([0]), np.asarray([hash_embed_py(_FREE_TEXT_Q)]), "bigint")


# Mirrors functions/embed.py hash_embed_py: bucket = h % 384, sign from
# (h // 384) parity, l2 norm with +1e-12; dense dot == sparse sum over
# shared buckets because absent buckets are zero.
_FREE_TEXT_ORACLE = f"""
WITH t0 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
t AS (SELECT * FROM t0 WHERE len(toks) > 0),
ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
hb AS (SELECT doc_id, h % 384 AS bucket,
              CASE WHEN (h // 384) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
       FROM (SELECT doc_id, {_h60("term")} AS h FROM ex)),
sp AS (SELECT doc_id, bucket, sum(sgn) AS v FROM hb GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) + 1e-12 AS nrm FROM sp GROUP BY 1),
dv AS (SELECT sp.doc_id, bucket, v / nrm AS v FROM sp JOIN nrm USING (doc_id)),
qex AS (SELECT unnest(list_filter(string_split_regex(lower(trim('{_FREE_TEXT_Q}')), '\\s+'),
                                  x -> len(x) > 0)) AS term),
qhb AS (SELECT h % 384 AS bucket,
               CASE WHEN (h // 384) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        FROM (SELECT {_h60("term")} AS h FROM qex)),
qsp AS (SELECT bucket, sum(sgn) AS v FROM qhb GROUP BY 1),
qn AS (SELECT sqrt(sum(v * v)) + 1e-12 AS nrm FROM qsp),
qdv AS (SELECT bucket, v / nrm AS v FROM qsp CROSS JOIN qn),
scored AS (SELECT doc_id, round(sum(dv.v * qdv.v), 6) AS score
           FROM dv JOIN qdv USING (bucket) GROUP BY doc_id),
ranked AS (SELECT 0 AS query_id, doc_id AS neighbor_id, score,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 10 ORDER BY rank
"""


@register("free_text_search", _FREE_TEXT_ORACLE)
def _free_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serving path: corpus embeddings are a prebuilt artifact
    # (review_embeddings.npy analog); only the query encodes per request.
    from vector_database_product_recommendation_spark.artifacts import encoded_documents

    corpus = encoded_documents(spark, sf_dir)
    return exact_knn(corpus, _free_text_batch(), 10)


# ---------------------------------------------------------------------------
# IVF + ANN evaluation (M5/M6, AN2-AN5) — KMeans is iterative, so these are
# rows-only checks by design; the exactness guarantee comes from the
# metamorphic test ivf(nprobe=nlist) == exact in tests/test_ivf.py.
# ---------------------------------------------------------------------------


@register("ivf_knn_probe")
def _ivf_knn_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = ivf_index(spark, sf_dir)
    return ivf_knn(assigned, collect_centroids(cents), _knn_queries(emb), 5, nprobe=5)


# nprobe >= nlist probes every inverted list, so IVF degenerates to exact
# search (ivf.ivf_knn scores the union of all clusters in exact_knn's one
# scan, knn.topk_scan, with its rounding and tie-break) — the plain KNN
# oracle checks the whole train/assign/probe pipeline end-to-end, turning
# the AN2-AN4 family from pytest-only into driver-verified.
@register("ivf_knn_exactprobe", _KNN_ORACLE)
def _ivf_knn_exactprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = ivf_index(spark, sf_dir)
    return ivf_knn(assigned, collect_centroids(cents), _knn_queries(emb), 5, nprobe=10**9)


@register("ann_tradeoff")
def _ann_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_tradeoff(
        emb,
        n_queries=32,
        k=10,
        nprobes=(1, 2, 5, 10, 20),
        index=ivf_index(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Event-log operators + multimodal plumbing
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators.multimodal import (  # noqa: E402
    attach_payload,
    extract_features,
)
from vector_database_product_recommendation_spark.streaming.events import (  # noqa: E402
    SESSION_GAP_MINUTES,
    json_props_agg,
    sessionize,
    windowed_event_agg,
)

_WINDOWED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("events_windowed_agg", _WINDOWED_ORACLE)
def _events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_event_agg(load_table(spark, sf_dir, "events"))


# Gaps-and-islands mirror of Spark session_window semantics: an event at
# exactly prev_ts + gap does NOT merge ([start, end) windows), so a new
# session starts when ts >= prev + gap; session_end = last ts + gap.
_SESSION_ORACLE = f"""
WITH o AS (SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
m AS (SELECT user_id, ts, value,
             CASE WHEN prev IS NULL OR ts >= prev + INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM o),
g AS (SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("events_sessionization", _SESSION_ORACLE)
def _events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


_JSON_ORACLE = """
SELECT event_type, count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY 1 ORDER BY 1
"""


@register("events_json_props", _JSON_ORACLE)
def _events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return json_props_agg(load_table(spark, sf_dir, "events"))


# DuckDB md5(VARCHAR) hashes the UTF-8 bytes == Spark md5(text::binary),
# so the oracle can hash the text while Spark hashes the binary payload.
_MULTIMODAL_ORACLE = f"""
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id, j AS pos,
       ({_h60("hx||'|'||j")} % 1000000)::DOUBLE / 1000000.0 AS val
FROM h CROSS JOIN range(0, 8) t2(j)
ORDER BY doc_id, pos
"""


@register("multimodal_features", _MULTIMODAL_ORACLE)
def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("pos", "val")
    ).orderBy("doc_id", "pos")


# ---------------------------------------------------------------------------
# Relational breadth: filter-sum, semi join, anti join, salted aggregate
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators.skew import salted_event_rollup  # noqa: E402

register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)(R.q6_forecast_revenue)

register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)(R.q4_order_priority)

register(
    "dormant_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-11-01')
    ORDER BY c_custkey
    """,
)(R.dormant_customers)

# The salted two-phase aggregate must equal the plain group-by exactly —
# the oracle IS the unsalted form.
_SALTED_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(sum(value) / count(*), 6) AS avg_value,
       max(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("salted_event_rollup", _SALTED_ORACLE)
def _salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_event_rollup(load_table(spark, sf_dir, "events"))


# LSH-blocked embedding near-dup: the 100-TB path. The Rademacher planes
# are deterministic md5 bit-math (operators/dedup.py:_rademacher_planes —
# entry (p,d) flips on the low bit of md5(f"{p}|{d}")[:15]), so DuckDB can
# rebuild the identical plane matrix, band keys, and candidate set; the
# exact-verify step is list_inner_product. The metamorphic audit vs the
# exact operator remains in tests/test_text_dedup.py.
_EMB_LSH_ORACLE = f"""
WITH planes AS (
  SELECT p, d,
         CASE WHEN strpos('02468ace', substr(md5(p::VARCHAR || '|' || d::VARCHAR), 15, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(0, 16)) AS p),
       (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d)
),
ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
proj AS (
  SELECT ex.vec_id, pl.p, sum(ex.v * pl.w) AS s
  FROM ex JOIN planes pl USING (d) GROUP BY 1, 2
),
bands AS (
  SELECT vec_id, p // 4 AS band_idx,
         sum(CASE WHEN s >= 0 THEN 1 << (p % 4) ELSE 0 END) AS band_key
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT id_a, id_b, round(list_inner_product(va.e, vb.e), 6) AS score
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE round(list_inner_product(va.e, vb.e), 6) >= {D.COSINE_THRESHOLD}
ORDER BY id_a, id_b
"""


@register("dedup_embedding_lsh", _EMB_LSH_ORACLE)
def _dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import (
        embedding_band_table,
    )

    return D.embedding_near_dup_lsh(
        load_table(spark, sf_dir, "embeddings"), embedding_band_table(spark, sf_dir)
    )


# max_features vocabulary cap (sklearn semantics: top-k vocab by total
# corpus count, alphabetical tie-break) — the single-window rank over the
# term-count aggregate is tiny (vocab-sized), so the unpartitioned window
# is safe at any corpus scale.
from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN as _SW  # noqa: E402

_TFIDF_CAPPED_ORACLE = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(lower(text), '\\w\\w+'),
                            t -> NOT list_contains([{_SW_LIST}], t))) AS term
  FROM documents),
tf0 AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
vocab AS (SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY sum(tf) DESC, term) AS rk
            FROM tf0 GROUP BY term) WHERE rk <= 20),
tf AS (SELECT tf0.* FROM tf0 JOIN vocab USING (term)),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
raw AS (SELECT doc_id, term, tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM raw GROUP BY 1)
SELECT doc_id, term, round(w / nrm, 6) AS weight
FROM raw JOIN nrm USING (doc_id)
ORDER BY doc_id, term
"""


@register("tfidf_weights_capped", _TFIDF_CAPPED_ORACLE)
def _tfidf_weights_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import fitted_tfidf

    return fitted_tfidf(spark, sf_dir).capped_weights(20)


_FORMAT_ORACLE = f"""
SELECT doc_id, lang, source,
       concat(substring(text, 1, {R.PREVIEW_LEN}), '...') AS text_preview
FROM documents ORDER BY doc_id LIMIT 25
"""


@register("format_results", _FORMAT_ORACLE)
def _format_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    return R.format_results(
        docs,
        ["doc_id", "lang", "source", "text", "missing_col_is_skipped"],
        preview_col="text",
        head=25,
    )


register(
    "revenue_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)(R.revenue_rollup)


# As-of join oracle: DuckDB's native ASOF LEFT JOIN with the same strict
# inequality. Feature: per event, the user's most recent EARLIER click and
# the gap in seconds.
from vector_database_product_recommendation_spark.operators.asof import asof_join  # noqa: E402

_ASOF_ORACLE = """
SELECT a.event_id, a.user_id, a.ts,
       b.ts AS last_click_ts,
       round(CASE WHEN b.ts IS NULL THEN NULL
                  ELSE epoch(a.ts) - epoch(b.ts) END, 6) AS gap_sec
FROM events a ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
  ON a.user_id = b.user_id AND b.ts < a.ts
ORDER BY a.event_id
"""


@register("events_asof_last_click", _ASOF_ORACLE)
def _events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    joined = asof_join(events, clicks, on="user_id")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("last_click_ts"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("asof_ts")) / F.lit(1_000_000.0), 6
        ).alias("gap_sec"),
    ).orderBy("event_id")


# Keyed range join oracle: plain inequality join in DuckDB. Intervals =
# 10-minute attention windows opened by each click; points = all events of
# the same user falling inside a window (excluding the opening click row
# pairing with itself at start boundary is fine: start <= ts).
from vector_database_product_recommendation_spark.operators.rangejoin import range_join  # noqa: E402

_RANGE_ORACLE = """
WITH iv AS (SELECT event_id AS click_id, user_id, ts AS start_ts,
                   ts + INTERVAL 10 MINUTE AS end_ts
            FROM events WHERE event_type = 'click')
SELECT a.event_id, a.user_id, a.ts, iv.click_id, iv.start_ts
FROM events a JOIN iv
  ON a.user_id = iv.user_id AND a.ts >= iv.start_ts AND a.ts < iv.end_ts
ORDER BY a.event_id, iv.click_id
"""


@register("events_range_join", _RANGE_ORACLE)
def _events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    iv = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    joined = range_join(events.select("event_id", "user_id", "ts"), iv, on="user_id")
    return joined.select(
        "event_id", "user_id", "ts", "click_id", "start_ts"
    ).orderBy("event_id", "click_id")


# Rolling window aggregation (time-series feature): per-user 5-row moving
# average of value, deterministic ordering (ts, event_id).
_ROLLING_ORACLE = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma5
FROM events ORDER BY event_id
"""


@register("events_rolling_avg", _ROLLING_ORACLE)
def _events_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("ma5")
    ).orderBy("event_id")


# Exact interpolated percentiles: Spark percentile() and DuckDB
# quantile_cont share linear-interpolation semantics.
_PCTL_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("events_value_percentiles", _PCTL_ORACLE)
def _events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


# Set operations: INTERSECT / EXCEPT over per-type user sets.
_SETOPS_ORACLE = """
SELECT 'both' AS segment, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT 'click_only' AS segment, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error')
ORDER BY segment, user_id
"""


@register("events_user_setops", _SETOPS_ORACLE)
def _events_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    errors = events.filter(F.col("event_type") == "error").select("user_id")
    both = clicks.intersect(errors).select(F.lit("both").alias("segment"), "user_id")
    # subtract == EXCEPT (set semantics), matching the SQL EXCEPT above;
    # exceptAll would be bag semantics and leave duplicate survivors
    only = clicks.subtract(errors).select(
        F.lit("click_only").alias("segment"), "user_id"
    )
    return both.unionByName(only).orderBy("segment", "user_id")


# ---------------------------------------------------------------------------
# Relational breadth, star shapes: multi-way star join, outer-join
# histogram, grouped top-k, CUBE (SURVEY.md section 2.2/2.4/2.5 generalizations)
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

register("q5_regional_revenue", _Q5_ORACLE)(R.q5_regional_revenue)

_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

register("q13_order_count_distribution", _Q13_ORACLE)(R.q13_order_count_distribution)

_TOPN_ORACLE = """
WITH rev AS (
  SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem GROUP BY l_partkey),
j AS (SELECT p_brand, p_partkey, p_name, revenue
      FROM rev JOIN part ON l_partkey = p_partkey),
r AS (SELECT *, dense_rank() OVER (PARTITION BY p_brand
                                   ORDER BY revenue DESC, p_partkey) AS rk
      FROM j)
SELECT p_brand, p_partkey, p_name, revenue, rk
FROM r WHERE rk <= 3 ORDER BY p_brand, rk, p_partkey
"""

register("top_parts_per_brand", _TOPN_ORACLE)(R.top_parts_per_brand)

_CUBE_ORACLE = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(o_orderpriority, 'ALL') AS priority,
       round(sum(o_totalprice), 4) AS total_price,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE n_nationkey < 5
GROUP BY CUBE (n_name, o_orderpriority)
ORDER BY nation, priority
"""

register("nation_revenue_cube", _CUBE_ORACLE)(R.nation_revenue_cube)


# Per-user running totals as cumulative window + lag delta. Partitioned by
# user_id -> one shuffle, no global sort.
_RUNNING_ORACLE = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_value,
       round(value - coalesce(lag(value) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id), 0.0), 6)
         AS delta_value
FROM events WHERE user_id < 50
ORDER BY user_id, ts, event_id
"""


@register("events_user_running_total", _RUNNING_ORACLE)
def _events_user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("running_value"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 6
        ).alias("delta_value"),
    ).orderBy("user_id", "ts", "event_id").drop("ts")


# Approximate distinct (HyperLogLog++): the sketch path for 100 TB distinct
# counts — one pass, mergeable partial sketches, no exact-distinct
# re-shuffle. Rows-only by design (sketch estimates differ across engines);
# tests/test_relational2.py bounds the relative error against the exact
# count (rsd=0.05 default).
@register("events_approx_uniques")
def _events_approx_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count_distinct(F.col("user_id")).alias("exact_users"),
        )
        .orderBy("event_type")
    )


# Dimension enrichment join: events x broadcast customer dim, hourly
# counts per market segment.
_ENRICHED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("events_enriched_segment_counts", _ENRICHED_ORACLE)
def _events_enriched_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.streaming.events import enriched_segment_counts

    return enriched_segment_counts(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


# Corpus-prep composite pipeline (lang gate -> quality gate -> fingerprint
# dedup -> funnel): the training-data job shape, every stage mirrored in
# the oracle from the same fragments as doc_text_profile / lang_id_pred /
# doc_fingerprint.
_PIPELINE_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
sc AS (SELECT doc_id, {_LANG_COLS} FROM t),
lang AS (
  SELECT doc_id,
         CASE WHEN greatest({", ".join(_LANG_NAMES)}) > 0 THEN {_LANG_CASE}
              ELSE 'und' END AS lang
  FROM sc),
p AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS mtl,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains([{_SW_LIST}], x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS swr,
         len(regexp_replace(lower(text), '\\s', '', 'g')) AS n_ch,
         len(regexp_replace(regexp_replace(lower(text), '\\s', '', 'g'), '[^a-z0-9]', '', 'g')) AS n_al,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
  FROM t),
q AS (
  SELECT doc_id, n_tokens, fingerprint,
         CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 0.25 ELSE 0.0 END
       + CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
       + CASE WHEN swr >= 0.01 THEN 0.25 ELSE 0.0 END
       + CASE WHEN (CASE WHEN n_ch > 0 THEN (n_ch - n_al)::DOUBLE / n_ch ELSE 0.0 END) <= 0.3
              THEN 0.25 ELSE 0.0 END AS quality
  FROM p),
gated AS (
  SELECT q.* FROM q JOIN lang USING (doc_id)
  WHERE lang.lang = 'en' AND q.quality >= 0.75),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1)
SELECT 'raw' AS stage, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM q
UNION ALL
SELECT 'lang_quality_gate', count(*), CAST(sum(n_tokens) AS BIGINT) FROM gated
UNION ALL
SELECT 'fingerprint_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM deduped
"""


@register("corpus_prep_pipeline", _PIPELINE_ORACLE)
def _corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.operators.corpus import corpus_prep_pipeline

    return corpus_prep_pipeline(spark, sf_dir)


# Full E2 lifecycle (app.py:306-316): item-to-item KNN -> metadata gather
# (J2 positional gather becomes a join on the minted id) -> projection +
# preview truncation (P5/P8, format_results shape) — the reference's
# complete serving path as ONE declarative plan.
_RECOMMEND_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id = 7
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
pairs AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_inner_product(q.qv, c.cv), 6) AS score
  FROM q CROSS JOIN c
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT r.rank, r.neighbor_id AS doc_id, r.score,
       d.lang, d.source,
       substring(d.text, 1, 40) || '...' AS preview
FROM ranked r JOIN documents d ON r.neighbor_id = d.doc_id
WHERE r.rank <= 10
ORDER BY r.rank
"""


@register("recommend_similar_docs", _RECOMMEND_ORACLE)
def _recommend_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    hits = item_to_item(emb, 7, 10)
    return (
        hits.join(docs, hits.neighbor_id == docs.doc_id)
        .select(
            "rank",
            F.col("neighbor_id").alias("doc_id"),
            "score",
            "lang",
            "source",
            F.concat(F.substring("text", 1, 40), F.lit("...")).alias("preview"),
        )
        .orderBy("rank")
    )


# Full E1 lifecycle (app.py:281-303): metadata prefilter (stage 1) ahead of
# the encoder/scoring stage (stage 2) — the filter is a plain Column
# predicate, so Catalyst pushes it into the parquet scan BEFORE the hash-
# embed kernel sees a row (the reference's candidate_indices() ordering,
# here enforced by the optimizer instead of by hand).
_FREE_TEXT_FILTERED_ORACLE = _FREE_TEXT_ORACLE.replace(
    "AS toks FROM documents)",
    "AS toks FROM documents WHERE lang = 'en' AND n_chars >= 50)",
)


@register("free_text_filtered_search", _FREE_TEXT_FILTERED_ORACLE)
def _free_text_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage 1: metadata prefilter (pushed into the documents scan) as a
    # semi-join against the prebuilt embedding artifact; stage 2: scored
    # join + top-k. Mirrors the reference: candidate_indices() filters
    # metadata, then gathers PREcomputed vectors (app.py:156-188).
    from vector_database_product_recommendation_spark.artifacts import encoded_documents

    cand = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 50))
        .select(F.col("doc_id").alias("vec_id"))
    )
    corpus = encoded_documents(spark, sf_dir).join(cand, "vec_id")
    return exact_knn(corpus, _free_text_batch(), 10)


# On-disk inverted file: the probe runs against the cluster-partitioned
# parquet store, so `cluster_id IN (probed)` is native PARTITION PRUNING —
# only nprobe/nlist of the files are opened (asserted in
# tests/test_plans.py::test_ivf_store_partition_pruning). Rows-only:
# KMeans assignment is iterative; exactness is pinned by the
# ivf(nprobe=nlist)==exact metamorphic test.
@register("ivf_store_pruned_probe")
def _ivf_store_pruned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import ivf_store

    emb = load_table(spark, sf_dir, "embeddings")
    cents, store = ivf_store(spark, sf_dir)
    return ivf_knn(store, collect_centroids(cents), _knn_queries(emb), 5, nprobe=5)


# Probing every partition of the persisted IVF store degenerates to exact
# search, so the plain KNN oracle hash-verifies the full store lifecycle —
# kmeans train, assign, partitionBy('cluster_id') write, read, probe —
# end-to-end (the nprobe=5 variant above additionally proves pruning via
# tests/test_plans.py PartitionFilters).
@register("ivf_store_exactprobe", _KNN_ORACLE)
def _ivf_store_exactprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import ivf_store

    emb = load_table(spark, sf_dir, "embeddings")
    cents, store = ivf_store(spark, sf_dir)
    return ivf_knn(store, collect_centroids(cents), _knn_queries(emb), 5, nprobe=10**9)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD'03) — rolling k-gram
# hash + per-window min; the MOSS document-fingerprinting algorithm as
# pure array expressions in both engines.
# ---------------------------------------------------------------------------

_WINNOW_CTE = f"""
t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
base AS (SELECT doc_id, toks, len(toks) AS n FROM t),
kg AS (
  SELECT doc_id,
         CASE WHEN n < 4 THEN [{_h60("array_to_string(toks, ' ')")}]
              ELSE list_transform(range(1, n - 2),
                                  i -> {_h60("array_to_string(toks[i:i+3], ' ')")})
         END AS kgrams
  FROM base),
wins AS (
  SELECT doc_id,
         CASE WHEN len(kgrams) < 5 THEN [list_min(kgrams)]
              ELSE list_transform(range(1, len(kgrams) - 3),
                                  j -> list_min(kgrams[j:j+4]))
         END AS wins
  FROM kg),
fp AS (SELECT doc_id, unnest(list_sort(list_distinct(wins))) AS fp FROM wins)
"""

_WINNOW_SIG_ORACLE = f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fp FROM fp ORDER BY doc_id, fp
"""


@register("winnow_fingerprints", _WINNOW_SIG_ORACLE)
def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import (
        winnow_fingerprint_table,
    )

    return winnow_fingerprint_table(spark, sf_dir).orderBy("doc_id", "fp")


# Near-dup candidates: documents sharing >= WINNOW_MIN_SHARED winnowing
# fingerprints (inverted-index self-join on fp — the MOSS match step; hot
# fingerprints capped at MAX_DF like the n-gram jaccard stop-shingles).
_WINNOW_PAIRS_ORACLE = f"""
WITH {_WINNOW_CTE},
cold AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {D.MAX_DF}),
f AS (SELECT fp.* FROM fp JOIN cold USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {D.WINNOW_MIN_SHARED}
ORDER BY id_a, id_b
"""


@register("dedup_winnowing", _WINNOW_PAIRS_ORACLE)
def _dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serves the persisted fingerprint artifact (it feeds the hot-fp cap
    # AND both sides of the self-join; unsorted — everything downstream
    # reshuffles anyway)
    from vector_database_product_recommendation_spark.artifacts import (
        winnow_fingerprint_table,
    )

    fp = winnow_fingerprint_table(spark, sf_dir)
    cold = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= D.MAX_DF
    ).select("fp")
    f = fp.join(cold, "fp")
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= D.WINNOW_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


# Hypertable-style continuous rollup: minute partials -> hour -> day, each
# level RE-AGGREGATING the previous level's partials (sum-of-sums /
# sum-of-counts) instead of rescanning raw events — the continuous-
# aggregate pattern: at 100 TB the raw scan happens once, higher
# resolutions aggregate geometrically shrinking inputs. The oracle mirrors
# the same hierarchy so the float summation tree matches.
_HYPER_ORACLE = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket, event_type,
         count(*) AS n_events, sum(value) AS sum_value
  FROM events GROUP BY 1, 2),
hour AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         sum(n_events) AS n_events, sum(sum_value) AS sum_value
  FROM minute GROUP BY 1, 2),
day AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         sum(n_events) AS n_events, sum(sum_value) AS sum_value
  FROM hour GROUP BY 1, 2)
SELECT 'minute' AS resolution, bucket, event_type,
       CAST(n_events AS BIGINT) AS n_events, round(sum_value, 4) AS sum_value
FROM minute
UNION ALL
SELECT 'hour', bucket, event_type, CAST(n_events AS BIGINT), round(sum_value, 4) FROM hour
UNION ALL
SELECT 'day', bucket, event_type, CAST(n_events AS BIGINT), round(sum_value, 4) FROM day
ORDER BY resolution, bucket, event_type
"""


@register("hypertable_rollup", _HYPER_ORACLE)
def _hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))

    def lvl(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            "bucket",
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )

    return (
        lvl(minute, "minute")
        .unionByName(lvl(hour, "hour"))
        .unionByName(lvl(day, "day"))
        .orderBy("resolution", "bucket", "event_type")
    )


# ---------------------------------------------------------------------------
# Relational breadth, TPC-H shapes: correlated subqueries, HAVING,
# conditional-agg ratios, LIKE, disjunctions, pivot
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators import relational_breadth as RB  # noqa: E402

register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             extract(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)(RB.q7_volume_shipping)

register(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT extract(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
    ) GROUP BY o_year ORDER BY o_year
    """,
)(RB.q8_market_share)

register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)(RB.q10_returned_items)

register(
    "q12_priority_mix",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)(RB.q12_priority_mix)

register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)(RB.q14_promo_revenue)

register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)(RB.q15_top_supplier)

register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
    """,
)(RB.q17_small_quantity_revenue)

register(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0) big
    JOIN orders   ON big.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)(RB.q18_large_orders)

register(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)(RB.q19_disjunctive_revenue)

register(
    "q22_dormant_balance",
    """
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)(RB.q22_dormant_balance)

register(
    "cheapest_part_per_brand",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice
    FROM part p1
    WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
                           WHERE p2.p_brand = p1.p_brand)
    ORDER BY p_brand, p_partkey
    """,
)(RB.cheapest_part_per_brand)

register(
    "q16_supplier_diversity",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)(RB.q16_supplier_diversity)

register(
    "order_status_pivot",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)(RB.order_status_pivot)


# ---------------------------------------------------------------------------
# Format sources/sinks: CSV / JSON round-trips, partitioned sink pruning.
# The Spark side aggregates its own round-tripped copy; the oracle reads
# the canonical parquet — any fidelity loss in the format layer breaks
# the hash match.
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.sources import formats as FMT  # noqa: E402

register(
    "csv_roundtrip_catalog",
    f"""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({_h60("text")} % 1000000007) AS BIGINT) AS text_checksum
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)(FMT.csv_roundtrip_catalog)

register(
    "json_roundtrip_events",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 6) AS sum_value,
           max(ts) AS max_ts
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)(FMT.json_roundtrip_events)

register(
    "orc_roundtrip_embeddings",
    """
    SELECT label, count(*) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(sum(len(embedding)) AS BIGINT) AS sum_dims,
           round(sum(embedding[1]::DOUBLE), 6) AS first_elem_sum
    FROM embeddings GROUP BY label ORDER BY label
    """,
)(FMT.orc_roundtrip_embeddings)

register(
    "partitioned_orders_pruned",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)(FMT.partitioned_orders_pruned)


# ---------------------------------------------------------------------------
# Interval self-join: purchases attributed to the user's preceding clicks
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.streaming.events import (  # noqa: E402
    click_purchase_attribution,
)

_ATTRIB_ORACLE = """
WITH clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'),
purchases AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                     value AS purchase_value
              FROM events WHERE event_type = 'purchase')
SELECT purchase_id, p.user_id, purchase_ts, click_id, click_ts,
       round(purchase_value, 6) AS purchase_value
FROM purchases p JOIN clicks c
  ON p.user_id = c.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts < c.click_ts + INTERVAL 10 MINUTE
ORDER BY purchase_id, click_id
"""


@register("events_click_attribution", _ATTRIB_ORACLE)
def _events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return click_purchase_attribution(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Product quantization ANN (compressed-corpus scale path). Rows-only by
# design (codebooks come from iterative k-means); the exactness guarantee
# is the lossless-regime test pq(ksub>=unique) == exact and the recall
# audit in tests/test_pq.py.
# ---------------------------------------------------------------------------


@register("pq_knn_refined")
def _pq_knn_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import pq_index
    from vector_database_product_recommendation_spark.operators.pq import pq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = pq_index(spark, sf_dir)
    return pq_knn(codes, books, _knn_queries(emb), 5, emb=emb, refine_factor=8)


# refine_factor large enough that fetch >= N makes every corpus row an
# exact-refine candidate, so PQ's ADC + refine pipeline provably returns
# exact_knn's answer regardless of the trained codebooks (pq.pq_knn keeps
# every row as an ADC candidate, then re-scores them all exactly and
# re-ranks) — the plain KNN oracle then driver-verifies the whole
# train/encode/ADC/refine path.
@register("pq_knn_exactrefine", _KNN_ORACLE)
def _pq_knn_exactrefine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.artifacts import pq_index
    from vector_database_product_recommendation_spark.operators.pq import pq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = pq_index(spark, sf_dir)
    return pq_knn(codes, books, _knn_queries(emb), 5, emb=emb, refine_factor=10**6)


# ---------------------------------------------------------------------------
# Relational breadth, Q9/Q20 and data quality: schema-evolution union,
# z-score anomaly flagging, approximate percentile sketch
# ---------------------------------------------------------------------------

register(
    "q9_profit_by_nation_year",
    """
    SELECT n_name AS nation, extract(year FROM o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)(RB.q9_profit_by_nation_year)

register(
    "q20_heavy_red_suppliers",
    """
    SELECT s_suppkey, s_name, n_name AS nation
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
      HAVING sum(l_quantity) > 50.0)
    ORDER BY s_suppkey
    """,
)(RB.q20_heavy_red_suppliers)

register(
    "orders_schema_evolution_union",
    """
    WITH old_gen AS (
      SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
    new_gen AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
    merged AS (SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen)
    SELECT coalesce(o_orderpriority, 'unknown') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM merged GROUP BY 1 ORDER BY priority
    """,
)(RB.orders_schema_evolution_union)

# z-score outlier flagging: per-type mean/std from ONE aggregate pass
# (population std, matching DuckDB stddev_pop), events above |z|>3.
_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM events GROUP BY event_type)
SELECT event_id, e.event_type,
       round((value - mu) / sigma, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE sigma > 0 AND abs((value - mu) / sigma) > 3.0
ORDER BY event_id
"""


@register("events_zscore_outliers", _ZSCORE_ORACLE)
def _events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        events.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > 3.0))
        .select("event_id", "event_type", F.round(z, 6).alias("zscore"))
        .orderBy("event_id")
    )


# approx_percentile (KLL-like sketch): mergeable partials, no sort — the
# unbounded-stream / 100-TB form of events_value_percentiles. Rows-only by
# design (sketch internals are engine-specific); the error bound vs the
# exact interpolated percentile is pinned in tests/test_sampling_sketch.py.
@register("events_approx_percentiles")
def _events_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
            F.approx_percentile("value", F.lit(0.99), F.lit(10000)).alias("p99_approx"),
        )
        .orderBy("event_type")
    )


# Seeded stratified sample: RNG membership is engine-specific -> rows-only;
# the statistical properties are tested, and the aggregate here exposes
# per-stratum sampled counts for the driver's stability check.
@register("events_stratified_sample")
def _events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.operators.sampling import stratified_sample

    events = load_table(spark, sf_dir, "events")
    frac = {"click": 0.5, "view": 0.1, "purchase": 1.0, "error": 1.0, "signup": 1.0}
    s = stratified_sample(events, "event_type", frac)
    return (
        s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


# Deterministic hash-gated stratified sample: membership is a pure
# function of md5(event_id), so the kept SET (not just its size) is
# engine-independent — reproducible holdout splits at 100 TB, and a full
# hash oracle here (thresholds integerized driver-side; see
# operators/sampling.py:stratified_hash_sample).
_STRAT_HASH_ORACLE = """
WITH g AS (
  SELECT event_type,
         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::UBIGINT % 1000000 AS bucket
  FROM events
)
SELECT event_type, count(*) AS n_sampled
FROM g
WHERE bucket < CASE event_type
                 WHEN 'click' THEN 500000
                 WHEN 'view' THEN 100000
                 WHEN 'purchase' THEN 1000000
                 WHEN 'error' THEN 1000000
                 WHEN 'signup' THEN 1000000
                 ELSE 0 END
GROUP BY event_type
ORDER BY event_type
"""


@register("events_stratified_hash_sample", _STRAT_HASH_ORACLE)
def _events_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.operators.sampling import (
        stratified_hash_sample,
    )

    events = load_table(spark, sf_dir, "events")
    frac = {"click": 0.5, "view": 0.1, "purchase": 1.0, "error": 1.0, "signup": 1.0}
    s = stratified_hash_sample(events, "event_type", frac, key_col="event_id")
    return (
        s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Warehouse maintenance ops: snapshot upsert (MERGE semantics via full
# outer join) and CDC latest-state compaction
# ---------------------------------------------------------------------------

# The upsert invariant IS the oracle: merging the pre-1999 snapshot with
# the 1999+ delta must equal the one-shot aggregate over all orders.
_UPSERT_ORACLE = """
SELECT o_custkey AS custkey, count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price
FROM orders GROUP BY o_custkey ORDER BY custkey
"""


@register("snapshot_upsert", _UPSERT_ORACLE)
def _snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulated Spark-first: additive full-outer join of the
    existing snapshot and the incremental delta, coalescing both sides.
    One shuffle on the key for each aggregate + one for the join; at
    100 TB the snapshot and delta would share bucketing on custkey and
    the join would be exchange-free (see write_bucketed)."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )

    base = rollup(orders.filter(F.col("o_orderdate") < cutoff))
    delta = rollup(orders.filter(F.col("o_orderdate") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, "custkey", "full_outer").select(
        "custkey",
        (F.coalesce(F.col("b.n_orders"), F.lit(0))
         + F.coalesce(F.col("d.n_orders"), F.lit(0))).alias("n_orders"),
        F.round(
            F.coalesce(F.col("b.total_price"), F.lit(0.0))
            + F.coalesce(F.col("d.total_price"), F.lit(0.0)),
            4,
        ).alias("total_price"),
    )
    return merged.orderBy("custkey")


_CDC_ORACLE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       ts AS last_ts, round(value, 6) AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
WHERE rk = 1 ORDER BY user_id
"""


@register("cdc_latest_state", _CDC_ORACLE)
def _cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log -> current state: keep each key's newest record
    (row_number over (ts, event_id) DESC). One shuffle on the key; ties
    broken deterministically by event_id so both engines agree."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.round("value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Multimodal transforms: resize-shaped payload transform and audio framing
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.operators import multimodal as MM  # noqa: E402

# Frame fan-out is expression-only on both engines; md5 of each sliced
# frame pins the slicing semantics byte-for-byte. DuckDB cannot substring
# BLOBs, but the corpus is pure ASCII at every SF (verified:
# octet_length(encode(text)) == length(text) for all rows), so VARCHAR
# substring slices the identical bytes that Spark's binary substring sees.
_AUDIO_FRAMES_ORACLE = f"""
WITH m AS (SELECT doc_id, text,
                  octet_length(encode(text))::INT AS n_bytes
           FROM documents),
fr AS (SELECT doc_id, n_bytes,
              unnest(range(0, greatest(n_bytes - {MM.FRAME_BYTES}, 0) + 1, {MM.HOP_BYTES}))::INT AS frame_start
       FROM m)
SELECT fr.doc_id, frame_start,
       least(frame_start + {MM.FRAME_BYTES}, fr.n_bytes) AS frame_end,
       md5(substring(m.text, frame_start + 1, {MM.FRAME_BYTES})) AS frame_md5
FROM fr JOIN m ON fr.doc_id = m.doc_id
ORDER BY fr.doc_id, frame_start
"""


@register("multimodal_audio_frames", _AUDIO_FRAMES_ORACLE)
def _multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    frames = MM.audio_frame_windows(media)
    return frames.select(
        "doc_id",
        "frame_start",
        "frame_end",
        F.md5("frame_payload").alias("frame_md5"),
    ).orderBy("doc_id", "frame_start")


_RESIZE_ORACLE = f"""
SELECT doc_id, {MM.TARGET_BYTES} AS n_bytes,
       octet_length(encode(text))::INT AS orig_bytes
FROM documents ORDER BY doc_id
"""


@register("multimodal_resize_meta", _RESIZE_ORACLE)
def _multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    resized = MM.resize_payload(media)
    return resized.select(
        "doc_id", F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.orig_bytes").alias("orig_bytes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SQL API surface: the same engine drives spark.sql() over registered
# views — identical plans to the DataFrame forms (Catalyst sees one
# logical plan language), proven by the hash oracle on a star join and a
# date-function rollup.
# ---------------------------------------------------------------------------

from vector_database_product_recommendation_spark.sources.tables import register_views  # noqa: E402

_SQL_STAR = """
SELECT n_name AS nation,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, nation
"""


@register("sql_api_star_join", _SQL_STAR)
def _sql_api_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_SQL_STAR)


# Day-of-week numbering differs across engines (Spark dayofweek: 1=Sun;
# DuckDB dow: 0=Sun) — normalize both to ISO day names via format codes.
_DOW_ORACLE = """
SELECT dayname(o_orderdate) AS dow, count(*) AS n_orders,
       round(avg(o_totalprice), 4) AS avg_price,
       round(avg(date_diff('day', o_orderdate,
                           o_orderdate + INTERVAL 30 DAY)), 6) AS avg_horizon_days
FROM orders GROUP BY dow ORDER BY dow
"""


@register("orders_by_day_of_week", _DOW_ORACLE)
def _orders_by_day_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "EEEE").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(
                F.avg(
                    F.datediff(
                        F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                        F.col("o_orderdate"),
                    )
                ),
                6,
            ).alias("avg_horizon_days"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Map-type props + Python UDTF surface
# ---------------------------------------------------------------------------

# JSON props as a first-class map column: from_json -> explode -> agg.
_PROPS_MAP_ORACLE = """
SELECT k AS key, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.' || k) AS INT)), 6) AS avg_val
FROM (SELECT unnest(json_keys(props)) AS k, props FROM events)
GROUP BY k ORDER BY k
"""


@register("events_props_map_explode", _PROPS_MAP_ORACLE)
def _events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        events.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_val"),
        )
        .orderBy("key")
    )


# Python UDTF (lateral table function): context-window chunking of the
# document corpus — oracle mirrors the chunk slicing with list ops.
_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
c AS (SELECT doc_id, len(toks) AS n_toks,
             unnest(range(0, greatest((len(toks) + 39) // 40, 1))) AS chunk_idx,
             toks
      FROM t WHERE len(toks) > 0)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       array_to_string(toks[chunk_idx*40 + 1 : chunk_idx*40 + 40], ' ') AS chunk,
       least(40, n_toks - chunk_idx*40)::INT AS n_words
FROM c ORDER BY doc_id, chunk_idx
"""


@register("doc_context_chunks", _CHUNK_ORACLE)
def _doc_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_database_product_recommendation_spark.functions.tablefuncs import register_udtfs

    register_views(spark, sf_dir, "documents")
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM documents d, LATERAL chunk_words(d.text, 40) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


register(
    "q21_waiting_suppliers",
    """
    WITH l1 AS (SELECT l_orderkey, l_suppkey,
                       max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                THEN 1 ELSE 0 END) AS late,
                       sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                THEN 1 ELSE 0 END) AS n_late_lines
                FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                GROUP BY 1, 2),
         o AS (SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late_supp
               FROM l1 GROUP BY 1)
    SELECT s_name, n_name AS nation, CAST(sum(n_late_lines) AS BIGINT) AS numwait
    FROM l1 JOIN o USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE l1.late = 1 AND o.n_supp > 1 AND o.n_late_supp = 1
    GROUP BY s_name, n_name
    ORDER BY numwait DESC, s_name, n_name LIMIT 100
    """,
)(RB.q21_waiting_suppliers)

register(
    "q11_important_parts",
    """
    WITH euro AS (SELECT s_suppkey FROM supplier
                  JOIN nation ON n_nationkey = s_nationkey
                  JOIN region ON r_regionkey = n_regionkey
                  WHERE r_name = 'EUROPE'),
         pp AS (SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS val
                FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM euro)
                GROUP BY 1)
    SELECT l_partkey, round(val, 4) AS value
    FROM pp
    WHERE val > (SELECT sum(val) * 0.001 FROM pp)
    ORDER BY value DESC, l_partkey
    """,
)(RB.q11_important_parts)

register(
    "q2_min_cost_supplier",
    """
    WITH asia AS (SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
                  FROM supplier
                  JOIN nation ON n_nationkey = s_nationkey
                  JOIN region ON r_regionkey = n_regionkey
                  WHERE r_name = 'ASIA'),
         pc AS (SELECT l_partkey, l_suppkey,
                       min(l_extendedprice / l_quantity) AS unit_cost
                FROM lineitem WHERE l_quantity > 0
                GROUP BY 1, 2),
         pca AS (SELECT pc.*, asia.s_name, asia.s_acctbal, asia.nation
                 FROM pc JOIN asia ON s_suppkey = l_suppkey)
    SELECT s_acctbal, s_name, nation, p_partkey, p_name,
           round(unit_cost, 4) AS min_unit_cost
    FROM pca
    JOIN part ON p_partkey = l_partkey
    WHERE unit_cost = (SELECT min(unit_cost) FROM pca p2
                       WHERE p2.l_partkey = pca.l_partkey)
    ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100
    """,
)(RB.q2_min_cost_supplier)
