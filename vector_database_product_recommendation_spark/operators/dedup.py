"""Deduplication operators for large-scale corpus pipelines.

Five families, all deterministic and oracle-checkable (every hash is md5 —
the one hash both Spark and DuckDB compute identically; 60-bit integer
hashes are the first 15 hex digits of an md5, ``_md5_60``):

- exact:        group by md5(text)                          O(N) + 1 shuffle
- n-gram Jaccard: inverted-index self-join on shingles      sparse O(pairs)
- MinHash+LSH:  row-local signatures -> band-bucket join    O(N) + tiny join
- SimHash:      row-local 60-bit signature -> chunk blocks  O(N) + tiny join
- embedding cosine: threshold pairs over unit vectors       (exact baseline;
                  band buckets -> per-bucket all-pairs     the LSH scale path)

Scale notes (100 TB):
- shingles and signatures (minhash, simhash, fingerprints) are
  ROW-LOCAL: each is a function of one document run by the one
  per-document Arrow pass, ``functions.textprof.per_doc`` (numpy int
  math; the pure-Column higher-order folds measured ~20x slower
  interpreted). No shuffle.
  The only shuffles are the pair-finding joins, whose keys
  (shingle / band signature / simhash chunk) are engineered to be sparse.
- the inverted-index join caps shingle document-frequency (``MAX_DF``):
  a shingle occurring in more than MAX_DF docs is a stop-shingle and is
  dropped from BOTH the numerator and the doc-size denominator (the
  operator is *defined* over the capped shingle space). This bounds the
  worst-case join fan-out at MAX_DF^2 per shingle — without it one viral
  sentence produces a quadratic blowup.
- band/bucket joins move only (key, doc_id) pairs, never text.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.textprof import per_doc
from vector_database_product_recommendation_spark.functions.vectors import matrix
from vector_database_product_recommendation_spark.lifetime import collect_bounded, local_frame

# MinHash permutation family: one md5-based hash per shingle, then k affine
# permutations h -> (a*h + b) mod P over the Mersenne prime P = 2^31 - 1.
# One md5 per shingle total (vs k) — the dominant cost at scale. The a/b
# constants are themselves md5-derived so both engines embed identical
# literals.
_MERSENNE_P = (1 << 31) - 1

# word n-gram size of every shingle-based operator
SHINGLE_N = 3
# shingle document-frequency cap of the n-gram Jaccard join (module docstring)
MAX_DF = 100
# MinHash signature length and its LSH banding: BANDS bands of
# NUM_HASHES // BANDS rows each
NUM_HASHES = 32
BANDS = 8
# SimHash blocking: the 60-bit signature splits into SIMHASH_CHUNKS chunks
SIMHASH_CHUNKS = 4
# embedding LSH: N_PLANES hyperplane sign bits in N_BANDS bands
N_PLANES = 16
N_BANDS = 4
# winnowing: K-token grams, windows of W gram hashes; a winnowing pair
# shares at least WINNOW_MIN_SHARED fingerprints, each held by at most
# MAX_DF docs (the hot-fingerprint cap works like the stop-shingles)
WINNOW_K = 4
WINNOW_W = 5
WINNOW_MIN_SHARED = 3
# near-duplicate thresholds: Jaccard for the n-gram and MinHash pairs
# (and dedup_components' edges), cosine for the embedding pairs, Hamming
# distance for the SimHash pairs (below SIMHASH_CHUNKS, so the chunk
# blocking is exact)
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.4
MAX_HAMMING = 3
# the most corpus rows embedding_near_dup collects to the driver, and the
# most rows of one embedding_near_dup_lsh band bucket
NEAR_DUP_MAX_ROWS = 100_000
# rows of an LSH bucket scored per matmul: an Arrow batch's worth (SCALE.md)
_VERIFY_BLOCK = 10_000
# the most edges connected_components labels on the driver; past it the
# distributed min-label loop runs. The largest graph timed on both paths
# (SCALE.md): the driver path was faster at every size from 10k to 4M
# edges (21 s against 40-44 s at 4M), with ~1 GB of driver Python memory at
# 4M; no crossover was found, and past 4M neither side is measured
CC_DRIVER_MAX_EDGES = 4_000_000
# the most min-label rounds the distributed loop runs before it raises
CC_MAX_ITER = 25
# how long connected_components waits for an observed label sum before it
# runs the aggregate itself
OBSERVE_TIMEOUT_S = 120.0


def _perm_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    a = [(_md5_60(f"{s}A") % (_MERSENNE_P - 1)) + 1 for s in range(num_hashes)]
    b = [_md5_60(f"{s}B") % _MERSENNE_P for s in range(num_hashes)]
    return a, b


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: one row per distinct text hash with the copy
    count and the canonical (minimum-id) survivor. Single hash-shuffle."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col("doc_id")).alias("keep_id"),
        )
        .orderBy("keep_id")
    )


def _shingles_py(text: str) -> list[str]:
    """The shingles of one doc: lowercased whitespace tokens, distinct word
    SHINGLE_N-grams in first-occurrence order, one whole-text shingle when
    the doc is shorter than SHINGLE_N tokens (the DuckDB oracles' shingle
    CTE)."""
    toks = (text or "").lower().split()
    if not toks:
        return []
    n = SHINGLE_N
    grams = (" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1)))
    return list(dict.fromkeys(grams))


def _doc_shingles_py(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>) for non-empty docs, one ``per_doc``
    pass (an interpreted transform/slice/array_join chain costs ~10s per
    5000 docs vs <1s in Python string ops)."""

    def row(text: str | None) -> list[tuple]:
        sh = _shingles_py(text)
        return [(sh,)] if sh else []

    return per_doc(docs.select("doc_id", "text"), "shingles array<string>", row)


def shingle_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) inverted-index rows, one per distinct shingle of
    each non-empty doc: the n-gram Jaccard index (artifacts.shingle_index
    builds and caches it once per corpus)."""
    return _doc_shingles_py(docs).select("doc_id", F.explode("shingles").alias("shingle"))


def ngram_jaccard_pairs(shingle_index: DataFrame) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard, found with an
    inverted-index self-join (never an N^2 cross join) over
    ``shingle_index``, the (doc_id, shingle) rows of ``shingle_postings``.
    The index feeds the df count, the sizes and both sides of the
    self-join, so callers pass it cached (artifacts.shingle_index).

    Jaccard is computed over the capped shingle space (df <= MAX_DF, see
    module docstring). Returns (id_a, id_b, jaccard) with jaccard >=
    ``JACCARD_THRESHOLD``, id_a < id_b, unsorted: consumers add their own
    presentation order or reshuffle at once (dedup_components).

    Physical shape (the ssjoin staples, both exact — the result set is
    unchanged):
    - per-doc capped sizes ride ALONG the index rows into the self-join
      and become grouping keys, so the pair table (the largest relation
      here — candidate pairs routinely outnumber index rows) never joins
      back against the size table; the old shape shuffled the pair table
      twice more for those joins.
    - length-ratio prune inside the join condition: round6(jaccard) >= t
      forces min(sz) >= (t - 5e-7) * max(sz), so pairs outside the size
      band are dropped before the pair aggregate ever sees them.
    """
    cold = (
        shingle_index.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_DF)
        .select("shingle")
    )
    sh = shingle_index.join(cold, "shingle")  # keep only cold shingles
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    shz = sh.join(sizes, "doc_id")  # index rows carry their doc's size
    a, b = shz.alias("a"), shz.alias("b")
    tol = JACCARD_THRESHOLD - 1e-6  # slack for the 6-decimal round-up edge
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= tol * F.col("b.sz"))
            & (F.col("b.sz") >= tol * F.col("a.sz")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common.select(
        "id_a",
        "id_b",
        F.round(
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _minhash_np(shingles, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``len(a)`` minhashes of one doc: base = _md5_60(shingle) mod P
    computed ONCE per shingle, then mh[s] = min over shingles of
    (a_s*base + b_s) mod P, as one vectorized (k, n_shingles) permutation
    table (an interpreted JVM higher-order-function fold measured ~20x
    slower: 33s -> 2s for 5000 docs at sf0.1)."""
    hs = np.fromiter((_md5_60(s) for s in shingles), dtype=np.int64) % _MERSENNE_P
    return ((a[:, None] * hs[None, :] + b[:, None]) % _MERSENNE_P).min(axis=1)


def minhash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, mh array<bigint>) via the Arrow kernel: the
    MinHash-LSH index (artifacts.minhash_signature_table)."""
    a_const, b_const = _perm_constants(NUM_HASHES)
    a = np.asarray(a_const, dtype=np.int64)
    b = np.asarray(b_const, dtype=np.int64)

    def row(text: str | None) -> list[tuple]:
        sh = _shingles_py(text)
        return [(sh, _minhash_np(sh, a, b).tolist())] if sh else []

    return per_doc(
        docs.select("doc_id", "text"), "shingles array<string>, mh array<bigint>", row
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Long-form MinHash signatures: (doc_id, seed, minhash)."""
    sig = minhash_table(docs)
    return sig.select(
        "doc_id", F.posexplode("mh").alias("seed", "minhash")
    ).orderBy("doc_id", "seed")


def minhash_lsh_pairs(signatures: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket candidate join, then exact
    Jaccard verification on the candidates only.

    ``signatures``: the (doc_id, shingles, mh) rows of ``minhash_table``.
    They feed the band self-join (2 scans) and both verify joins (2
    more), so callers pass them cached (artifacts.minhash_signature_table,
    the "write signatures once" step of any LSH pipeline).

    BANDS * rows == NUM_HASHES; a pair becomes a candidate iff some band of
    `rows` consecutive minhashes matches exactly. Returns
    (id_a, id_b, jaccard) for candidates verified at jaccard >=
    ``JACCARD_THRESHOLD``, id_a < id_b.
    """
    rows = NUM_HASHES // BANDS
    # band j's key: md5 of its `rows` minhashes joined by commas, one
    # Column per element (no interpreted lambda)
    band_sigs = F.array(
        *[
            F.md5(F.concat_ws(",", *[F.col("mh")[j * rows + i].cast("string") for i in range(rows)]))
            for j in range(BANDS)
        ]
    )
    banded = signatures.select(
        "doc_id", F.posexplode(band_sigs).alias("band", "sig")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = signatures.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = signatures.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


_SIMHASH_BITS = 60  # _md5_60 yields 60-bit values; stay within them


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — row-local, no shuffle at all.

    Charikar SimHash of the whitespace-token multiset (token frequency is
    the weight): bit b is set iff sum over tokens of (+1 if bit b of
    _md5_60(token) else -1) is positive. Computed by an Arrow/numpy kernel
    (an interpreted higher-order fold costs ~60x T lambda evals per row)
    that splits each text itself; a doc with no token has no row.
    Unsorted: the signature query adds its presentation order."""
    bit_idx = np.arange(_SIMHASH_BITS, dtype=np.int64)

    def row(text: str | None) -> list[tuple[int]]:
        toks = (text or "").lower().split()
        if not toks:
            return []
        hs = np.fromiter((_md5_60(t) for t in toks), dtype=np.int64)
        bits = (hs[:, None] >> bit_idx) & 1  # (T, 60)
        votes = (2 * bits - 1).sum(axis=0)
        return [(int(((votes > 0).astype(np.int64) << bit_idx).sum()),)]

    return per_doc(docs.select("doc_id", "text"), "simhash long", row)


def simhash_pairs(signatures: DataFrame) -> DataFrame:
    """Near-dup pairs within Hamming distance ``MAX_HAMMING`` over the
    (doc_id, simhash) rows of ``simhash_signatures``, which both sides of
    the block self-join read (callers pass them cached:
    artifacts.simhash_signature_table). Blocked on 15-bit signature
    chunks: a pair within Hamming d of a 60-bit signature must agree
    exactly on at least one of 4 chunks whenever d < 4 — the standard
    pigeonhole blocking, so at ``MAX_HAMMING`` = 3 it loses no pair."""
    chunk_bits = _SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), chunk_bits * c).bitwiseAND(F.lit(mask))
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    blocked = signatures.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= MAX_HAMMING)
        .orderBy("id_a", "id_b")
    )


def _near_dup_pairs(
    ids_a: np.ndarray, block: np.ndarray, ids_b: np.ndarray, mat: np.ndarray, threshold: float
) -> pd.DataFrame:
    """The all-pairs kernel of both embedding near-dup operators, one BLAS
    matmul: (id_a, id_b, score) of every (``block`` row, ``mat`` row) pair
    with id_a < id_b and score = round(dot, 6) >= ``threshold``."""
    scores = np.round(block @ mat.T, 6)
    keep = (scores >= threshold) & (ids_a[:, None] < ids_b[None, :])
    bi, ci = np.nonzero(keep)
    return pd.DataFrame({"id_a": ids_a[bi], "id_b": ids_b[ci], "score": scores[bi, ci]})


def embedding_near_dup(emb: DataFrame) -> DataFrame:
    """Exact cosine near-dup pairs over unit vectors: (id_a, id_b, score),
    score = round(dot, 6) >= ``COSINE_THRESHOLD``, id_a < id_b.

    Raises ValueError beyond ``NEAR_DUP_MAX_ROWS`` corpus rows, checked by
    the bounded transfer itself (``lifetime.collect_bounded``, no count
    job): the whole corpus ships in the task closure, so this is the
    small-corpus audit oracle ONLY — use ``embedding_near_dup_lsh`` as the
    scale path.

    This is the exact baseline (all-pairs); it is the correctness oracle
    for the LSH-blocked variant and is only appropriate when one side fits
    a broadcast (the whole corpus ships in the task closure, like the query
    batch in exact_knn). The 100-TB path is the banded/blocked variant
    (cluster or hyperplane blocking) verified against this on samples.

    Physical shape: each partition's block runs ``_near_dup_pairs``
    against the broadcast corpus matrix.
    """
    src = emb.select("vec_id", "embedding")
    corpus = collect_bounded(
        src,
        NEAR_DUP_MAX_ROWS,
        what="the corpus of embedding_near_dup, the all-pairs audit oracle "
        "(dedup.NEAR_DUP_MAX_ROWS); embedding_near_dup_lsh is the scale path",
    )
    ids = corpus["vec_id"].to_numpy()
    mat = matrix(corpus["embedding"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            block = matrix(pdf["embedding"])
            yield _near_dup_pairs(pdf["vec_id"].to_numpy(), block, ids, mat, COSINE_THRESHOLD)

    dtype = emb.schema["vec_id"].dataType.simpleString()
    return src.mapInPandas(
        kernel, f"id_a {dtype}, id_b {dtype}, score double"
    ).orderBy("id_a", "id_b")


def _rademacher_planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes from md5 bits: entry (p, d) flips on
    the low bit of _md5_60(f"{p}|{d}"). Same constants every run/engine."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            out[p, d] = 1.0 if (_md5_60(f"{p}|{d}") & 1) == 0 else -1.0
    return out


def embedding_band_signatures(emb: DataFrame) -> DataFrame:
    """(vid, band_idx, band_key) hyperplane band signatures — the
    write-signatures-once step of the embedding-LSH pipeline, row-local
    (one BLAS matvec per Arrow batch, no shuffle). The hyperplanes are
    drawn in the kernel at the width of the first batch, so building the
    plan runs no job. Unpersisted: the session artifact cache owns its
    lifetime (artifacts.embedding_band_table)."""
    r_bits = N_PLANES // N_BANDS
    id_dtype = emb.schema["vec_id"].dataType.simpleString()

    def sign_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = matrix(pdf["embedding"])
            if planes is None:
                planes = _rademacher_planes(N_PLANES, mat.shape[1])
            bits = (mat @ planes.T) >= 0  # (n, N_PLANES)
            ids, band_idx, band_key = [], [], []
            pows = 1 << np.arange(r_bits)
            for j in range(N_BANDS):
                chunk = bits[:, j * r_bits : (j + 1) * r_bits]
                keys = (chunk * pows).sum(axis=1)
                ids.extend(pdf["vec_id"])
                band_idx.extend([j] * len(keys))
                band_key.extend(keys.tolist())
            yield pd.DataFrame(
                {"vid": ids, "band_idx": band_idx, "band_key": band_key}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        sign_bands, f"vid {id_dtype}, band_idx int, band_key long"
    )


def embedding_near_dup_lsh(emb: DataFrame, banded: DataFrame) -> DataFrame:
    """The 100-TB path for embedding near-dup: random-hyperplane (SimHash
    for vectors) blocking + exact verification inside each bucket only.

    ``banded``: the (vid, band_idx, band_key) rows of
    ``embedding_band_signatures`` over ``emb`` (each vector's
    N_PLANES-bit sign signature cut into bands of N_PLANES/N_BANDS
    bits), cached by the caller (artifacts.embedding_band_table). The
    band rows are joined to their vectors once, and each
    (band_idx, band_key) bucket is verified by ``embedding_near_dup``'s
    kernel (``_near_dup_pairs``) in one ``groupBy(...).applyInPandas``
    pass; ``distinct`` keeps a pair found in several bands once. Returns
    (id_a, id_b, score), id_a < id_b, sorted by (id_a, id_b). A bucket
    over ``NEAR_DUP_MAX_ROWS`` rows raises ValueError before its matrix
    is stacked (SCALE.md).

    Precision is exact (every emitted pair is verified). Recall is the
    standard SRP-LSH bound: a pair at cosine s agrees per-plane with
    p = 1 - arccos(s)/pi, per-band with p^r, overall 1-(1-p^r)^b — with
    4x4 bands ~0.99 at s = 0.95, but ~0.5 for a pair right at
    ``COSINE_THRESHOLD`` = 0.4; the exact all-pairs operator
    `embedding_near_dup` is its audit oracle on samples.
    """
    threshold, bound = COSINE_THRESHOLD, NEAR_DUP_MAX_ROWS

    def verify(bucket: pd.DataFrame) -> pd.DataFrame:
        if len(bucket) > bound:
            raise ValueError(
                f"an embedding_near_dup_lsh band bucket holds {len(bucket)} rows, "
                f"more than dedup.NEAR_DUP_MAX_ROWS = {bound}"
            )
        ids = bucket["vid"].to_numpy()
        mat = matrix(bucket["embedding"])
        b = _VERIFY_BLOCK
        blocks = range(0, len(ids), b)
        return pd.concat([_near_dup_pairs(ids[i : i + b], mat[i : i + b], ids, mat, threshold) for i in blocks])

    dtype = emb.schema["vec_id"].dataType.simpleString()
    vectors = emb.select(F.col("vec_id").alias("vid"), "embedding")
    return (
        banded.join(vectors, "vid")
        .groupBy("band_idx", "band_key")
        .applyInPandas(verify, f"id_a {dtype}, id_b {dtype}, score double")
        .distinct()
        .orderBy("id_a", "id_b")
    )


def winnow_fingerprints_df(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS algorithm): hash every k-gram (k = WINNOW_K) of the token stream,
    keep the MIN of each w-wide (w = WINNOW_W) window of k-gram hashes,
    dedup per document. Guarantees any shared token run of length
    >= w+k-1 shares a fingerprint.

    Shape: the whole computation is ROW-LOCAL (k-gram hashes, rolling
    window min, per-doc distinct all live inside one document), so it runs
    as a single ``per_doc`` pass with ZERO shuffles — the previous
    explode -> per-doc window -> global distinct formulation paid two hash
    exchanges of the exploded k-gram table for work no other row ever
    sees. Semantics (bit-identical, the DuckDB oracle twin is unchanged):
    documents shorter than k tokens fingerprint to the hash of their whole
    token stream; documents with fewer than w k-grams to the min k-gram
    hash (the first window truncates at the end, yielding exactly that).

    Returns (doc_id, fp) unsorted: every consumer either reshuffles it
    at once or adds its own presentation order.
    """
    k, w = WINNOW_K, WINNOW_W

    def rows(text: str | None) -> list[tuple[int]]:
        toks = (text or "").lower().split()
        n = len(toks)
        if n < k:
            return [(_md5_60(" ".join(toks)),)]
        hs = [_md5_60(" ".join(toks[i : i + k])) for i in range(n - k + 1)]
        keep = max(len(hs) - w + 1, 1)
        return [(fp,) for fp in sorted({min(hs[i : i + w]) for i in range(keep)})]

    return per_doc(docs.select("doc_id", "text"), "fp long", rows)


def _min_labels(pairs: pd.DataFrame) -> list[tuple[int, int]]:
    """(u, label) for every vertex of the (u, v) edge rows: a
    union-find whose root is always the smaller id, so each root is its
    component's minimum."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pairs["u"].tolist(), pairs["v"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(u, find(u)) for u in parent]


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``ed frame. Its rows live in a
    persisted RDD that the CacheManager does not know, so
    ``df.unpersist()`` releases nothing; the RDD is unpersisted itself."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every vertex
    is labeled with the minimum id reachable from it.

    Two paths, one answer:

    - **Driver** (edge list within ``CC_DRIVER_MAX_EDGES``: 25 edges at
      sf0.01, 256 at sf0.1): the edges reach the driver through one
      bounded Arrow transfer (``lifetime.collect_bounded``, no count job
      first) and a union-find labels them, label = min id of the
      component. The labels come back as a local relation,
      broadcast-joined onto ``vertices`` with ``coalesce(label,
      doc_id)``, so a vertex in no edge is its own component. No eager
      job runs beyond the transfer.
    - **Distributed** (more edges than the bound): iterative min-label
      propagation. Every vertex starts labeled with its own id and
      repeatedly takes the minimum label among itself and its neighbors.
      Converges in O(graph diameter) rounds — near-dup clusters are dense
      quasi-cliques with tiny diameters (2-3), so a handful of rounds
      suffices even on billion-edge graphs (the Kiveris et al. large-star
      / small-star trick only pays off for high-diameter graphs such as
      web link graphs, not dedup clusters). Raises ``RuntimeError`` when
      the labels have not converged after ``CC_MAX_ITER`` rounds.

    Both paths read ``edges`` once: its (u, v) projection is persisted
    before the bounded transfer, which fills that cache, so past the
    bound the loop builds its edge table from the cached rows instead of
    re-running the pair join; either path releases it.

    Scale notes for the distributed path: the (undirected) edge table —
    the BIG relation — is hash-partitioned on its join key once and
    persisted, so each round shuffles only the current (vertex, label)
    table; the per-round neighbor-min is a single union + min aggregate
    (map-side partial combine shrinks neighbor labels before the
    exchange) instead of a join-back. Text never moves.
    ``localCheckpoint`` after every round truncates the lineage so round
    N's plan does not replay rounds 1..N-1; each round frees the
    checkpoint it supersedes, so only the final labels stay stored. Convergence is
    detected with a label-sum metric (labels are monotone non-increasing,
    so an unchanged label sum means a fixed point) OBSERVED on the checkpoint
    materialization itself (`Dataset.observe` piggybacks the aggregate on
    the job that is already running) — no separate convergence job per
    round, and no per-row change join.

    Parity: the reference app has no dedup at all (SURVEY.md section 2.8)
    — this is part of the training-data-pipeline extension layer; the
    downstream keep/drop semantics mirror exact_dedup_groups' min-id
    canonical choice (reference lineage: products 'first row per group',
    SURVEY.md A-g3).

    ``vertices`` carries a ``doc_id`` column; ``edges`` (id_a, id_b)
    joins vertices of ``vertices``. Returns (doc_id, component_id) with
    component_id = min doc_id reachable, both long.
    """
    verts = vertices.select(F.col("doc_id").cast("long").alias("u"))
    # the transfer fills this cache; past the bound the loop reads it
    uv = edges.select(
        F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("v")
    ).persist()
    pairs = collect_bounded(uv, CC_DRIVER_MAX_EDGES, what=None)
    if pairs is not None:
        uv.unpersist()
        labels = local_frame(vertices.sparkSession, _min_labels(pairs), "u long, label long")
        return verts.join(F.broadcast(labels), "u", "left").select(
            F.col("u").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("u")).alias("component_id"),
        )
    # pre-partition the (big, round-invariant) edge table by its join key
    # BEFORE persisting: every round's join then reuses the cached layout
    # and only the (small, changing) label table crosses an exchange
    e = (
        uv.unionByName(uv.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(F.col("v"))
        .persist()
    )
    from pyspark.sql import Observation

    def _observed_sum(obs: Observation, df: DataFrame):
        """Label-sum metric observed on the (already materialized, eager)
        checkpoint job. Observation fulfillment rides Spark's SQL-listener
        path — validated on PySpark 4.1.2 — but Observation.get blocks with
        no timeout, so a listener regression must degrade to one extra
        aggregate job per round (the pre-observe behavior), never a hang.
        The daemon reader thread leaks harmlessly in that (never observed)
        case."""
        import threading

        box: list = []
        t = threading.Thread(target=lambda: box.append(obs.get["s"]), daemon=True)
        t.start()
        t.join(OBSERVE_TIMEOUT_S)
        if box:
            return box[0]
        return df.agg(F.sum("label")).first()[0]

    # Only vertices that appear in some edge can ever change labels or
    # influence a neighbor; isolated vertices — the vast majority of a
    # near-dup corpus — are their own components by definition and skip
    # the iteration entirely. At scale this shrinks the per-round label
    # table (the only relation that crosses exchanges each round) from
    # |V| to |V_connected|; the isolated remainder is unioned back once
    # at the end from the caller's vertex table (NOT from ``e``, which is
    # unpersisted before return).
    obs0 = Observation()
    labels = (
        verts.join(e.select("u").distinct(), "u", "left_semi")
        .select("u", F.col("u").alias("label"))
        .observe(obs0, F.sum("label").alias("s"))
        .localCheckpoint(eager=True)
    )
    prev_sum = _observed_sum(obs0, labels)
    # that job filled ``e``, which no longer reads the transferred rows
    uv.unpersist()
    converged = False
    for _ in range(CC_MAX_ITER):
        # new label = min(own, every neighbor's): one union + one min
        # aggregate. Every u appears on the `labels` branch, so vertices
        # without neighbors keep their label — identical semantics to a
        # left-join + least(), minus two exchanges per round.
        nbr = e.join(labels.select(F.col("u").alias("v"), "label"), "v").select(
            "u", "label"
        )
        obs = Observation()
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .observe(obs, F.sum("label").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = _observed_sum(obs, new_labels)
        # the new checkpoint is materialized (eager=True), so the superseded
        # round's blocks can be released now — without this, every round's
        # checkpoint lives until a JVM garbage collection
        _release_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    e.unpersist()
    if not converged:
        _release_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge within CC_MAX_ITER="
            f"{CC_MAX_ITER} rounds — returning here would yield silently-wrong "
            "component labels. The graph's diameter exceeds the round budget; "
            "raise CC_MAX_ITER (rounds needed ~ graph diameter)."
        )
    # isolated vertices rejoin with label = own id; the anti-join keys off
    # the CHECKPOINTED loop result, so the returned (lazy) plan never
    # re-derives the unpersisted edge table
    isolated = verts.join(labels.select("u"), "u", "left_anti").select(
        "u", F.col("u").alias("label")
    )
    return labels.unionByName(isolated).select(
        F.col("u").alias("doc_id"), F.col("label").alias("component_id")
    )


def dedup_components(docs: DataFrame, shingle_index: DataFrame) -> DataFrame:
    """End-to-end fuzzy dedup: n-gram Jaccard pairs (>= ``JACCARD_THRESHOLD``) over
    ``shingle_index`` (``shingle_postings`` of ``docs``) -> connected
    components -> canonical keep/drop. The full pipeline a pretraining corpus needs:
    pair discovery gives LOCAL similarity, components give GLOBAL clusters
    (A~B, B~C => {A,B,C} even when A!~C), min-id is kept as canonical.

    Returns (doc_id, component_id, is_kept) sorted by doc_id.
    """
    comp = connected_components(docs.select("doc_id"), ngram_jaccard_pairs(shingle_index))
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_kept"),
    ).orderBy("doc_id")
