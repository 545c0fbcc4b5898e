"""Sampling operators for training-data pipelines: per-class
(stratified) downsampling, seeded-Bernoulli or key-hash gated.

At 100 TB, sampling is how class balance, eval holdouts, and codebook
training sets are produced. Both forms are scan-local — no shuffle, no
collect; the output is a DataFrame that composes with everything
downstream. Bernoulli membership is RNG-dependent, so that form is
property-tested (fraction tolerance, determinism under a fixed seed);
the key-hash form keeps a set that is a pure function of the keys and is
oracle-hashed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# the Bernoulli sampler's seed: a fixed seed makes the sample reproducible
SAMPLE_SEED = 42


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict) -> DataFrame:
    """Per-stratum Bernoulli sampling (class rebalancing): each key in
    ``fractions`` keeps ~that share of its rows; absent keys keep 0.
    Seeded with ``SAMPLE_SEED``."""
    return df.sampleBy(strata_col, fractions, seed=SAMPLE_SEED)


# key buckets per stratum: a fraction keeps the keys below round(fraction * _MOD)
_MOD = 1_000_000


def _hash_bucket(key_col: str):
    """Stable 60-bit md5 bucket of a key column: membership depends only
    on the key's string form, never on partitioning, task order, or RNG
    state — the property that makes a sample reproducible across reruns,
    repartitions, and engines (DuckDB mirrors the same arithmetic:
    ('0x' || substr(md5(k), 1, 15))::UBIGINT % 1000000)."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast("long")
        % _MOD
    )


def stratified_hash_sample(
    df: DataFrame, strata_col: str, fractions: dict, *, key_col: str
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps rows whose
    key bucket falls under round(fraction * _MOD); absent strata keep 0.
    Thresholds are integerized driver-side so engines never disagree on
    float*mod rounding."""
    thresholds = {k: int(round(v * _MOD)) for k, v in fractions.items()}
    thr = F.create_map(
        [F.lit(x) for kv in thresholds.items() for x in kv]
    )[F.col(strata_col)]
    return df.filter(_hash_bucket(key_col) < F.coalesce(thr, F.lit(0)))
