"""Sampling properties (seeded, subset, fraction tolerance) and
approx-percentile sketch error bounds — the checks the hash oracle can't
express for RNG/sketch-based operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from vector_database_product_recommendation_spark.operators.sampling import (
    stratified_hash_sample,
    stratified_sample,
)
from vector_database_product_recommendation_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_uniform_sample_seeded_and_subset(spark):
    """One fraction for every stratum: a uniform seeded sample."""
    events = load_table(spark, SF_DIR, "events")
    frac = {"click": 0.2, "view": 0.2, "purchase": 0.2, "error": 0.2, "signup": 0.2}
    s1 = stratified_sample(events, "event_type", frac)
    s2 = stratified_sample(events, "event_type", frac)
    assert s1.exceptAll(s2).isEmpty() and s2.exceptAll(s1).isEmpty()  # deterministic
    assert s1.exceptAll(events).isEmpty()  # subset
    n, total = s1.count(), events.count()
    assert 0.1 < n / total < 0.3


def test_stratified_sample_respects_fractions(spark):
    events = load_table(spark, SF_DIR, "events")
    frac = {"click": 0.5, "view": 0.1}
    s = stratified_sample(events, "event_type", frac)
    base = {r["event_type"]: r["n"] for r in
            events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["event_type"]: r["n"] for r in
           s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(frac)  # absent strata dropped entirely
    for k, f in frac.items():
        assert abs(got.get(k, 0) / base[k] - f) < 0.1, (k, got.get(k), base[k])


def test_approx_percentile_close_to_exact(spark):
    events = load_table(spark, SF_DIR, "events")
    both = (
        events.groupBy("event_type")
        .agg(
            F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("approx"),
            F.percentile("value", F.lit(0.5)).alias("exact"),
        )
        .collect()
    )
    for r in both:
        denom = max(abs(r["exact"]), 1e-9)
        assert abs(r["approx"] - r["exact"]) / denom < 0.05, r


def test_hash_sample_deterministic_and_partition_invariant(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    types = [r[0] for r in events.select("event_type").distinct().collect()]
    frac = dict.fromkeys(types, 0.3)

    def kept(df):
        s = stratified_hash_sample(df, "event_type", frac, key_col="event_id")
        return {r["event_id"] for r in s.select("event_id").collect()}

    s1 = kept(events)
    assert s1 == kept(events.repartition(13))  # membership is a pure function of the key
    n = events.count()
    assert 0.25 * n < len(s1) < 0.35 * n


def test_stratified_hash_sample_thresholds(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    frac = {"click": 0.5, "purchase": 1.0}
    s = stratified_hash_sample(events, "event_type", frac, key_col="event_id")
    got = {r["event_type"]: r["n"] for r in s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r["event_type"]: r["n"] for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {"click", "purchase"}  # absent strata keep 0 rows
    assert got["purchase"] == base["purchase"]  # fraction 1.0 keeps all
    assert 0.4 * base["click"] < got["click"] < 0.6 * base["click"]
