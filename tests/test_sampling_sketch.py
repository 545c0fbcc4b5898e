"""Sampling properties (seeded, subset, fraction tolerance) and
approx-percentile sketch error bounds — the checks the hash oracle can't
express for RNG/sketch-based operators, on the operators and on the
registered rows-only queries that read them."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from vector_database_product_recommendation_spark.operators.sampling import (
    stratified_hash_sample,
    stratified_sample,
)
from vector_database_product_recommendation_spark.registry import queries
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


def test_registered_percentiles_within_the_sketch_rank_error(spark):
    """``events_approx_percentiles``: per event type, p50 and p99 lie
    between numpy's exact percentiles at p -/+ the sketch's rank error
    (1 / accuracy, accuracy 10000), widened by one rank for ties."""
    rows = queries()["events_approx_percentiles"](spark, SF_DIR).collect()
    pdf = load_table(spark, SF_DIR, "events").select("event_type", "value").toPandas()
    values = {t: np.sort(g.dropna().to_numpy()) for t, g in pdf.groupby("event_type")["value"]}
    assert [r["event_type"] for r in rows] == sorted(values)
    for r in rows:
        v = values[r["event_type"]]
        eps = 1 / 10000 + 1 / len(v)
        for p, got in ((0.5, r["p50_approx"]), (0.99, r["p99_approx"])):
            lo = np.quantile(v, max(p - eps, 0.0), method="lower")
            hi = np.quantile(v, min(p + eps, 1.0), method="higher")
            assert lo <= got <= hi, (r["event_type"], p, lo, got, hi)


def test_registered_stratified_sample_keeps_its_fractions(spark):
    """``events_stratified_sample``: a stratum at fraction 1.0 keeps every
    row; click (0.5) and view (0.1) keep a count inside the 4-sigma band
    of Binomial(n, fraction)."""
    got = {
        r["event_type"]: r["n_sampled"]
        for r in queries()["events_stratified_sample"](spark, SF_DIR).collect()
    }
    base = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events").groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    for t in ("purchase", "error", "signup"):
        assert got[t] == base[t], t
    for t, f in (("click", 0.5), ("view", 0.1)):
        n = base[t]
        assert abs(got[t] - f * n) <= 4 * np.sqrt(n * f * (1 - f)), (t, got[t], n)
