"""Event-log operators: tumbling-window aggregation, sessionization,
JSON prop extraction, a broadcast dimension enrichment and an interval
self-join, all as batch DataFrame programs over the ``events`` table.

The reference has no event surface (SURVEY.md section 2.8) — this is
the planned `events` extension (section 7 M7). Every operator here backs
a registered query and is DuckDB-oracle-checked there.

Scale notes: windows and sessions are keyed aggregates, partial-
aggregated map-side before the single keyed shuffle. distinct-user counts
would use approx_count_distinct at scale (sketchable, mergeable); the
oracle-checked form keeps exact count(distinct).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# inactivity that ends a session
SESSION_GAP_MINUTES = 5


def windowed_event_agg(events: DataFrame) -> DataFrame:
    """Hourly tumbling-window counts/sums per event_type. Epoch-aligned
    windows (Spark default) == date_trunc for whole-unit windows."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("window_start", "event_type")
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Session windows per user: a session ends after
    ``SESSION_GAP_MINUTES`` of inactivity. Spark session_window semantics:
    start = first event ts, end = last event ts + gap; an event at exactly
    `end` opens a NEW session."""
    gap = f"{SESSION_GAP_MINUTES} minutes"
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def json_props_agg(events: DataFrame) -> DataFrame:
    """Extract props.k (JSON string column) and aggregate per event_type."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def enriched_segment_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Dimension enrichment: events joined to the customer dimension on
    user_id == c_custkey, windowed counts per (hour, market segment). The
    dim side is broadcast — at 100 TB the event table never shuffles for
    the join, only for the (tiny-keyed) window aggregate."""
    dim = customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "c_mktsegment",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("window_start", "c_mktsegment")
    )


def click_purchase_attribution(events: DataFrame) -> DataFrame:
    """Interval self-join: each purchase attributed to every click by the
    same user within the preceding 10 minutes.

    At 100 TB both sides shuffle once on user_id; the interval predicate
    evaluates inside the join.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 10 minutes"))
    )
    return (
        purchases.join(clicks, on=["user_id"], how="inner")
        .filter(cond)
        .select(
            "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts",
            F.round("purchase_value", 6).alias("purchase_value"),
        )
        .orderBy("purchase_id", "click_id")
    )
