"""Skew-resistant aggregation: the two-phase salted group-by.

At 100 TB a handful of hot keys (one viral product, one dominant event
type) can pin an entire aggregate on one reducer. AQE's skew-join
splitting covers joins; for aggregates the classic fix is salting:

  phase 1: group by (key, salt) -> partial aggregates  (hot key spread
           over N_SALTS reducers)
  phase 2: group by key         -> merge partials      (N_SALTS rows per
           key, trivially small)

The salt is deterministic (hash of the whole row mod N_SALTS), so results
are reproducible run-to-run and the operator stays oracle-checkable: the
salted plan must produce EXACTLY the unsalted result.

Only algebraic aggregates decompose this way (sum, count, min, max, and
avg as sum/count); that is also why streaming sketches exist for the
rest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


# phase-1 spread: each key's rows split over this many partial groups
N_SALTS = 16


def salted_event_rollup(events: DataFrame) -> DataFrame:
    """Per-event-type totals via the two-phase salted aggregate:
    (event_type, n_events, sum_value, avg_value, max_value), sum and
    average rounded to 6 decimals."""
    salted = events.withColumn(
        "salt", F.pmod(F.hash("event_id", "user_id", "ts"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("value").alias("s"),
        F.max("value").alias("m"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.round(F.sum("s"), 6).alias("sum_value"),
            F.round(F.sum("s") / F.sum("c"), 6).alias("avg_value"),
            F.max("m").alias("max_value"),
        )
        .orderBy("event_type")
    )
