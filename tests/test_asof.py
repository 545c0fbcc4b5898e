"""As-of join semantics on handcrafted rows (the sf0.01 oracle check
covers scale; this pins the corner cases: strictness at equal timestamps,
missing matches, per-key isolation)."""

from __future__ import annotations

import datetime as dt

from vector_database_product_recommendation_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts(10)), (2, 1, _ts(20)), (3, 1, _ts(5)), (4, 2, _ts(10))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(101, 1, _ts(10), 7.0), (102, 1, _ts(15), 8.0), (103, 3, _ts(1), 9.0)],
        "rid long, user_id long, ts timestamp, val double",
    )
    return left, right


def test_asof_strict_backward(spark):
    left, right = _frames(spark)
    out = {
        r["event_id"]: r["asof_ts"]
        for r in asof_join(left, right, on="user_id").collect()
    }
    assert out[1] is None                  # right at ts=10 NOT visible (strict)
    assert out[2] == _ts(15)               # latest right before 20
    assert out[3] is None                  # nothing before ts=5
    assert out[4] is None                  # user 2 has no right rows
