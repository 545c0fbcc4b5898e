"""Keyed interval/range join: points ⋈ intervals where key matches and
start <= point < end — the second classic time-series join Spark lacks a
native operator for (DuckDB/Trino plan inequality joins; Spark would
nested-loop it).

Scalable shape: TIME BUCKETING. Intervals explode to the coarse buckets
they overlap (ceil(len/bucket)+1 rows each — bounded when interval length
is bounded); points map to one bucket; the join runs on (key, bucket)
equality — a plain hash join — and the exact containment predicate
filters afterwards. A bucket roughly the typical interval length keeps
the fan-out ~2x rows while avoiding any per-key nested loop. Duplicate
(point, interval) matches across buckets are impossible because a point
lives in exactly one bucket.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# the points' time column, the intervals' [start, end) columns, and the
# bucket width: roughly the typical interval length (module docstring)
POINT_TS = "ts"
START_COL = "start_ts"
END_COL = "end_ts"
BUCKET_SECONDS = 600


def _epoch_micros(c: str) -> Column:
    """unix_micros requires TIMESTAMP; tolerate TIMESTAMP_NTZ inputs by
    casting first (value-preserving under the UTC session timezone that
    session.py pins)."""
    return F.unix_micros(F.col(c).cast("timestamp"))


def range_join(points: DataFrame, intervals: DataFrame, *, on: str) -> DataFrame:
    """Inner keyed range join: rows of `points` joined to every interval
    of the same key whose [``START_COL``, ``END_COL``) contains their
    ``POINT_TS``. Output has all point and interval columns."""
    b = F.lit(BUCKET_SECONDS)
    p = points.withColumn(
        "__bucket", (_epoch_micros(POINT_TS) / 1_000_000 / b).cast("long")
    )
    iv = intervals.withColumn(
        "__b0", (_epoch_micros(START_COL) / 1_000_000 / b).cast("long")
    ).withColumn(
        "__b1", (_epoch_micros(END_COL) / 1_000_000 / b).cast("long")
    )
    iv = iv.withColumn(
        "__bucket", F.explode(F.sequence(F.col("__b0"), F.col("__b1")))
    ).drop("__b0", "__b1")
    joined = p.join(iv, [on, "__bucket"]).filter(
        (F.col(POINT_TS) >= F.col(START_COL)) & (F.col(POINT_TS) < F.col(END_COL))
    )
    return joined.drop("__bucket")
