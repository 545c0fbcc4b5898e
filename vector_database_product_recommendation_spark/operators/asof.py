"""As-of join — the canonical time-series operator Spark's built-in join
set lacks (DuckDB: ASOF JOIN; pandas: merge_asof; kdb: aj).

Semantics (backward, strict): for every left row, attach the timestamp of
the right row with the same key and the greatest right ts < left ts.
NULL where no such row exists — i.e. ASOF LEFT JOIN.

Spark-first physical shape: NOT a range join (whose naive form explodes
to O(|L|·|R|) per key). Tag and union both sides, then one window pass
per key ordered by (ts, side): a last(carry, ignorenulls) running value
implements the "most recent right row so far" in a single shuffle on the
join key — O((|L|+|R|) log) work, skew governed by the key like any keyed
shuffle. Strictness is encoded purely in the sort order of simultaneous
rows (left-before-right => the concurrent right row is not yet visible).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# the time column of both sides, and the prefix of the carried column
TS_COL = "ts"
PREFIX = "asof_"


def asof_join(left: DataFrame, right: DataFrame, *, on: str) -> DataFrame:
    """Backward strict as-of left join on ``TS_COL``, which names the time
    column on both sides: every left column, plus ``{PREFIX}{TS_COL}``, the
    timestamp of the key's latest strictly earlier right row."""
    r = right.select(
        F.col(on),
        F.col(TS_COL).alias("__ts"),
        F.col(TS_COL).alias("__rv"),
        F.lit(0).alias("__side"),
    )
    l = (
        left.withColumn("__ts", F.col(TS_COL))
        .withColumn("__rv", F.lit(None).cast(r.schema["__rv"].dataType))
        .withColumn("__side", F.lit(1))
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    # at equal ts the left row sorts first: the simultaneous right row is
    # not yet visible
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("__ts"), F.desc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn(f"{PREFIX}{TS_COL}", F.last("__rv", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .drop("__ts", "__rv", "__side")
    )
