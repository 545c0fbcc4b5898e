"""As-of join — the canonical time-series operator Spark's built-in join
set lacks (DuckDB: ASOF JOIN; pandas: merge_asof; kdb: aj).

Semantics (backward direction): for every left row, attach the single
right row with the same key and the greatest right_ts <= left_ts
(strictly < when strict=True). NULLs where no such row exists — i.e.
ASOF LEFT JOIN.

Spark-first physical shape: NOT a range join (whose naive form explodes
to O(|L|·|R|) per key). Tag and union both sides, then one window pass
per key ordered by (ts, side): a last(carry, ignorenulls) running value
implements the "most recent right row so far" in a single shuffle on the
join key — O((|L|+|R|) log) work, skew governed by the key like any keyed
shuffle. Strictness is encoded purely in the sort order of simultaneous
rows (left-before-right => the concurrent right row is not yet visible).

The carried right columns travel inside ONE struct so they stay atomic —
all values always come from the same right row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "ts",
    right_value_cols: list[str] | None = None,
    strict: bool = True,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of left join on ``left_ts``, which names the time
    column on both sides. Carried columns come back as `{prefix}{left_ts}`
    plus `{prefix}{col}` for each right value col."""
    right_value_cols = right_value_cols or []

    rstruct = F.struct(
        F.col(left_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_value_cols],
    )
    r = right.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        rstruct.alias("__rv"),
        F.lit(0).alias("__side"),
    )
    l = (
        left.withColumn("__ts", F.col(left_ts))
        .withColumn("__rv", F.lit(None).cast(r.schema["__rv"].dataType))
        .withColumn("__side", F.lit(1))
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    # at equal ts: strict -> left first (the simultaneous right row is not
    # visible); non-strict -> right first. Equal-ts right rows order by the
    # carry struct itself for determinism.
    side_order = F.desc("__side") if strict else F.asc("__side")
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("__ts"), side_order, F.asc_nulls_first("__rv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__rv", ignorenulls=True).over(w)

    out = (
        unioned.withColumn("__carry", carried)
        .filter(F.col("__side") == 1)
        .withColumn(f"{prefix}{left_ts}", F.col("__carry.__rts"))
    )
    for c in right_value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col(f"__carry.{c}"))
    return out.drop("__ts", "__rv", "__side", "__carry")
