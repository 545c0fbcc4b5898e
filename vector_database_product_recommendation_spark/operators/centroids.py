"""Group centroids over vector columns — the reference's product embeddings.

Verified reference semantics (SURVEY.md section 1.2 / 2.4 A-g4): a product's
vector is the L2-NORMALIZED ELEMENT-WISE MEAN of its member review vectors
(cos(product_vec, renormalized mean) == 1.0 exactly on sampled products).

Scale shape: posexplode -> groupBy(group, pos).avg -> re-assemble. The
shuffle key is (group, position) so a 100-TB corpus with D=384 shuffles
D partial aggregates per group — map-side combine keeps the shuffle volume
at O(groups * D * partitions-touched), independent of row count. No
collect, no UDAF needed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from vector_database_product_recommendation_spark.functions.vectors import l2_normalize


def group_centroids(
    df: DataFrame, group_col: str, *, round_decimals: int | None = None
) -> DataFrame:
    """(group, vector) where vector = l2-normalized element-wise mean of
    the group's ``embedding`` rows."""
    exploded = df.select(
        F.col(group_col).alias("group_key"),
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    )
    means = exploded.groupBy("group_key", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("m")
    )
    assembled = (
        means.groupBy("group_key")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("group_key").alias(group_col),
            F.transform("pm", lambda x: x["m"]).alias("vector"),
        )
    )
    vec = l2_normalize("vector")
    if round_decimals is not None:
        vec = F.transform(vec, lambda x: F.round(x, round_decimals))
    return assembled.select(group_col, vec.alias("vector"))


def group_centroids_long(df: DataFrame, group_col: str) -> DataFrame:
    """Exploded (group, pos, val) form of group_centroids over the
    ``embedding`` column, values rounded to 6 decimals — the
    oracle-friendly projection (arrays hash awkwardly across engines)."""
    wide = group_centroids(df, group_col, round_decimals=6)
    return wide.select(group_col, F.posexplode("vector").alias("pos", "val")).orderBy(
        group_col, "pos"
    )
