"""Group centroids over vector columns — the reference's product embeddings.

Verified reference semantics (SURVEY.md section 1.2 / 2.4 A-g4): a product's
vector is the L2-NORMALIZED ELEMENT-WISE MEAN of its member review vectors
(cos(product_vec, renormalized mean) == 1.0 exactly on sampled products).

Scale shape: posexplode -> groupBy(group, pos).avg -> a per-group window
sum of the squared means -> normalize -> re-assemble. The shuffle key is
(group, position) so a 100-TB corpus with D=384 shuffles D partial
aggregates per group — map-side combine keeps the shuffle volume at
O(groups * D * partitions-touched), independent of row count. No collect,
no UDAF, no lambda.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _normalized_means(df: DataFrame, group_col: str) -> DataFrame:
    """(group_col, pos, val): the group's mean ``embedding`` at each position
    over the mean vector's L2 norm + 1e-12, its squares summed in position
    order."""
    means = (
        df.select(
            F.col(group_col).alias("group_key"),
            F.posexplode(F.col("embedding")).alias("pos", "val"),
        )
        .groupBy("group_key", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("m"))
    )
    w = Window.partitionBy("group_key").orderBy("pos")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    norm = F.sqrt(F.sum(F.col("m") * F.col("m")).over(whole)) + F.lit(1e-12)
    return means.select(
        F.col("group_key").alias(group_col), "pos", (F.col("m") / norm).alias("val")
    )


def group_centroids(df: DataFrame, group_col: str) -> DataFrame:
    """(group, vector) where vector = l2-normalized element-wise mean of
    the group's ``embedding`` rows, in position order."""
    return (
        _normalized_means(df, group_col)
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_list(F.struct("pos", "val"))).alias("pv"))
        .select(group_col, F.col("pv.val").alias("vector"))
    )


def group_centroids_long(df: DataFrame, group_col: str) -> DataFrame:
    """Exploded (group, pos, val) form of group_centroids over the
    ``embedding`` column, values rounded to 6 decimals — the
    oracle-friendly projection (arrays hash awkwardly across engines)."""
    return (
        _normalized_means(df, group_col)
        .select(group_col, "pos", F.round("val", 6).alias("val"))
        .orderBy(group_col, "pos")
    )
