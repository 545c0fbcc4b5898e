"""The reference's offline lineage pipeline, rebuilt as DataFrame ops.

Reference semantics (all [verified] in SURVEY.md section 1.1):
- `combined_text` = lower(title || ' ' || text || ' ' || brand)
  (reviews.csv col 8; P10) -> here lower(concat_ws(' ', text, lang, source))
  over the synthetic documents table.
- `products` = group-by derivation of `reviews` (products.csv):
    n_reviews    = count of ALL rows          (A-g1)
    avg_rating   = mean of NON-NULL ratings   (A-g2, SQL avg semantics)
    example_text / brand / ... = value of the group's FIRST row in file
                   order (A-g3)

Spark has no stable implicit row order (SURVEY.md section 1.5), so "first
in file order" is expressed as min_by(value, explicit_row_id) — a single
hash aggregate with map-side partial aggregation (each partition keeps one
candidate per group), strictly cheaper at scale than the window
row_number()==1 formulation, and deterministic because the row id is an
explicit column, not an implicit ordering.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def with_combined_text(docs: DataFrame) -> DataFrame:
    """P10: combined_text = lower(text || ' ' || lang || ' ' || source)."""
    return docs.withColumn("combined_text", F.lower(F.concat_ws(" ", "text", "lang", "source")))


def docs_to_catalog(docs: DataFrame) -> DataFrame:
    """The `reviews -> products` aggregate (A-g1..A-g3) over documents:
    one row per source with count-all, null-skipping mean, and the
    deterministic first-row (lowest doc_id) values."""
    r = with_combined_text(docs)
    return (
        r.groupBy(F.col("source").alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min_by("combined_text", F.col("doc_id")).alias("example_text"),
            F.min_by("lang", F.col("doc_id")).alias("first_lang"),
        )
        .orderBy("group_id")
    )
