"""Non-parquet sources/sinks: CSV and JSON-lines round-trips, and a
partition-pruned parquet sink layout.

The reference's only sources are CSV tables (SURVEY.md section 2.1
S1-S3, app.py:63-102); ``sources/reference.py`` reads those exact files.
This module makes the format surface first-class for ANY table: schema'd
CSV and JSON writers/readers whose round-trip is oracle-checked (the
registry queries aggregate the round-tripped copy against DuckDB reading
the canonical parquet), plus a ``partitionBy`` sink whose read-back scan
must prune partitions (asserted in tests/test_sources_formats.py).

Scale notes (100 TB):
- CSV/JSON are ingest/egress formats here, never the analytic layout —
  each round-trip query re-lands the data as it would on a real cluster,
  on every call, into a fresh ``lifetime.scratch_dir`` (one per-process
  temp root that an exit hook removes), schema-on-read with an explicit
  StructType: no inference job over the full dataset (``inferSchema``
  would be a second full scan).
- Text fields survive quoting/newlines via the RFC-4180 style
  ``escape='"'`` + ``multiLine`` pair on BOTH writer and reader.
- The partitioned sink writes one directory per key value; a filter on
  the partition column becomes directory pruning (PartitionFilters in
  the scan, zero data files read for excluded keys) — the layout answer
  for predictable coarse filters (date, status, cluster_id).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from vector_database_product_recommendation_spark.lifetime import scratch_dir


def write_csv(df: DataFrame, path: str) -> None:
    """Write a table as headered, fully quoted CSV.

    ``escape='"'`` (doubled-quote escaping, RFC 4180) instead of Spark's
    default backslash, so any reader — including this module's — can
    round-trip embedded quotes, commas, and newlines.
    """
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-on-read CSV scan: explicit StructType, no inference job."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
    )


# Spark's default JSON timestamp formats keep only milliseconds; micros
# must be explicit or the round-trip silently loses precision. NTZ columns
# are governed by the SEPARATE timestampNTZFormat option (no zone suffix
# allowed there) — set both so the round-trip is precision-safe whichever
# way the column is typed.
_TS_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_TS_NTZ_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_json(df: DataFrame, path: str) -> None:
    """Write JSON lines (one object per row, microsecond ISO-8601)."""
    (
        df.write.mode("overwrite")
        .option("timestampFormat", _TS_MICROS)
        .option("timestampNTZFormat", _TS_NTZ_MICROS)
        .json(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-on-read JSON-lines scan."""
    return (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_MICROS)
        .option("timestampNTZFormat", _TS_NTZ_MICROS)
        .json(path)
    )


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Hive-style partitioned parquet sink (one directory per key value)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Round-trip queries (wired into the registry)
# ---------------------------------------------------------------------------

def csv_roundtrip_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> CSV -> read back -> per-(lang, source) aggregate.

    The text-hash sum pins byte fidelity of the free-text column through
    the CSV layer: one flipped/lost character changes the md5-derived
    checksum, one split row changes n_docs.
    """
    from vector_database_product_recommendation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("csv_docs_")
    write_csv(docs, path)
    back = read_csv(spark, path, docs.schema)
    # 60-bit md5 prefix reduced mod a prime so the SUM stays inside a long
    text_h60 = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
        % F.lit(1_000_000_007)
    )
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(text_h60).alias("text_checksum"),
        )
        .orderBy("lang", "source")
    )


def json_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSON lines -> read back -> per-type aggregate.

    max(ts) proves timestamps survive the ISO-8601 round-trip at
    microsecond precision; the props column stays an opaque JSON string.
    """
    from vector_database_product_recommendation_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = scratch_dir("json_events_")
    write_json(events, path)
    back = read_json(spark, path, events.schema)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


def partitioned_orders_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> parquet partitioned by o_orderstatus -> filtered read-back.

    The o_orderstatus = 'F' predicate is satisfied by directory pruning
    (PartitionFilters), so the scan never opens the O/P files — the plan
    assertion lives in tests/test_sources_formats.py.
    """
    from vector_database_product_recommendation_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("part_orders_")
    write_partitioned(orders, path, "o_orderstatus")
    back = read_partitioned(spark, path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (the other built-in columnar format; zlib by default)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — self-describing schema, vectorized reader, pushdown-
    capable like parquet (PushedFilters appear in the scan node)."""
    return spark.read.orc(path)


def orc_roundtrip_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings -> ORC -> read back -> per-label aggregate.

    Exercises nested-type (array<float>) fidelity through the ORC
    writer/reader: sum_dims pins element counts, first_elem_sum pins the
    float payload bit-for-bit (float32 -> double widening is exact, so a
    single perturbed element shifts the 6-decimal rounded sum).
    """
    from vector_database_product_recommendation_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_dir("orc_emb_")
    write_orc(emb, path)
    back = read_orc(spark, path)
    return (
        back.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("sum_vec_id"),
            F.sum(F.size("embedding")).alias("sum_dims"),
            F.round(F.sum(F.element_at("embedding", 1).cast("double")), 6).alias(
                "first_elem_sum"
            ),
        )
        .orderBy("label")
    )
