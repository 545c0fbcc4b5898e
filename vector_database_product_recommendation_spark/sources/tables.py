"""Parquet sources for the synthetic star schema + document/embedding corpora.

Mirrors the reference's sources (SURVEY.md section 2.1, S1-S4): the reference
loads CSV tables + dense .npy matrices aligned by row position; here every
table is columnar Parquet and the embedding matrix is a first-class table
with an explicit key (``vec_id``) — the positional-identity fix required by
Spark's lack of a stable implicit row order (SURVEY.md section 1.5).

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free as long as callers express filters/projections on the
DataFrame before any UDF barrier. Never collect these tables; embeddings are
only ever collected when they are a *query batch* (small by construction).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# path -> (stamp, schema read under it); the stamp is the file's
# (st_mtime_ns, st_size), the rule _daemon.py applies to zip archives, and
# the nanosAsLong setting, which changes how a ts column reads
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the event-time column ``ts`` to plain TIMESTAMP (LTZ) no
    matter how the parquet writer typed it:

    - TIMESTAMP(NANOS) read via the legacy nanosAsLong conf -> bigint:
      floor-divide to micros (the same truncation DuckDB applies).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ: cast to
      TIMESTAMP. The session timezone is pinned to UTC (session.py), so the
      cast is a pure re-tag — wall-clock values are unchanged and match
      DuckDB's naive reading. Downstream consumers (unix_micros, watermarks,
      window()) all require TIMESTAMP, so this is the single point where
      every writer flavor converges.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the footer schema read once per
    stamp: a later read passes the memoized schema through ``.schema()``
    and runs no schema-inference job. A rewritten file (a new stamp) is
    read again; a path that cannot be stat'ed is never memoized. The data
    scan stays lazy either way."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size, spark.conf.get(NANOS_AS_LONG, "false"))
    seen = _SCHEMAS.get(path)
    if seen is not None and seen[0] == stamp:
        return spark.read.schema(seen[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. ``name`` must be in TABLES. Each table's
    schema is read once per file version (``_read_parquet``).

    The events table's ts has shipped as TIMESTAMP(NANOS) and as
    TIMESTAMP_NTZ micros across testdata generations; normalize_event_ts
    folds both into plain TIMESTAMP here, the single load point.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
        return normalize_event_ts(_read_parquet(spark, path))
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once; defaults to all of them."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so spark.sql(...) can address the tables by name."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


# buckets per table written by write_bucketed; two tables join without an
# exchange only when their bucket counts match
N_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    *,
    bucket_col: str,
    mode: str = "overwrite",
) -> None:
    """Persist a table in N_BUCKETS buckets, sorted by the join key — the 100-TB
    co-located-join layout: two tables bucketed the same way join with NO
    exchange (each task zips bucket i with bucket i), eliminating the
    dominant shuffle of large fact-fact joins. External table at `path`
    so no Hive metastore/warehouse dir is involved."""
    (
        df.write.mode(mode)
        .bucketBy(N_BUCKETS, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(table_name)
    )
