"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship two-stage retrieval query on sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md section 2 with its DuckDB oracle. Implementation lives in the
``vector_database_product_recommendation_spark`` package; this file is only the wiring.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from vector_database_product_recommendation_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from vector_database_product_recommendation_spark.operators.relational import two_stage_retrieval

    return two_stage_retrieval(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2,
    least recently checked first.

    The driver checks the first 50 entries each round and records them in
    CORRECTNESS_r<round>.json, so the order is its correctness window:
    queries no such file names come first, then the others by the last
    round that checked them, oldest first, ties in registration order.
    Each round's file pushes its queries to the back of the line."""
    qmap = registry.queries()
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            with open(path) as fh:
                for name in json.load(fh):
                    last[name] = max(last.get(name, -1), int(m.group(1)))
    return {n: qmap[n] for n in sorted(qmap, key=lambda n: last.get(n, -1))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (where
    SQL-expressible; non-SQL ops are omitted -> rows-only check)."""
    return registry.oracle_sql()
