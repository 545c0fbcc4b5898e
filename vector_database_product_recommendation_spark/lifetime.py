"""Persist lifetimes: query-scoped pins and session-scoped artifacts, the
one bounded transfer of a frame to the driver (:func:`collect_bounded`)
and its inverse, the one way driver-built rows enter Spark
(:func:`local_frame`), and process-scoped scratch directories
(:func:`scratch_dir`).

One query persists an intermediate that feeds two consumers inside the
SAME query and depends on the query itself: ``tfidf.hybrid_search`` its
sparse scores (the blend's bounds and its rescale). That persist is
QUERY-LOCAL: nothing outside the one invocation ever reads it — but a
bare ``.persist()`` has no release point, so a long bench session would
pin a fresh copy per invocation (bounded only by LRU eviction).

The contract: operators mark such intermediates with :func:`pin`; the
registry wrapper calls :func:`release_pins` as each new query begins, so
at any moment at most ONE query's pins are cached. Release happens at the
START of the next query (not at return) because queries return lazy
DataFrames — the pins must survive until the caller materializes the
result.

Session-scoped artifacts (fitted TF-IDF tables, the IVF assignment,
the shingle index, the MinHash, SimHash, embedding-band and winnowing
tables, encoded documents, PQ codes, the serving catalog) are NOT pins:
each is cached once, under :func:`persist_right_sized`, and lives as
long as the session (``artifacts.py`` memoizes them per session and
corpus). Every dedup operator takes its index from there as a required
argument and never builds one itself.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ROWS_PER_PARTITION = 25_000

_PINS: list[DataFrame] = []
_CURRENT_QUERY: str | None = None
# the per-process directory every scratch_dir lands under; frames read
# their files lazily, so it goes only at exit
_scratch_root: str | None = None


def pin(df: DataFrame) -> DataFrame:
    """Persist a query-local intermediate; released when a DIFFERENT
    registry query begins.

    Repeated invocations of the SAME query (the bench's median-of-3
    protocol; a serving workload's hot query) keep their pins: Spark's
    CacheManager matches the re-built plan against the still-cached one
    and reuses it — the warm-serving regime every round's numbers have
    always measured. Such a re-run pins a plan that is already pinned:
    it is not recorded twice, so at most one query's pins are ever live,
    each once."""
    df = df.persist()
    if not any(p.sameSemantics(df) for p in _PINS):
        _PINS.append(df)
    return df


def begin_query(name: str) -> None:
    """Mark a query invocation; releases the previous query's pins iff the
    workload moved to a different query."""
    global _CURRENT_QUERY
    if name != _CURRENT_QUERY:
        release_pins()
    _CURRENT_QUERY = name


def release_pins() -> None:
    """Unpersist every pinned intermediate from the previous query."""
    while _PINS:
        df = _PINS.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def pinned_count() -> int:
    """How many query-local pins are currently live (tests)."""
    return len(_PINS)


def right_sized_partitions(spark, n: int) -> int:
    """Partitions for ``n`` rows under the session-artifact rule: ~25k rows
    each, at least 1, at most ``defaultParallelism``."""
    cap = int(spark.sparkContext.defaultParallelism)
    return max(1, min(cap, n // ROWS_PER_PARTITION + 1))


def persist_right_sized(df: DataFrame) -> DataFrame:
    """``df`` persisted, materialized with one count and cached at ~25k
    rows per partition (at least 1, at most ``defaultParallelism``): the
    one rule for every session-scoped artifact.

    The partition count is read off the persisted frame before it is
    filled (under adaptive execution that runs the map stages of a final
    exchange, which the count then reuses). A one-partition frame is
    cached once, under ``coalesce(1)``, whose plan declares the single
    partition: a sort or a per-key window over it needs no exchange. A
    wider frame is counted; when its cache holds more partitions than its
    rows need, the cached frame is coalesced (no shuffle) to that number
    and cached in its turn, and the wide copy is released before this
    returns, so storage never holds both. A tiny table spread over
    shuffle partitions pays per-task overhead on every read and never
    takes the single-partition paths of the kernels (knn.py); at 100 TB
    the same rule yields thousands of partitions."""
    wide = df.persist()
    parts = wide.rdd.getNumPartitions()
    if parts == 1:
        # nothing is materialized yet
        wide.unpersist()
        out = df.coalesce(1).persist()
        out.count()
        return out
    n = wide.count()
    want = right_sized_partitions(wide.sparkSession, n)
    if parts <= want:
        return wide
    out = wide.coalesce(want).persist()
    out.count()
    wide.unpersist(blocking=True)
    return out


def collect_bounded(df: DataFrame, max_rows: int, *, what: str | None) -> pd.DataFrame | None:
    """``df`` on the driver as a pandas frame when it holds at most
    ``max_rows`` rows: the one driver materialization of the package.

    The rows move with Arrow (``toPandas``; session.py turns Arrow on), so
    a vector column arrives as numpy arrays, not Row cells. The bound is a
    ``limit(max_rows + 1)`` on the transfer itself: no count job runs
    first, and an over-bound frame moves at most one row more than the
    bound. Above it the result is ``None`` when ``what`` is None (the
    caller has a fallback); otherwise a ValueError names ``what``, which
    names the rows and their bound constant. An empty frame comes back as
    an empty pandas frame with ``df``'s columns."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) <= max_rows:
        return pdf
    if what is None:
        return None
    raise ValueError(f"{what}: more than {max_rows} rows would reach the driver")


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows``, tuples in the order of the DDL ``schema``, as a frame Spark
    holds in the plan itself (a LocalRelation): the inverse of
    :func:`collect_bounded`, and the one way a table the driver built
    enters Spark. Spark answers a ``collect`` of it without a job (an
    Arrow ``toPandas`` or a broadcast into a join still runs one), and the
    same rows build an equal plan, so a re-run matches its cached
    intermediates.

    The rows travel as Arrow batches (session.py turns Arrow on); each
    caller bounds how many there are (SCALE.md). Past Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB of Arrow
    data) Spark keeps them as an RDD instead. The pandas frame holds
    the Python values themselves, so a null cell stays null and a bigint
    past 2**53 is not rounded through float64. No rows is one all-null
    row under ``limit(0)``: an empty pandas frame would be scanned as an
    RDD, one job per read."""
    struct = StructType.fromDDL(schema)
    cells = rows or [(None,) * len(struct)]
    df = spark.createDataFrame(pd.DataFrame(cells, columns=struct.fieldNames(), dtype=object), struct)
    return df if rows else df.limit(0)


def scratch_dir(prefix: str) -> str:
    """A fresh directory for files a returned frame reads (the format
    round-trip copies, the IVF store), under one per-process root that is
    created on first use and removed when the process exits."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="vdb_scratch_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)
