"""Query-scoped persist lifetimes (guide section 5: unpersist when done).

Several composite queries persist an intermediate that feeds two or more
consumers inside the SAME query (LSH signature tables, winnowing
fingerprints, the hybrid-search sparse scores). Those persists are
QUERY-LOCAL: nothing outside the one invocation ever reads them — but a
bare ``.persist()`` has no release point, so a long bench session pins a
fresh copy per invocation (bounded only by LRU eviction; r21 verdict
item 5).

The contract: operators mark such intermediates with :func:`pin`; the
registry wrapper calls :func:`release_pins` as each new query begins, so
at any moment at most ONE query's pins are cached. Release happens at the
START of the next query (not at return) because queries return lazy
DataFrames — the pins must survive until the caller materializes the
result.

Artifact-lifetime persists (fitted TF-IDF tables, the IVF assignment,
encoded documents, PQ codes) are NOT pins: they are session-scoped by
design and torn down by ``artifacts.clear()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINS: list[DataFrame] = []
_CURRENT_QUERY: str | None = None


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
