"""Workload ``query_suite``: queries from ``registry.queries()`` over
generated star-schema, event, document and embedding tables (sf0.001
sizes), after the part of ``bench.py``'s artifact phase they read.

A pass runs the ROADMAP direction-3 targets that fit a run
(``layers.REGISTRY_TARGETS``) plus one query for each other module the
registry reaches that the targets do not (``layers.REGISTRY_FAMILIES``);
each op builds one query and collects its rows. The order is fixed, not
seeded: a query's first call in a session pays code-path warm-up that
depends on which queries ran before it, so a seeded order would move the
median with the seed. The seed sets the tables. A run
makes whole passes until ``--seconds`` have passed. After the timed
region every output is compared with its DuckDB oracle by row count,
column names and an order-insensitive value hash, the way
``tools/oracle_check.py`` does; queries without an oracle must return
rows, and ``ann_tradeoff`` must report a precision that never falls as
nprobe grows. ``precision_at_10`` and ``mrr`` are the ``ann_tradeoff``
table's values at nprobe=5.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import gen
import numpy as np
from harness import Harness, Report, log, report
from layers import ARTIFACT_BUILDERS, NPROBES, REGISTRY_FAMILIES, REGISTRY_TARGETS
from measure import cache_mb

from vector_database_product_recommendation_spark import artifacts, registry

SUITE = REGISTRY_TARGETS + tuple(REGISTRY_FAMILIES)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def artifact_phase(spark, sf: str) -> dict[str, tuple[float, float]]:
    """The builds of ``bench.py``'s artifact phase that the suite's queries
    read, each as ``(ms, cache_mb added)``."""

    def fitted_tfidf(spark, sf):
        # tfidf_search and hybrid_search read the uncapped model's weights
        artifacts.fitted_tfidf(spark, sf).weights(12).count()

    out = {}
    for name in ARTIFACT_BUILDERS:
        build = fitted_tfidf if name == "fitted_tfidf" else getattr(artifacts, name)
        mb0, t = cache_mb(spark.sparkContext), time.perf_counter()
        build(spark, sf)
        out[name] = ((time.perf_counter() - t) * 1e3, cache_mb(spark.sparkContext) - mb0)
    return out


def _cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NAN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list) -> str:
    """Order-insensitive hash of a result, columns matched by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check_outputs(ops, sf: str) -> None:
    """Mark every op whose rows disagree with the DuckDB oracle."""
    import duckdb

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        expected = {}
        for op in ops:
            if not op.ok:
                continue
            reason = ""
            if op.kind in oracles:
                if op.kind not in expected:
                    res = con.execute(oracles[op.kind])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    expected[op.kind] = (len(rows), sorted(cols), table_hash(cols, rows))
                n, cols, digest = expected[op.kind]
                got = (len(op.rows), sorted(op.columns), table_hash(op.columns, op.rows))
                if got != (n, cols, digest):
                    reason = f"oracle mismatch: {got} vs {(n, cols, digest)}"
            elif not op.rows:
                reason = "no rows"
            elif op.kind == "ann_tradeoff":
                prec = [r[1] for r in sorted(op.rows)]
                if any(b < a - 1e-9 for a, b in zip(prec, prec[1:])) or not all(0 <= p <= 1 for p in prec):
                    reason = f"precision by nprobe {prec} is not a non-decreasing share"
            if reason:
                op.ok = False
                log(f"{op.kind}: {reason}")
    finally:
        con.close()


def scan_fraction(spark, sf: str, vecs: np.ndarray, nprobe: int = 5, n_queries: int = 32) -> float:
    """Rows in the probed lists over corpus rows, averaged over the
    ``ann_tradeoff`` queries, for the session's IVF index."""
    import pyspark.sql.functions as F

    cents, assigned = artifacts.ivf_index(spark, sf)
    rows = cents.orderBy("cluster_id").collect()
    cids = np.array([r["cluster_id"] for r in rows])
    cmat = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    sizes = {r["cluster_id"]: r["n"] for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    fractions = []
    for qv in vecs[:n_queries].astype(np.float64):
        top = cids[np.lexsort((cids, -(cmat @ qv)))[:nprobe]]
        fractions.append(sum(sizes.get(int(c), 0) for c in top) / len(vecs))
    return float(np.mean(fractions))


def run(h: Harness, seed: int, seconds: float) -> Report:
    sf = os.path.join(h.work, "sf")
    vecs = gen.sf_tables(sf, seed)

    t_start = time.perf_counter()
    h.start_spark()
    queries = registry.queries()
    missing = [q for q in SUITE if q not in queries]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")
    built = artifact_phase(h.spark, sf)
    setup_s = time.perf_counter() - t_start

    t0 = time.perf_counter()
    while True:
        for name in SUITE:
            h.op(name, None, lambda fn=queries[name]: fn(h.spark, sf))
        if time.perf_counter() - t0 >= seconds:
            break
    timed_s = time.perf_counter() - t0
    cache = cache_mb(h.sc)

    check_outputs(h.ops, sf)
    sweeps = [o for o in h.ops if o.kind == "ann_tradeoff" and o.ok]
    at5 = [r for o in sweeps for r in o.rows if r[0] == 5]
    precision = float(np.median([r[1] for r in at5])) if at5 else 0.0
    mrr = float(np.median([r[2] for r in at5])) if at5 else 0.0

    def layer_values() -> dict[str, float]:
        values: dict[str, float] = {}
        for name, (ms, mb) in built.items():
            values[f"artifacts.{name}.ms"] = ms
            values[f"artifacts.{name}.cache_mb"] = mb
        for name in REGISTRY_TARGETS:
            mine = [o for o in h.ops if o.kind == name]
            values[f"registry.{name}.build_ms"] = float(np.mean([o.build_ms for o in mine]))
            values[f"registry.{name}.execute_ms"] = float(np.mean([o.execute_ms for o in mine]))
            values[f"registry.{name}.jobs"] = float(np.mean([o.ledger.jobs for o in mine]))
        passes = max(1, len(h.ops) // len(SUITE))
        for name, module in REGISTRY_FAMILIES.items():
            key = f"registry.family.{module}.ms"
            values[key] = values.get(key, 0.0) + sum(o.ms for o in h.ops if o.kind == name) / passes
        # the sweep times each nprobe (ivf_knn build + materialize) itself;
        # its traced ivf_knn spans give the build part
        sweep_spans = [d for o in sweeps for d in h.tracer.descendants(o.span)]
        for p in NPROBES:
            key = f"ivf.ivf_knn.nprobe{p}"
            builds = [(d.end - d.start) * 1e3 for d in sweep_spans if d.name == key]
            totals = [r[3] * r[4] for o in sweeps for r in o.rows if r[0] == p]
            if builds and totals:
                values[f"{key}.build_ms"] = float(np.mean(builds))
                values[f"{key}.execute_ms"] = float(np.mean(totals)) - values[f"{key}.build_ms"]
        values["ivf.scan_fraction"] = scan_fraction(h.spark, sf, vecs)
        return values

    return report(
        h,
        attempted=len(h.ops),
        failed=sum(not o.ok for o in h.ops),
        setup_s=setup_s,
        timed_s=timed_s,
        precision=precision,
        mrr=mrr,
        cache=cache,
        layer_values=layer_values,
    )

