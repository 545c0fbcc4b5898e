"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing policy: per query, wall-clock around a full materialization
through the noop sink (``write.format("noop")``: computes every row and
column, ships none to the driver). A ``.count()`` would not do: Catalyst
answers it without the projections of a Column-only query. One warm-up
run of the cheapest query amortizes JVM/session startup out of the
per-query numbers (session startup is reported separately in
"startup_sec").
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jobs_in_group(sc, group: str) -> int:
    """The Spark jobs run so far under job group ``group``; clears the
    group. Job events reach the status store asynchronously but in order,
    so once a later marker job is visible every job of ``group`` is too."""
    marker = f"{group}-marker"
    sc.setJobGroup(marker, marker)
    sc.parallelize([0], 1).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def main() -> None:
    from vector_database_product_recommendation_spark.session import get_spark
    from vector_database_product_recommendation_spark.sources.tables import load_table

    import __spark_entry__ as entrymod

    t0 = time.time()
    spark = get_spark("vdb-rec-bench")
    spark.range(1).count()  # force JVM + session init
    startup = time.time() - t0

    qmap = entrymod.queries()
    timings: dict[str, float] = {}

    # Warm-up: touch the parquet footers / fill the code cache once.
    try:
        _materialize(next(iter(qmap.values()))(spark, SF_DIR))
    except Exception:
        pass

    # Offline artifact build, timed separately (the baseline's methodology:
    # the reference's per-query numbers run against PREBUILT FAISS/TF-IDF
    # artifacts — ann_tradeoff_table.csv excludes index training. Serving
    # queries below consume these; artifact_build_sec reports the cost.)
    # Each builder, and each query's first timed call, runs under a job
    # group named after it; its jobs are counted after the timed region.
    from vector_database_product_recommendation_spark import artifacts

    sc = spark.sparkContext
    t_art = time.time()
    try:
        for build in artifacts.BUILDERS:
            sc.setJobGroup(build.__name__, build.__name__)
            build(spark, SF_DIR)
    except Exception as e:
        print(f"# artifact build error: {e}", file=sys.stderr)
    artifact_build = time.time() - t_art
    artifact_jobs = {b.__name__: _jobs_in_group(sc, b.__name__) for b in artifacts.BUILDERS}

    def time_query(name: str, fn) -> float:
        t = time.time()
        try:
            _materialize(fn(spark, SF_DIR))
            return round(time.time() - t, 4)
        except Exception as e:  # a broken query should not sink the bench
            print(f"# bench error in {name}: {e}", file=sys.stderr)
            return -1.0

    for name, fn in qmap.items():
        sc.setJobGroup(name, name)
        timings[name] = time_query(name, fn)
    query_jobs = {name: _jobs_in_group(sc, name) for name in qmap}

    # Median-of-3 for the queries where single-shot numbers are unreadable:
    # every query over 1 s single-shot (a fixed 5-slowest cut left such
    # queries out) plus the two that feed derived throughput metrics.
    # (Driver-box contention showed ±25-400% single-shot variance — 12.9s
    # vs a 1.7s warm median for ivf_store_pruned_probe.)
    over_1s = [n for n in timings if timings[n] > 1.0]
    median3 = sorted(set(over_1s) | {"knn_exact_batch", "corpus_prep_pipeline"})
    for name in median3:
        if timings.get(name, -1.0) <= 0:
            continue
        runs = [timings[name]]
        runs += [time_query(name, qmap[name]) for _ in range(2)]
        runs = [r for r in runs if r >= 0]
        timings[name] = sorted(runs)[len(runs) // 2]

    total = round(sum(v for v in timings.values() if v >= 0), 4)

    # Derived throughput framing (BASELINE.md "Rebuild benchmark framing"):
    # the reference reports per-query ms on a single node; the Spark-native
    # equivalent is batch KNN throughput — scored candidate pairs per
    # second of the exact KNN batch (8 queries x corpus rows).
    extras: dict[str, float] = {}
    try:
        n_corpus = load_table(spark, SF_DIR, "embeddings").count()
        t_knn = timings.get("knn_exact_batch", -1.0)
        if t_knn > 0:
            extras["knn_scored_pairs_per_sec"] = round(8 * n_corpus / t_knn, 1)
            extras["knn_ms_per_query_batch8"] = round(t_knn / 8 * 1000.0, 2)
    except Exception:
        pass

    # Bulk-batch KNN throughput: the reference's ms/query numbers run a
    # tight in-memory BLAS loop over a preloaded .npy corpus and a
    # pre-encoded query batch (app.py:169-181), so the fair Spark analog
    # serves from the same regime: corpus persisted once, query batch
    # collected once, then the search job alone is timed. 512 queries x
    # corpus; one warm run, then median of 3 timed runs. SCALE.md
    # "Bulk-KNN floor" has the measured decomposition; the floor terms
    # are re-measured and emitted below every run.
    try:
        import pyspark.sql.functions as SF

        from vector_database_product_recommendation_spark.operators.knn import (
            collect_queries,
            exact_knn,
        )
        emb = load_table(spark, SF_DIR, "embeddings").persist()
        emb.count()
        n_q = min(512, n_corpus)
        batch = collect_queries(emb, SF.col("vec_id") < n_q)
        exact_knn(emb, batch, 10).count()  # warm
        runs = []
        for _ in range(3):
            t = time.time()
            exact_knn(emb, batch, 10).count()
            runs.append(time.time() - t)
        dt = sorted(runs)[1]
        extras["knn_bulk_queries"] = n_q
        extras["knn_bulk_runs"] = 3
        extras["knn_bulk_pairs_per_sec"] = round(n_q * n_corpus / dt, 1)
        extras["knn_bulk_ms_per_query"] = round(dt / n_q * 1000.0, 3)

        # Floor decomposition (SCALE.md "Bulk-KNN floor"): the fixed,
        # query-count-independent share of each bulk job — (a) job
        # dispatch + persisted scan with no Python, (b) plus Arrow ser/de
        # into the worker. A contaminated box shows up here as an inflated floor with an unchanged math
        # residual, making the headline self-diagnosing.
        import pandas as _pd

        def _passthrough(batches):
            for pdf in batches:
                yield _pd.DataFrame({"n": [len(pdf)]})

        def _med3(f) -> float:
            f()  # warm
            r = []
            for _ in range(3):
                t = time.time()
                f()
                r.append(time.time() - t)
            return sorted(r)[1]

        narrowed = emb.select("vec_id", "embedding")
        floor_job = _med3(lambda: emb.count())
        floor_arrow = _med3(
            lambda: narrowed.mapInPandas(_passthrough, "n long").count()
        )
        extras["knn_bulk_floor_job_ms"] = round(floor_job * 1000.0, 1)
        extras["knn_bulk_floor_arrow_ms"] = round(floor_arrow * 1000.0, 1)
        extras["knn_bulk_math_residual_ms"] = round(
            (dt - floor_arrow) * 1000.0, 1
        )
    except Exception as e:
        print(f"# bulk knn bench error: {e}", file=sys.stderr)

    # Corpus-prep throughput (docs/sec through profile->gate->dedup).
    try:
        n_docs = load_table(spark, SF_DIR, "documents").count()
        t_prep = timings.get("corpus_prep_pipeline", -1.0)
        if t_prep > 0:
            extras["corpus_prep_docs_per_sec"] = round(n_docs / t_prep, 1)
    except Exception:
        pass

    payload = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(SF_DIR),
        "startup_sec": round(startup, 2),
        "artifact_build_sec": round(artifact_build, 2),
        "artifact_build_jobs": sum(artifact_jobs.values()),
        "artifact_jobs": artifact_jobs,
        "query_jobs": query_jobs,
        "runs": 3,
        "median3_queries": median3,
        **extras,
        "framing": "per-query numbers are batch wall-clock on local[32]; "
        "see BASELINE.md 'Rebuild benchmark framing'",
    }

    # Full summary -> a committed file that diffs run-over-run (a 2000-char
    # stdout tail cannot hold the full JSON).
    try:
        with open(os.path.join(REPO, "BENCH_SUMMARY.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"# could not write BENCH_SUMMARY.json: {e}", file=sys.stderr)

    # Final stdout line: the same payload, compacted to fit the driver's
    # 2000-char tail so it machine-parses. The full 101-name queries map
    # CANNOT fit — the names alone sum to >1900 chars — so membership is
    # trimmed, with a STABLE priority order so the emitted set does not
    # churn run-over-run (a pure slowest-first cut drops the queries that
    # got faster, which then read as removed): every query the newest
    # committed line emitted stays in the line (line_queries), then the
    # remaining slots fill slowest-first. Values round to 10 ms in the
    # line only (BENCH_SUMMARY.json keeps full precision), and the bulky
    # floor/decomposition extras and the per-builder and per-query job
    # maps live in BENCH_SUMMARY.json only, which together leave room for
    # more query names.
    line_budget = 1980
    compact = {k: v for k, v in payload.items() if k not in ("artifact_jobs", "query_jobs")}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > line_budget:
        for k in (
            "median3_queries",
            "framing",
            "runs",
            "startup_sec",
            "knn_scored_pairs_per_sec",
            "knn_ms_per_query_batch8",
            "knn_bulk_queries",
            "knn_bulk_runs",
            "knn_bulk_pairs_per_sec",
            "knn_bulk_floor_job_ms",
            "knn_bulk_floor_arrow_ms",
            "knn_bulk_math_residual_ms",
        ):
            compact.pop(k, None)
        compact["full_summary"] = "BENCH_SUMMARY.json"
        by_time = sorted(timings, key=lambda n: -timings[n])
        pinned = [n for n in line_queries() if n in timings]
        order = pinned + [n for n in by_time if n not in set(pinned)]
        keep = len(order)
        line = json.dumps(compact, separators=(",", ":"))
        while len(line) > line_budget and keep > 0:
            keep -= 1
            kept = sorted(order[:keep], key=lambda n: -timings[n])
            compact["queries"] = {n: round(timings[n], 2) for n in kept}
            compact["queries_omitted"] = len(order) - keep
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def line_queries(repo: str = REPO) -> list[str]:
    """The query names the newest committed ``BENCH_r<round>.json`` line
    carried (its ``parsed.queries`` keys): pinned into every future line
    so the round-over-round PERF diff never sees a query vanish from the
    bench merely because it got faster. Each line carries its
    predecessor's names, so membership only grows. Remaining line budget
    fills slowest-first on top of these."""
    rounds = {}
    for path in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds[int(m.group(1))] = path
    if not rounds:
        return []
    with open(rounds[max(rounds)]) as fh:
        parsed = json.load(fh).get("parsed") or {}
    return list(parsed.get("queries") or {})


if __name__ == "__main__":
    main()
