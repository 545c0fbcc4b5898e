"""The layers a traced run records, and the per-layer metrics it prints.

Layer names are the package's module names. Spans wrap public functions
from outside: each wrapper replaces the function where it is defined and
wherever a module imported it by name (``api.exact_knn`` as well as
``knn.exact_knn``).
"""

from __future__ import annotations

import importlib
import sys

from measure import Tracer, median, self_time

PKG = "vector_database_product_recommendation_spark"
NPROBES = (1, 2, 5, 10, 20)

# (span name, module, attribute path)
TRACED = (
    ("reference.load_reviews", "sources.reference", "load_reviews"),
    ("reference.load_embeddings_npy", "sources.reference", "load_embeddings_npy"),
    ("reference.rebuild_products", "sources.reference", "rebuild_products"),
    ("reference.rebuild_product_embeddings", "sources.reference", "rebuild_product_embeddings"),
    ("centroids.group_centroids", "operators.centroids", "group_centroids"),
    ("embed.hash_embed_py", "functions.embed", "hash_embed_py"),
    ("knn.exact_knn", "operators.knn", "exact_knn"),
    ("knn.exact_scores", "operators.knn", "exact_scores"),
    ("knn.item_to_item", "operators.knn", "item_to_item"),
    ("knn.pairwise_similarity", "operators.knn", "pairwise_similarity"),
    ("tfidf.TfidfModel.fit", "operators.tfidf", "TfidfModel.__init__"),
    ("tfidf.weights", "operators.tfidf", "TfidfModel.weights"),
    ("tfidf.transform_query", "operators.tfidf", "TfidfModel.transform_query"),
    ("ivf.train_kmeans_centroids", "operators.ivf", "train_kmeans_centroids"),
    ("ivf.assign_clusters", "operators.ivf", "assign_clusters"),
    ("ivf.ivf_knn", "operators.ivf", "ivf_knn"),
    ("eval.ann_tradeoff", "operators.eval", "ann_tradeoff"),
    ("api.candidate_products", "api", "ProductSearchEngine.candidate_products"),
)

API_KINDS = ("vector", "filtered", "item", "compare")
# the builds of bench.py's artifact phase that the suite's queries read
ARTIFACT_BUILDERS = ("fitted_tfidf", "ivf_index", "pq_index", "shingle_index")
# the ROADMAP direction-3 targets that fit a run's time budget
REGISTRY_TARGETS = (
    "ann_tradeoff", "dedup_components", "hybrid_search", "q21_waiting_suppliers", "tfidf_search",
)
# one query for each remaining module the suite must reach, plus the
# knn and centroids queries: serve reaches those modules too, but these
# two put enough ops near the suite's median to steady it
REGISTRY_FAMILIES = {
    "pq_knn_refined": "operators.pq",
    "sq8_knn": "operators.sq",
    "q7_volume_shipping": "operators.relational_breadth",
    "events_sessionization": "streaming.events",
    "knn_exact_batch": "operators.knn",
    "centroid_by_label": "operators.centroids",
}

SPARK_METRICS = (
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_gap_ms_per_op", "ms"),
    ("spark.job_ms_per_op", "ms"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.shuffle_bytes_per_op", "bytes"),
    ("spark.failed_tasks", "count"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in print order."""
    out = list(SPARK_METRICS)
    for kind in API_KINDS:
        out += [(f"api.{kind}.build_ms", "ms"), (f"api.{kind}.execute_ms", "ms"), (f"api.{kind}.jobs", "count")]
    out += [
        ("api.candidate_products.build_ms", "ms"),
        ("embed.hash_embed_py.ms", "ms"),
        ("knn.exact_knn.build_ms", "ms"),
        ("knn.exact_knn.jobs", "count"),
        ("knn.exact_scores.build_ms", "ms"),
        ("knn.item_to_item.build_ms", "ms"),
        ("knn.pairwise_similarity.build_ms", "ms"),
        ("tfidf.TfidfModel.fit_ms", "ms"),
        ("tfidf.weights.ms", "ms"),
        ("tfidf.transform_query.ms", "ms"),
        ("ivf.train_kmeans_centroids.ms", "ms"),
        ("ivf.assign_clusters.ms", "ms"),
    ]
    for p in NPROBES:
        out += [(f"ivf.ivf_knn.nprobe{p}.build_ms", "ms"), (f"ivf.ivf_knn.nprobe{p}.execute_ms", "ms")]
    out += [
        ("ivf.scan_fraction", "ratio"),
        ("eval.ann_tradeoff.self_ms", "ms"),
        ("reference.load_reviews.ms", "ms"),
        ("reference.load_embeddings_npy.ms", "ms"),
        ("reference.rebuild_products.ms", "ms"),
        ("reference.rebuild_product_embeddings.ms", "ms"),
        ("centroids.group_centroids.ms", "ms"),
    ]
    for b in ARTIFACT_BUILDERS:
        out += [(f"artifacts.{b}.ms", "ms"), (f"artifacts.{b}.cache_mb", "MB")]
    for q in REGISTRY_TARGETS:
        out += [(f"registry.{q}.build_ms", "ms"), (f"registry.{q}.execute_ms", "ms"), (f"registry.{q}.jobs", "count")]
    for module in sorted(set(REGISTRY_FAMILIES.values())):
        out.append((f"registry.family.{module}.ms", "ms"))
    out += [
        ("lifetime.pinned_count", "count"),
        ("trace.latency_p50_ms", "ms"),
        ("trace.overhead_ms_per_op", "ms"),
    ]
    return out


def _nprobe_label(args, kwargs) -> str:
    nprobe = kwargs.get("nprobe", args[4] if len(args) > 4 else None)
    return f"ivf.ivf_knn.nprobe{nprobe}"


def install(tracer: Tracer) -> None:
    """Patch every function in TRACED with a span wrapper."""
    modules = [m for name, m in sys.modules.items() if name.startswith(PKG) and m is not None]
    for span_name, module, path in TRACED:
        owner = importlib.import_module(f"{PKG}.{module}")
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        label = _nprobe_label if span_name == "ivf.ivf_knn" else None
        tracer.patch(span_name, owner, attr, modules, label=label)


def span_metrics(tracer: Tracer, op_spans: list, job_counts: dict[str, int]) -> dict[str, float]:
    """Mean inclusive milliseconds per call of each traced function, plus
    job counts and self times where the metric list asks for them. Calls
    made inside timed ops count when there are any; functions called only
    during set-up count their set-up calls. ``job_counts`` maps a span's
    job group to the jobs it ran."""
    in_ops = {d.id for o in op_spans for d in tracer.descendants(o)}
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    for name, spans in by_name.items():
        timed = [s for s in spans if s.id in in_ops]
        by_name[name] = timed or spans

    def ms(name: str) -> float:
        spans = by_name.get(name, [])
        return sum((s.end - s.start) * 1e3 for s in spans) / len(spans) if spans else 0.0

    def jobs(name: str) -> float:
        spans = [s for s in by_name.get(name, []) if s.id in in_ops]
        if not spans:
            return 0.0
        total = sum(
            job_counts.get(x.group, 0) for s in spans for x in [s, *tracer.descendants(s)]
        )
        return total / len(spans)

    out = {
        "api.candidate_products.build_ms": ms("api.candidate_products"),
        "embed.hash_embed_py.ms": ms("embed.hash_embed_py"),
        "knn.exact_knn.build_ms": ms("knn.exact_knn"),
        "knn.exact_knn.jobs": jobs("knn.exact_knn"),
        "knn.exact_scores.build_ms": ms("knn.exact_scores"),
        "knn.item_to_item.build_ms": ms("knn.item_to_item"),
        "knn.pairwise_similarity.build_ms": ms("knn.pairwise_similarity"),
        "tfidf.TfidfModel.fit_ms": ms("tfidf.TfidfModel.fit"),
        "tfidf.weights.ms": ms("tfidf.weights"),
        "tfidf.transform_query.ms": ms("tfidf.transform_query"),
        "ivf.train_kmeans_centroids.ms": ms("ivf.train_kmeans_centroids"),
        "ivf.assign_clusters.ms": ms("ivf.assign_clusters"),
        "centroids.group_centroids.ms": ms("centroids.group_centroids"),
    }
    for fn in ("load_reviews", "load_embeddings_npy", "rebuild_products", "rebuild_product_embeddings"):
        out[f"reference.{fn}.ms"] = ms(f"reference.{fn}")
    for p in NPROBES:
        out[f"ivf.ivf_knn.nprobe{p}.build_ms"] = ms(f"ivf.ivf_knn.nprobe{p}")
    evals = by_name.get("eval.ann_tradeoff", [])
    out["eval.ann_tradeoff.self_ms"] = median(
        [self_time(s, tracer.children(s)) * 1e3 for s in evals]
    )
    return out
