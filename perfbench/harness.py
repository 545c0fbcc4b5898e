"""Shared run machinery: the Spark session, the op runner that times and
ledgers every request, and the report both workloads return."""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("throughput_qps", "1/s"),
    ("precision_at_10", "ratio"),
    ("mrr", "ratio"),
    ("cache_mb", "MB"),
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    """One timed unit of user work: a serve request or a suite query."""

    kind: str
    params: Any
    ms: float = 0.0
    build_ms: float = 0.0
    execute_ms: float = 0.0
    rows: list | None = None
    columns: list[str] = field(default_factory=list)
    ok: bool = True
    ledger: Any = None
    pinned: int = 0
    span: Any = None


class Harness:
    """Spark session, ledger and (in a traced run) tracer shared by the
    workloads, plus the op runner that times every request."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.ops: list[Op] = []
        self.spark = None

    def start_spark(self) -> None:
        from measure import SparkLedger, Tracer

        import layers
        from vector_database_product_recommendation_spark import lifetime
        from vector_database_product_recommendation_spark.session import get_spark

        self.lifetime = lifetime
        self.spark = get_spark("perfbench", cpus=os.environ["SPARK_GRAFT_CPUS"])
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.ledger = SparkLedger(self.sc)
        self.tracer = Tracer(self.ledger) if self.trace else None
        if self.tracer is not None:
            layers.install(self.tracer)
        self.spark.range(1).count()

    def op(self, kind: str, params: Any, build: Callable[[], Any]) -> Op:
        """Time ``build()`` (the call into the package) and the collect of
        the DataFrame it returns, under a job group of the op's own."""
        op = Op(kind, params)
        if self.tracer is not None:
            op.span = self.tracer.start(f"op.{kind}")
            groups = None
        else:
            group = self.ledger.new_group(kind)
            self.ledger.set_group(group)
            groups = [group]
        t0 = time.time()
        p0 = time.perf_counter()
        p1 = p0
        try:
            df = build()
            p1 = time.perf_counter()
            op.rows = [tuple(r) for r in df.collect()]
            op.columns = list(df.columns)
        except Exception:  # a failed request is counted, not fatal
            op.ok = False
            log(f"op {kind} failed: {traceback.format_exc(limit=3)}")
        p2 = time.perf_counter()
        t1 = time.time()
        if self.tracer is not None:
            self.tracer.finish(op.span)
            groups = [op.span.group] + [s.group for s in self.tracer.descendants(op.span)]
        op.build_ms = (p1 - p0) * 1e3
        op.execute_ms = (p2 - p1) * 1e3
        op.ms = (p2 - p0) * 1e3
        op.ledger = self.ledger.read(groups, t0, t1)
        op.pinned = self.lifetime.pinned_count()
        self.ops.append(op)
        return op

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None


def spark_metrics(ops: list[Op]) -> dict[str, float]:
    n = max(1, len(ops))

    def per_op(attr: str) -> float:
        return sum(getattr(o.ledger, attr) for o in ops) / n

    return {
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.driver_gap_ms_per_op": per_op("driver_gap_ms"),
        "spark.job_ms_per_op": sum(o.ms - o.ledger.driver_gap_ms for o in ops) / n,
        "spark.executor_run_ms_per_op": per_op("executor_run_ms"),
        "spark.executor_cpu_ms_per_op": per_op("executor_cpu_ms"),
        "spark.shuffle_bytes_per_op": per_op("shuffle_bytes"),
        "spark.failed_tasks": float(sum(o.ledger.failed_tasks for o in ops)),
    }


def span_cost_ms(harness: Harness, n: int = 200) -> float:
    """Cost of one empty span (start + finish, two job-group switches)."""
    tracer = harness.tracer
    root = tracer.start("calibrate")
    t = time.perf_counter()
    for _ in range(n):
        tracer.finish(tracer.start("calibrate.empty"))
    cost = (time.perf_counter() - t) * 1e3 / n
    tracer.finish(root)
    return cost


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work}'",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


@dataclass
class Report:
    """What a workload hands back to ``run.py`` for printing."""

    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    notes: list[str]
    trace_file: dict | None = None


def report(
    h: Harness,
    *,
    attempted: int,
    failed: int,
    setup_s: float,
    timed_s: float,
    precision: float,
    mrr: float,
    cache: float,
    layer_values: Callable[[], dict[str, float]],
) -> Report:
    """End-to-end metrics for an untraced run; per-layer metrics, with the
    workload's own ``layer_values()``, and the span file for a traced one."""
    if h.tracer is None:
        metrics, notes = end_to_end(h.ops, setup_s, timed_s, precision, mrr, cache)
        return Report(attempted, failed, metrics, notes)
    notes = [f"traced: {len(h.ops)} ops, setup {setup_s:.2f} s"]
    return Report(attempted, failed, per_layer(h, layer_values()), notes, trace_file(h))


def end_to_end(
    ops: list[Op], setup_s: float, timed_s: float, precision: float, mrr: float, cache: float
) -> tuple[dict[str, tuple[float, str]], list[str]]:
    """The end-to-end metrics of an untraced run, and report lines."""
    from measure import median, tail

    lat = [o.ms for o in ops]
    tail_ms, pct = tail(lat)
    values = {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat),
        "latency_tail_ms": tail_ms,
        "throughput_qps": len(ops) / timed_s,
        "precision_at_10": precision,
        "mrr": mrr,
        "cache_mb": cache,
    }
    metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    failed = sum(not o.ok for o in ops)
    notes = [
        f"{len(ops)} ops in {timed_s:.2f} s; latency_tail_ms is p{pct:.1f} "
        f"({len(ops)} ops, {sum(x > tail_ms for x in lat)} beyond it)",
        f"failed_share = {failed}/{len(ops)} = {failed / max(1, len(ops)):.3f}",
        "ops (ms): " + ", ".join(f"{o.kind}={o.ms:.0f}" for o in ops),
    ]
    return metrics, notes


def per_layer(harness: Harness, values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric in ``layers.per_layer_names()``: the given
    values, the Spark ledger, the lifetime pin count, and 0 for layers this
    workload does not reach."""
    import layers
    from measure import median

    ops = harness.ops
    job_counts = {
        g: len(ids) for o in ops for g, ids in o.ledger.job_ids_by_group.items()
    }
    merged = dict(spark_metrics(ops))
    merged.update(layers.span_metrics(harness.tracer, [o.span for o in ops], job_counts))
    merged["lifetime.pinned_count"] = float(max((o.pinned for o in ops), default=0))
    merged["trace.latency_p50_ms"] = median([o.ms for o in ops])
    spans_per_op = sum(1 + len(harness.tracer.descendants(o.span)) for o in ops) / max(1, len(ops))
    merged["trace.overhead_ms_per_op"] = spans_per_op * span_cost_ms(harness)
    merged.update(values)
    return {name: (float(merged.get(name, 0.0)), unit) for name, unit in layers.per_layer_names()}


def trace_file(harness: Harness) -> dict:
    """Every span of a traced run, for the file it writes."""
    return {
        "spans": [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start, "end": s.end}
            for s in harness.tracer.spans
        ],
        "ops": [
            {"kind": o.kind, "ms": o.ms, "build_ms": o.build_ms, "execute_ms": o.execute_ms,
             "span": o.span.id, "jobs": o.ledger.jobs, "ok": o.ok}
            for o in harness.ops
        ],
    }
