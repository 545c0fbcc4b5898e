"""The session's Python workers: the daemon module's zip re-read rule,
and workers that import the package wherever the driver starts."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import zipfile
import zipimport

import pandas as pd

from vector_database_product_recommendation_spark import _daemon, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_task_setup_cpu_is_small(spark):
    """A reused worker's CPU between two trivial tasks is the per-task
    setup: about 320 ms when every task re-reads ``pyspark.zip``.

    Idle workers are reused first in, first out, so one-partition jobs
    rotate through the session's idle pool; they run until 8 tasks have
    a previous task on the same worker."""

    def pid_and_cpu(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "cpu": [time.process_time()]})

    df = spark.range(500).repartition(1).cache()
    df.count()
    last, deltas = {}, []
    for _ in range(64):
        row = df.mapInPandas(pid_and_cpu, "pid long, cpu double").collect()[0]
        if row.pid in last:
            deltas.append(row.cpu - last[row.pid])
        last[row.pid] = row.cpu
        if len(deltas) == 8:
            break
    df.unpersist()
    assert len(deltas) == 8, f"only {len(deltas)} tasks reused a worker"
    assert sum(deltas) / len(deltas) <= 0.150, deltas


def _write_zip(path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(_daemon, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "alpha")
    importer = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's own read

    _daemon.invalidate_caches(importer)  # first call: no stamp yet
    assert len(reads) == 1
    files = importer._files
    _daemon.invalidate_caches(importer)  # unchanged: keeps its directory
    assert len(reads) == 1 and importer._files is files
    assert zipimport.zipimporter(archive)._files is files

    _write_zip(archive, "alpha", "beta")  # one more module: a new size
    _daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("beta") is not None

    os.remove(archive)  # cannot be stat'ed: re-read, as without the rule
    _daemon.invalidate_caches(importer)
    assert len(reads) == 3 and importer._files == {}


def test_workers_import_the_package_from_a_foreign_cwd(spark, sf_dir, tmp_path):
    """A driver started outside the repo, with only its own ``sys.path``
    pointing at the package, still runs Python tasks."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from vector_database_product_recommendation_spark import registry\n"
        "from vector_database_product_recommendation_spark.session import get_spark\n"
        "spark = get_spark('foreign-cwd', cpus='2')\n"
        f"print('ROWS', registry.queries()['knn_exact_batch'](spark, {sf_dir!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = registry.queries()["knn_exact_batch"](spark, sf_dir).count()
    assert f"ROWS {want}" in out.stdout
