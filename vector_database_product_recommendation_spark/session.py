"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config choices below are the ones
that matter identically on a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting)
- Arrow on (every pandas UDF / mapInPandas crosses JVM<->Python in batches)
- UTC session timezone (deterministic timestamp semantics vs the oracle)
- Python workers run under this package's daemon module (``_daemon.py``),
  which keeps them from re-reading ``pyspark.zip`` on every task, and
  import the package from its own directory wherever the driver started
- shuffle partitions sized for the test box; on a real cluster this is
  overridden per-job (or left to AQE's coalescing with a high initial value)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the directory holding this package: workers and their daemon import it
# from here, not from whatever the JVM's working directory happens to be
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "vdb-rec-spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the session. Idempotent under getOrCreate."""
    master = f"local[{cpus or DEFAULT_CPUS}]"
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scan metadata (PushedFilters/ReadSchema) renders truncated at 100
        # chars by default AND the rendering is cached on first use — widen
        # it up front so plan audits (plans/audit.py) always see full lists
        .config("spark.sql.maxMetadataStringLength", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .getOrCreate()
    )
