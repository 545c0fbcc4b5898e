"""CSV / JSON round-trip fidelity and partitioned-sink pruning.

Aggregate correctness is driver-checked (registry oracles); these tests
pin row-level fidelity and the physical pruning behavior."""

from __future__ import annotations

import os
import subprocess
import sys
from urllib.parse import urlparse

import pyspark.sql.functions as F

from vector_database_product_recommendation_spark import lifetime
from vector_database_product_recommendation_spark.artifacts import ivf_store
from vector_database_product_recommendation_spark.sources import formats as FMT
from vector_database_product_recommendation_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_csv_roundtrip_is_row_identical(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_csv")
    FMT.write_csv(docs, path)
    back = FMT.read_csv(spark, path, docs.schema)
    assert back.count() == docs.count()
    # text survives quoting/newlines byte-for-byte: anti-joins are empty
    assert back.exceptAll(docs).isEmpty()
    assert docs.exceptAll(back).isEmpty()


def test_json_roundtrip_keeps_micros(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_json")
    FMT.write_json(events, path)
    back = FMT.read_json(spark, path, events.schema)
    assert back.exceptAll(events).isEmpty()
    assert events.exceptAll(back).isEmpty()


def test_partitioned_scan_prunes_directories(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_part")
    FMT.write_partitioned(orders, path, "o_orderstatus")
    back = FMT.read_partitioned(spark, path).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "o_orderstatus" in seg  # predicate became directory pruning
    # and the pruned read still returns exactly the F rows
    assert back.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_csv_reader_needs_no_inference_job(spark, tmp_path):
    # schema-on-read: reading with an explicit StructType plans a single
    # FileScan csv without an inference pass (no sampling job is triggered
    # at plan time — constructing the DataFrame runs zero jobs)
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_csv2")
    FMT.write_csv(docs, path)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = FMT.read_csv(spark, path, docs.schema)
    _ = df.schema  # resolve analysis
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_orc_roundtrip_row_identity(spark, sf_dir, tmp_path):
    from vector_database_product_recommendation_spark.sources import formats as FMT
    from vector_database_product_recommendation_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "orc_emb")
    FMT.write_orc(emb, path)
    back = FMT.read_orc(spark, path)
    assert back.schema == emb.schema
    assert back.count() == emb.count()
    assert back.exceptAll(emb).count() == 0 and emb.exceptAll(back).count() == 0


def test_roundtrip_copies_land_under_one_root(spark):
    queries = (
        FMT.csv_roundtrip_catalog,
        FMT.json_roundtrip_events,
        FMT.partitioned_orders_pruned,
        FMT.orc_roundtrip_embeddings,
    )
    files = [f for q in queries for f in q(spark, SF_DIR).inputFiles()]
    files += ivf_store(spark, SF_DIR)[1].inputFiles()
    root = lifetime._scratch_root
    assert root is not None and os.path.isdir(root)
    assert files and all(urlparse(f).path.startswith(root + os.sep) for f in files)


def test_roundtrip_copies_root_is_removed_at_exit(tmp_path):
    code = (
        "from vector_database_product_recommendation_spark.lifetime import scratch_dir\n"
        "print(scratch_dir('csv_docs_'))\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    copy = out.stdout.strip()
    assert os.path.dirname(os.path.dirname(copy)) == str(tmp_path)
    assert not os.path.exists(os.path.dirname(copy))
    assert os.listdir(tmp_path) == []


def test_a_second_load_table_runs_no_job(spark, jobs_run_by):
    """The footer schema is read once per file version: a repeated read of
    a table passes it back and runs no schema-inference job."""
    load_table(spark, SF_DIR, "orders")
    assert jobs_run_by(lambda: load_table(spark, SF_DIR, "orders"), "reload-orders") == 0
    events = load_table(spark, SF_DIR, "events")
    again = jobs_run_by(lambda: load_table(spark, SF_DIR, "events"), "reload-events")
    assert again == 0 and load_table(spark, SF_DIR, "events").schema == events.schema


def test_a_rewritten_table_is_read_again(spark, tmp_path):
    """A file rewritten in place with one more column has a new stamp, so
    its schema is read again and the column shows."""
    import pandas as pd

    path = tmp_path / "region.parquet"
    pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["A", "B"]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    assert load_table(spark, str(tmp_path), "region").count() == 2
    pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_comment": ["x", "y", "z"]}).to_parquet(path)
    back = load_table(spark, str(tmp_path), "region")
    assert back.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in back.collect()) == ["x", "y", "z"]
