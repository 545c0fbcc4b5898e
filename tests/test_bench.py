"""bench.py's stdout line pins the queries of the newest committed
``BENCH_r<round>.json`` line, so membership only grows, and its job
counter counts the jobs run under one job group."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _line(path: str) -> list[str]:
    with open(path) as fh:
        parsed = json.load(fh).get("parsed") or {}
    return list(parsed.get("queries") or {})


def test_line_queries_contain_every_name_a_committed_line_carried():
    """Every committed round's line, the newest included, is a subset of
    what the next line pins: membership only grows."""
    names = set(_bench().line_queries())
    lines = [
        _line(p)
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    ]
    assert any(lines), "no committed line carries queries"
    for queries in lines:
        assert set(queries) <= names


def test_line_queries_read_the_highest_round_only(tmp_path):
    def write(name: str, queries: list[str]) -> None:
        (tmp_path / name).write_text(json.dumps({"parsed": {"queries": dict.fromkeys(queries, 1.0)}}))

    write("BENCH_r9.json", ["a"])
    write("BENCH_r10.json", ["a", "b"])
    write("BENCH_r10_c8.json", ["c"])  # a core-count variant, not a round
    assert _bench().line_queries(str(tmp_path)) == ["a", "b"]


def test_jobs_in_group_counts_the_jobs_run_under_the_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("bench-two-jobs", "bench-two-jobs")
    sc.parallelize([1, 2], 1).count()
    sc.parallelize([3], 1).count()
    assert _bench()._jobs_in_group(sc, "bench-two-jobs") == 2
    assert sc.getLocalProperty("spark.jobGroup.id") is None
