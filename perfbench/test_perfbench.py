"""The benchmark's own checks; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from spans import Span, self_times  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_same_backlog(tmp_path):
    t1 = gen.write_backlog(str(tmp_path / "a"), 7, 300)
    t2 = gen.write_backlog(str(tmp_path / "b"), 7, 300)
    t3 = gen.write_backlog(str(tmp_path / "c"), 8, 300)
    assert t1 == t2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert all(t["rows"] == 300 for t in t1.values())
    assert t1["hyperliquid"]["duplicates"] > 0
    assert t1["okx"]["events_in"] > t1["okx"]["rows"]  # -USD-SWAP rows


def test_pins_match_stored_tables():
    with open(W.PINS) as f:
        pins = json.load(f)
    assert pins["data_sha1"] == W.data_hash()
    assert set(pins["queries"]) == set(W.LLM_QUERIES)


def test_corrupted_pin_is_a_failure():
    got = {("d14_verified_dedup_clusters", 1): (471, "ab" * 20)}
    assert W.check_results(got, {"d14_verified_dedup_clusters": (471, "ab" * 20)}) == []
    assert len(W.check_results(got, {"d14_verified_dedup_clusters": (471, "cd" * 20)})) == 1
    assert len(W.check_results(got, {"d14_verified_dedup_clusters": (470, "ab" * 20)})) == 1


def test_sink_check_catches_missing_and_duplicate_rows():
    truth = {"okx": {"rows": 2, "notional_sum": 3.0}}
    assert W.check_sink({"okx": (2, 3.0)}, truth) == []
    assert W.check_sink({"okx": (1, 1.0)}, truth)  # a row missing
    assert W.check_sink({"okx": (3, 5.0)}, truth)  # a row duplicated
    assert W.check_sink({"okx": (2, 3.0), "bybit": (1, 1.0)}, truth)


def test_self_time():
    spans = [
        Span(0, "bench.run", 0.0, 10.0, None, "r"),
        Span(1, "session.start", 0.0, 2.0, 0, "r"),
        Span(2, "pipeline.drain", 2.0, 8.0, 0, "r"),
        Span(3, "sources.get_batch", 2.5, 3.0, 2, "r"),
        Span(4, "sinks.add_batch", 3.0, 6.0, 2, "r"),
        Span(5, "pipeline.wal_commit", 6.0, 7.0, 2, "r"),
    ]
    st = self_times(spans)
    assert st == {"bench": 2.0, "session": 2.0, "pipeline": 1.5 + 1.0,
                  "sources": 0.5, "sinks": 3.0}
    assert sum(st.values()) == 10.0  # sequential spans account for the wall


def test_self_time_merges_overlapping_children():
    spans = [
        Span(0, "plans.build", 0.0, 10.0, None, "r"),
        Span(1, "exec.a", 1.0, 5.0, 0, "r"),
        Span(2, "exec.b", 3.0, 6.0, 0, "r"),  # overlaps exec.a: 1..6 once
        Span(3, "exec.c", 9.0, 12.0, 0, "r"),  # clipped to the parent: 9..10
    ]
    assert self_times(spans) == {"plans": 10.0 - 5.0 - 1.0, "exec": 4.0 + 3.0 + 3.0}


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for g in ("end_to_end", "per_layer") for m in spec[g]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_llm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
