"""Tests of the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import streamload  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.measure import percentile  # noqa: E402
from perfbench.run import END_TO_END_UNITS, REPO_ROOT  # noqa: E402
from perfbench.tracing import SPAN_TAG, Tracer, attribute_jobs, self_times  # noqa: E402


def test_percentile_interpolates():
    assert percentile([], 0.5) == 0.0
    assert percentile([3.0], 0.9) == 3.0
    assert percentile([1, 2, 3, 4], 0.5) == 2.5
    assert percentile(range(11), 0.9) == pytest.approx(9.0)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 5.0},  # overlaps b
        {"id": 3, "name": "d", "parent": 0, "start": 8.0, "end": 9.0},
        {"id": 4, "name": "e", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_attributes_jobs():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    tr.record("streaming.q", 0.0, 1.0, query_id="qid-1")
    assert inner["parent"] == outer["id"]
    log = {
        "jobs": {
            1: {"desc": f"{SPAN_TAG}{inner['id']} inner", "group": "", "query": ""},
            2: {"desc": "", "group": "", "query": "qid-1"},
            3: {"desc": "", "group": "", "query": ""},
        }
    }
    assert attribute_jobs(log, tr) == {1: inner["id"], 2: tr.query_spans["qid-1"]}


def _write_log(path, lines):
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(x) for x in lines) + "\n")


def test_commit_times_and_lag_from_checkpoint(tmp_path):
    cp = tmp_path / "cp"
    (cp / "sources" / "0").mkdir(parents=True)
    (cp / "commits").mkdir()
    _write_log(cp / "sources" / "0" / "0", [{"path": "file:///src/a.parquet", "batchId": 0}])
    _write_log(cp / "sources" / "0" / "1", [{"path": "file:///src/b.parquet", "batchId": 1},
                                             {"path": "file:///src/c.parquet", "batchId": 1}])
    for b, t in ((0, 100.0), (1, 105.0)):
        (cp / "commits" / str(b)).write_text("v1\n{}\n")
        os.utime(cp / "commits" / str(b), (t, t))
    commits = streamload.file_commit_times(str(cp))
    assert commits == {"a.parquet": 100.0, "b.parquet": 105.0, "c.parquet": 105.0}
    due = {"a.parquet": 99.0, "b.parquet": 101.0, "c.parquet": 104.5, "d.parquet": 106.0}
    assert streamload.lags_ms(due, commits) == [1000.0, 4000.0, 500.0, float("inf")]


def test_backlog_max_counts_files_awaiting_the_slower_query():
    due = {"a": 0.0, "b": 1.0, "c": 2.0}
    fast = {"a": 0.5, "b": 1.5, "c": 2.5}
    slow = {"a": 3.0, "b": 3.0, "c": 3.0}
    assert streamload.backlog_max(due, [fast]) == 1
    assert streamload.backlog_max(due, [fast, slow]) == 3


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
