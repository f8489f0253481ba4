"""The event-log folder against a small recorded log: a 2-epoch crawl of a
40-page corpus plus one extraction pass, recorded with Spark 4.1 and trimmed
to the events and fields the folder reads (paths rewritten under /data).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).with_name("testdata_eventlog.jsonl")


@pytest.fixture(scope="module")
def lines():
    return LOG.read_text().splitlines()


@pytest.fixture(scope="module")
def folded(lines):
    return eventlog.fold(lines, 0, float("inf"))


def test_every_task_is_charged_to_exactly_one_layer(lines, folded):
    events = [json.loads(line) for line in lines]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    run_s = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3
    assert folded["tasks"] == len(tasks)
    assert sum(r["run_s"] for r in folded["layers"].values()) == pytest.approx(run_s)


def test_each_crawl_layer_is_recognised(folded):
    for layer in ("drain", "fetch_extract", "sketches", "expand", "commit"):
        assert folded["layers"][layer]["run_s"] > 0, layer
    udfs = folded["python"]["udfs"]
    assert udfs["bytes_to_python"] > udfs["bytes_from_python"] > 0
    assert folded["python"]["sketch_build"]["python_s"] > 0
    assert folded["python"]["sketch_probe"]["python_s"] > 0
    assert folded["fetch_scan_bytes"] > 0
    assert folded["fetch_task_skew"] >= 1


def test_jobs_outside_the_window_are_left_out(lines, folded):
    first = min(
        json.loads(line)["Submission Time"]
        for line in lines
        if '"SparkListenerJobStart"' in line
    )
    empty = eventlog.fold(lines, 0, first - 1)
    assert (empty["jobs"], empty["tasks"]) == (0, 0)
    later = eventlog.fold(lines, first + 1, float("inf"))
    assert 0 < later["jobs"] < folded["jobs"]


@pytest.mark.parametrize("scopes, execution, layer", [
    ({"ArrowEvalPython", "WriteFiles"}, {"table": "results"}, "fetch_extract"),
    ({"MapInPandas", "WriteFiles"}, {"table": "new"}, "sketches"),
    ({"PythonRDD"}, None, "sketches"),
    ({"WriteFiles"}, {"table": "new"}, "commit"),
    ({"Exchange"}, {"table": "frontier"}, "expand"),
    ({"Exchange"}, {"table": "lineage"}, "commit"),
    ({"Exchange"}, {"table": None, "reads_frontier": True}, "drain"),
    ({"Exchange"}, {"table": None, "reads_frontier": False}, "other"),
    ({"parallelize"}, None, "other"),
])
def test_stage_rules(scopes, execution, layer):
    assert eventlog._stage_layer(scopes, execution) == layer
