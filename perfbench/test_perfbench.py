"""Tests of the benchmark itself, on the sf0.001 fixtures.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

One traced run over one batch query (cluster) and one streaming query
(stream_incremental_dedup) checks the span fold; one untraced run with a
corrupted pin and a query that raises checks that both count against
ok_frac.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402

DATA = "/root/testdata/sf0.001"
MIX = {"cluster": ["a"], "stream_incremental_dedup": ["documents"]}
STREAM_QUERY = "stream_incremental_dedup"
# Status-store times are whole milliseconds; Python's clock is finer.
CLOCK_SLACK_S = 0.002

pytestmark = pytest.mark.skipif(not os.path.isdir(DATA), reason="no sf0.001 fixtures")


def _run(trace: int, pins: dict, mix: dict = MIX):
    args = argparse.Namespace(workload="test", data=DATA, seed=7, seconds=0, trace=trace)
    work = bench.Workdir()
    try:
        return bench.run(args, work, pins, mix=mix)
    finally:
        work.close()


def _spec() -> dict:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def traced():
    return _run(1, bench.load_pins())


def test_pins_match_at_head(traced):
    result, _record, _runner = traced
    assert result["correct"] and result["failed"] == 0


def test_spans_nest(traced):
    _result, _record, runner = traced
    spans = {s.id: s for s in runner.spans.items}
    allowed_parent = {
        "pass": None, "query": "pass", "build": "query", "sink": "query",
        "free": "query", "spark.job": ("build", "sink", "free"),
        "spark.stage": "spark.job",
    }
    for s in spans.values():
        want = allowed_parent[s.name]
        if want is None:
            assert s.parent is None
            continue
        parent = spans[s.parent]
        assert parent.name in (want if isinstance(want, tuple) else (want,))
        assert parent.start - CLOCK_SLACK_S <= s.start <= s.end <= parent.end + CLOCK_SLACK_S, (
            s, parent)


def test_micro_batch_jobs_land_under_their_query(traced):
    _result, _record, runner = traced
    spans = {s.id: s for s in runner.spans.items}

    def query_of(s):
        while s.name != "query":
            s = spans[s.parent]
        return s.attrs["query"]

    # Micro-batches run under the stream's own job group (its run id).
    micro = [s for s in spans.values() if s.name == "spark.job" and s.attrs["group"]]
    assert micro
    assert {query_of(s) for s in micro} == {STREAM_QUERY}


def test_self_times_non_negative(traced):
    from tracing import self_times

    _result, _record, runner = traced
    selfs = self_times(runner.spans.items)
    assert min(selfs.values()) >= 0.0
    metrics = traced[0]["metrics"]
    assert all(metrics[k]["value"] >= 0.0 for k in metrics if k.startswith("self."))


def test_metric_names_match_benchmark_json(traced):
    result, _record, _runner = traced
    declared = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared


def test_corrupted_fingerprint_and_exception_drop_ok_frac():
    pins = copy.deepcopy(bench.load_pins())
    fp = pins[bench.data_key(DATA)]["cluster"]
    fp["hash"] = str(int(fp["hash"]) + 1)
    result, record, _runner = _run(0, pins, mix={"cluster": ["a"], "no_such_query": []})
    declared = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert result["metrics"]["ok_frac"]["value"] < 1.0
    assert not result["correct"] and result["failed"] == result["attempted"]
    assert any(e.startswith("fingerprint") for e in record["errors"])
    assert any(e.startswith("KeyError") for e in record["errors"])
