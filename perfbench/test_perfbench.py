"""Self-tests of the benchmark, run at sf0.001-sized inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test drives the same code path as ``run.py`` (one timed iteration,
``seconds=0``) on the "tiny" sizes in workloads.SIZES.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def _run(tmp_path_factory, name: str, trace: bool):
    work = str(tmp_path_factory.mktemp(f"{name}-{int(trace)}"))
    return run.run_workload(name, seed=5, seconds=0, trace=trace, scale="tiny", work=work)


@pytest.fixture(scope="module", autouse=True)
def _jvm():
    yield
    run.shutdown_jvm()


@pytest.fixture(scope="module")
def traced_corpus(tmp_path_factory):
    return _run(tmp_path_factory, "corpus_curation", trace=True)


@pytest.mark.parametrize("name", [w["name"] for w in BENCHMARK["workloads"]])
def test_end_to_end_metrics_printed_with_units(tmp_path_factory, name):
    result, _ = _run(tmp_path_factory, name, trace=False)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_per_layer_metrics_printed_with_units(traced_corpus):
    result, _ = traced_corpus
    assert result["correct"]
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}


def test_planted_wrong_expected_value_counts_as_failed(tmp_path_factory, monkeypatch):
    import workloads

    monkeypatch.setattr(workloads.ServingMixed, "expected_loaded", lambda self, n: n + 1)
    result, _ = _run(tmp_path_factory, "serving_mixed", trace=False)
    assert not result["correct"]
    assert result["failed"] > 0


def test_time_attribution_counts_thread_pool_jobs(traced_corpus):
    """upsert_inverted_index submits its store writes from a thread pool;
    those jobs carry no job group, but are charged to the span by time."""
    from spans import BENCH

    _, diag = traced_corpus
    tracer, fold = diag["tracer"], diag["fold"]
    upserts = [s for s in tracer.spans if s.name == "upsert_inverted_index"]
    assert upserts
    for sp in upserts:
        op = sp
        while op.layer != BENCH:
            op = tracer.spans[op.parent]
        assert tracer.inclusive_jobs(fold, sp.sid) > fold["group_jobs"].get(op.group, 0)


def test_self_times_are_not_negative(traced_corpus):
    _, diag = traced_corpus
    assert diag["fold"]["self_s"]
    assert all(v >= 0 for v in diag["fold"]["self_s"].values())
