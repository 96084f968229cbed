"""The benchmark's own tests: every workload at tiny size, in one shared
Spark session.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT]
os.chdir(ROOT)

from perfbench import oracles, run  # noqa: E402
from perfbench.common import Workdir, configure_env, start_spark, stop_spark  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    workdir = Workdir(ROOT, "tests-session")
    configure_env(ROOT, workdir)
    session = start_spark(workdir)
    yield session
    stop_spark(session)
    workdir.cleanup()


def _tiny(spark, name: str, *, trace: bool = False, seed: int = 3) -> dict:
    return run.execute(name, seed, 1.0, trace, scale="tiny", spark=spark)


def _assert_all_metrics(result: dict, declared: list[tuple[str, str]]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {name for name, _ in declared}
    for name, unit in declared:
        assert metrics[name]["unit"] == unit, name
        assert isinstance(metrics[name]["value"], (int, float)), name


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_end_to_end_metrics_and_ok_ratio(spark, name):
    result = _tiny(spark, name)
    _assert_all_metrics(result, run.END_TO_END)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert result["metrics"]["ok_ratio"]["value"] == 1
    assert result["metrics"]["items_per_s"]["value"] > 0


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_traced_run_writes_every_layer_metric(spark, name):
    result = _tiny(spark, name, trace=True, seed=4)
    _assert_all_metrics(result, run.PER_LAYER)
    assert result["correct"]
    path = os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed4.json")
    with open(path, encoding="utf-8") as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert any(s["name"] == "pass" for s in spans)
    assert all({"name", "start", "end", "parent", "run_id", "self_s"} <= set(s) for s in spans)
    m = result["metrics"]
    assert m["pass.jobs"]["value"] > 0 and m["pass.tasks"]["value"] > 0
    if name == "kg_throughput":
        assert m["operators.grounding.fused_scan.s"]["value"] > 0
        assert m["operators.grounding.mentions.rows_out"]["value"] > 0
        assert m["operators.grounding.fused_scan.task_skew"]["value"] >= 1
    if name == "corpus_ops":
        assert m["ops.connected_components.jobs"]["value"] > 0
    if name == "mapping_export":
        assert m["graph.components.large.jobs"]["value"] > 0
        assert m["io.sssom_tsv.read.rows"]["value"] > 0
        assert m["export.merge.to_tsv.bytes"]["value"] > 0


def test_corrupted_kg_truth_fails(spark, monkeypatch):
    monkeypatch.setattr(oracles, "KG_EXPECTED", frozenset({("mesh:D024502", "CHEBI:18145")}))
    result = _tiny(spark, "kg_throughput")
    assert not result["correct"]
    assert result["metrics"]["ok_ratio"]["value"] < 1


def test_corrupted_evidence_count_fails(spark, monkeypatch):
    count = oracles.surface_doc_counts

    def one_more_aspirin_page(pages, surfaces=None):
        counts = count(pages, surfaces)
        counts["aspirin"] = counts.get("aspirin", 0) + 1
        return counts

    monkeypatch.setattr(oracles, "surface_doc_counts", one_more_aspirin_page)
    result = _tiny(spark, "kg_throughput")
    assert not result["correct"]
    assert result["metrics"]["ok_ratio"]["value"] < 1


def test_corrupted_query_oracle_fails(spark, monkeypatch):
    load = oracles.QueryOracle.load

    def drop_a_row(self, name, sql):
        load(self, name, sql)
        cols, multiset, n = self.expected[name]
        multiset = multiset.copy()
        multiset[next(iter(multiset))] -= 1
        self.expected[name] = (cols, +multiset, n - 1)

    monkeypatch.setattr(oracles.QueryOracle, "load", drop_a_row)
    result = _tiny(spark, "corpus_ops")
    assert not result["correct"]
    assert result["metrics"]["ok_ratio"]["value"] < 1


def test_corrupted_component_count_fails(spark, monkeypatch):
    count = oracles.count_components
    monkeypatch.setattr(oracles, "count_components", lambda edges: count(edges) + 1)
    result = _tiny(spark, "mapping_export")
    assert not result["correct"]
    assert result["metrics"]["ok_ratio"]["value"] < 1


def test_union_find_and_multiset():
    assert oracles.count_components([("a", "b"), ("b", "c"), ("d", "e")]) == 2
    pages = [("en", "We discuss Alpha-Tocopherol."), ("de", "aspirin"), ("en", "aspirins")]
    assert oracles.surface_doc_counts(pages) == {"alpha tocopherol": 1}
    assert oracles.frame_multiset(["y", "x"], [(1.0, "a")]) == oracles.frame_multiset(
        ["x", "y"], [("a", 1.0000000001)]
    )


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER


def test_exits_non_zero_outside_a_checkout():
    tmp_path = os.path.join(ROOT, ".perfbench", "work", "outside-checkout")
    shutil.rmtree(tmp_path, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp_path, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_throughput", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    shutil.rmtree(tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
