"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests start Spark four times on the smallest data set and take a
few minutes; the rest run in well under a second.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _spans(*rows):
    return [tracing.Span(name, a, b, parent, None, None) for name, a, b, parent in rows]


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = _spans(
        ("parent", 0.0, 10.0, None),
        ("a", 1.0, 3.0, 0),
        ("b", 2.0, 5.0, 0),  # overlaps a: [1, 5] counts once
        ("c", 9.0, 12.0, 0),  # sticks out: only [9, 10] counts
        ("grandchild", 1.5, 2.5, 1),  # covers part of a, not of parent
    )
    assert tracing.self_times(spans) == pytest.approx([5.0, 1.0, 3.0, 3.0, 1.0])


def test_layer_self_times_sums_by_name_over_kept_spans():
    spans = _spans(
        ("query", 0.0, 4.0, None),
        ("plans.build", 0.0, 3.0, 0),
        ("exec.job", 1.0, 2.0, 1),
        ("exec.job", 2.5, 3.5, 0),  # under the query: covers [3, 3.5] of it
    )
    assert tracing.layer_self_times(spans) == pytest.approx(
        {"query": 0.5, "plans.build": 2.0, "exec.job": 2.0})
    kept = tracing.layer_self_times(spans, lambda s: s.name != "query")
    assert set(kept) == {"plans.build", "exec.job"}


def test_wrapped_traces_every_bound_name_and_restores_them():
    home = types.ModuleType("fakepkg.home")
    user = types.ModuleType("fakepkg.user")

    def read(spark, sf_dir, name):
        return name.upper()

    home.read = user.read = read
    sys.modules.update({"fakepkg.home": home, "fakepkg.user": user})
    tr = tracing.Tracer()
    try:
        with tracing.wrapped(tr, [("plans.read_table", home, "read",
                                 lambda args, kwargs: args[2])], "fakepkg"):
            with tr.span("query"):
                assert user.read(None, "d", "lineitem") == "LINEITEM"
                assert home.read(None, "d", "orders") == "ORDERS"
    finally:
        del sys.modules["fakepkg.home"], sys.modules["fakepkg.user"]
    assert home.read is read and user.read is read
    assert [(s.name, s.parent, s.detail) for s in tr.spans] == [
        ("query", None, None),
        ("plans.read_table", 0, "lineitem"),
        ("plans.read_table", 0, "orders"),
    ]


def test_run_fails_without_the_engine_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_scan_join",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace_flag):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace_flag), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    *_, record_line, result_line = proc.stdout.strip().splitlines()
    record, result = json.loads(record_line)["record"], json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    assert record["missing_metrics"] == []
    spec = SPEC["per_layer" if trace_flag else "end_to_end"]
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in spec}
    if trace_flag:
        assert set(record["largest_layer"]) == set(_queries(workload))
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9


def _queries(workload):
    from workloads import WORKLOADS

    return WORKLOADS[workload].queries
