"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests check BENCHMARK.json and spec.json against each other and
the span bookkeeping. The tests marked `run` start the benchmark, and
so Spark, one to two minutes each, and check what it prints and the
spans it writes; `-m "not run"` skips them.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Hooks, Span, Tracer, check_nesting, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load(path):
    with open(path) as f:
        return json.load(f)


BENCH = load(os.path.join(ROOT, "BENCHMARK.json"))
SPEC = load(os.path.join(HERE, "spec.json"))


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8
    assert 1 <= len(BENCH["end_to_end"]) <= 16
    assert 1 <= len(BENCH["per_layer"]) <= 128
    assert isinstance(BENCH["run_seconds"], int) and 1 <= BENCH["run_seconds"] <= 60
    for p in BENCH["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_names_and_units_follow_the_rules():
    names = [w["name"] for w in BENCH["workloads"]]
    names += [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")


def test_spec_covers_every_workload_and_layer_metric():
    for w in BENCH["workloads"]:
        assert w["name"] in SPEC["workloads"]
        assert SPEC["workloads"][w["name"]]["ops"]
    per_layer = {m["name"] for m in BENCH["per_layer"]}
    workloads = {w["name"] for w in BENCH["workloads"]}
    end_to_end = {m["name"] for m in BENCH["end_to_end"]}
    for metric, m in SPEC["layer_map"].items():
        assert metric in per_layer, metric
        assert m["workload"] == "all" or m["workload"] in workloads, metric
        assert m["moves"] in end_to_end | per_layer, metric


def test_plan_overhead_list_rules():
    ops = SPEC["workloads"]["plan-overhead-sf0.001"]["ops"]
    others = set(SPEC["workloads"]["udf-sf0.1"]["ops"]) | set(SPEC["deferred_workloads"]["olap-sf0.1"]["ops"])
    assert len(ops) == len(set(ops)) and not set(ops) & others
    for q in ("q_psi", "q_kaplan_meier", "q_bm25", "q_rrf_fusion", "q_pagerank",
              "q_label_propagation", "q_shortest_path"):
        assert q in ops
    sys.path.insert(0, ROOT)
    from iceberg_tracking_spark.plans import QUERIES

    modules = {QUERIES[q].fn.__module__ for q in ops}
    all_modules = {
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(ROOT, "iceberg_tracking_spark", "plans", "queries_*.py"))
    }
    assert {m.rsplit(".", 1)[1] for m in modules} == all_modules


def _tree():
    t = Tracer("r")
    with t.span("pass") as p:
        with t.span("op") as op:
            with t.span("plans.build") as b:
                time.sleep(0.01)
            t.add("catalyst.analysis", b.start - 5, b.end + 5, b)
            with t.span("exec.count"):
                time.sleep(0.01)
    return t, p, op


def test_spans_nest_and_self_times_add_up():
    t, p, op = _tree()
    assert check_nesting(t.spans) == []
    selfs = self_times(t.spans)
    inside = [s for s in t.spans if s.id != p.id and s.id != op.id]
    assert math.isclose(selfs[op.id] + sum(selfs[s.id] for s in inside), op.seconds, abs_tol=1e-9)
    assert all(v >= 0 for v in selfs.values())
    assert {s.run_id for s in t.spans} == {"r"}


def test_nesting_check_catches_a_child_outside_its_parent():
    spans = [Span(1, None, "r", "op", 0.0, 1.0, {}), Span(2, 1, "r", "exec.count", 0.5, 1.5, {})]
    assert check_nesting(spans)


def test_hooks_time_calls_and_restore_originals():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer("r")
    orig = Box.f
    h = Hooks(t)
    h.wrap(Box, "f", "box.f")
    assert Box.f(1) == 2 and [s.name for s in t.spans] == ["box.f"]
    h.restore()
    assert Box.f is orig


def _run(workload, trace, seconds=1, seed=3):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_result(result, metrics):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in metrics]
    for m in metrics:
        v = result["metrics"][m["name"]]
        assert v["unit"] == m["unit"] and isinstance(v["value"], (int, float))
        assert math.isfinite(v["value"])


@pytest.mark.run
def test_untraced_run_prints_every_end_to_end_metric():
    result = _run("table-maintenance", 0)
    _assert_result(result, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.run
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_reports_its_layers_and_spans_nest(workload):
    before = set(glob.glob(os.path.join(HERE, ".state", "traces", "*.jsonl")))
    result = _run(workload, 1)
    _assert_result(result, BENCH["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.nesting_errors"] == 0 and m["trace.spans"] > 0
    assert m["trace.unattributed_share"] < 0.05
    selfs = sum(v for k, v in m.items() if k.startswith("self."))
    assert math.isclose(selfs, m["trace.op_wall_s"], rel_tol=1e-6)
    for metric, spec in SPEC["layer_map"].items():
        if spec["workload"] in ("all", workload) and metric != "plans.build_jobs":
            assert m[metric] > 0 or metric.endswith("failed_tasks"), metric
    new = set(glob.glob(os.path.join(HERE, ".state", "traces", "*.jsonl"))) - before
    assert len(new) == 1
    with open(new.pop()) as f:
        spans = [Span(**json.loads(line)) for line in f]
    assert check_nesting(spans) == []
