"""Tests of the benchmark itself: seed determinism, metric names against
BENCHMARK.json, smoke runs of every workload and the span coverage of
traced statements.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_gives_same_statements(workload):
    for pass_no in (-1, 0, 3):
        assert (workloads.plan_pass(workload, 7, pass_no)
                == workloads.plan_pass(workload, 7, pass_no))


@pytest.mark.parametrize("workload",
                         list(workloads.REGISTRY_WORKLOADS) + ["engine_dml"])
def test_different_seed_gives_different_statements(workload):
    assert workloads.plan_pass(workload, 7, 0) != workloads.plan_pass(workload, 8, 0)


def test_stream_chunks_follow_the_seed_and_cover_the_table():
    a, b = workloads.chunk_bounds(7, 10_000), workloads.chunk_bounds(8, 10_000)
    assert a == workloads.chunk_bounds(7, 10_000)
    assert a != b
    for bounds in (a, b):
        assert len(bounds) == workloads.STREAM_CHUNKS
        assert bounds[0][0] == 0 and bounds[-1][1] == 10_000
        assert all(lo < hi for lo, hi in bounds)
        assert all(x[1] == y[0] for x, y in zip(bounds, bounds[1:]))


def test_mixed_workload_runs_both_registry_families():
    names = [s.text for s in workloads.plan_pass("analytics_curation", 7, 0)]
    assert sorted(names) == sorted(workloads.SQL_ANALYTICS + workloads.LLM_CURATION)


def test_measured_executions_are_verified_against_the_checked_result():
    w = workloads.make("sql_analytics", 7)
    stmt = workloads.Stmt("q6_forecast_revenue", "q6_forecast_revenue")
    assert not w.verify(stmt, workloads.Result(rows=1))  # nothing checked yet
    w.results[stmt.kind] = workloads.Result(rows=1, collected=[(1.0,)])
    assert w.verify(stmt, workloads.Result(rows=1))
    assert not w.verify(stmt, workloads.Result(rows=0))


def test_dml_pass_is_one_table_lifecycle():
    stmts = workloads.plan_pass("engine_dml", 7, 0)
    kinds = [s.kind for s in stmts]
    assert kinds[:2] == ["create", "insert_select"]
    assert kinds[-2:] == ["vacuum", "drop"]
    assert set(kinds) == set(workloads.DML_KINDS)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run._per_layer_units()
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(unit), unit


def test_benchmark_json_follows_the_contract():
    spec = _benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_tail_has_ten_samples_beyond_it():
    value, pct = run.tail([float(i) for i in range(1, 31)])
    assert pct == pytest.approx(200 / 3)
    assert 20.0 <= value <= 21.0  # between the 20th and 21st of 30
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_quantile_is_a_weighted_average_of_order_statistics():
    assert run.quantile([7.0] * 25, 0.5) == pytest.approx(7.0)
    assert run.quantile([float(i) for i in range(1, 32)], 0.5) == pytest.approx(16.0)
    assert run._betainc(2, 3, 0.4) == pytest.approx(0.5248)
    # two clusters of statement kinds: the estimate moves little when one
    # sample crosses the gap, where the sample median jumps across it
    low, high = [100.0] * 15, [300.0] * 15
    a = run.quantile(low + high, 0.5)
    b = run.quantile(low[:-1] + high + [300.0], 0.5)
    assert abs(b - a) < 0.2 * (300 - 100)


def test_self_time_subtracts_covered_children():
    root = Span("stmt", 1, None, 1, 0.0, 10.0)
    a = Span("queries.construct", 2, 1, 1, 1.0, 4.0)
    b = Span("io.register", 3, 2, 1, 2.0, 3.0)
    c = Span("exec.action", 4, 1, 1, 3.5, 9.0)  # overlaps a by 0.5
    st = self_times([root, a, b, c])
    assert st[3] == pytest.approx(1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(5.5)
    assert st[1] == pytest.approx(2.0)
    assert sum(st.values()) == pytest.approx(10.5)  # the overlap counts twice


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run_prints_every_metric(workload, tmp_path):
    spans_file = str(tmp_path / "spans.jsonl")
    for trace, names in ((0, run.END_TO_END), (1, run._per_layer_units())):
        proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                    "--trace", str(trace), "--spans", spans_file)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == set(names)
        for name, m in result["metrics"].items():
            assert m["unit"] == names[name]
            assert isinstance(m["value"], (int, float))
    # the traced run's layer spans cover each statement's wall time
    with open(spans_file) as fh:
        spans = [Span(**{k: v for k, v in json.loads(line).items() if k != "id"},
                      sid=json.loads(line)["id"]) for line in fh]
    selfs = self_times(spans)
    roots = [s for s in spans if s.name == "stmt"]
    assert roots
    for r in roots:
        covered = sum(selfs[s.sid] for s in spans if s.stmt == r.sid and s is not r)
        assert covered >= 0.95 * (r.t1 - r.t0), r.counts


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
