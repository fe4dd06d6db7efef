"""BENCHMARK.json keeps the contract's limits, and the result line carries
exactly the metrics it declares."""

import json
import pathlib
import re

from perfbench import run
from perfbench.checks import CheckResult
from perfbench.workloads import WORKLOADS

ROOT = pathlib.Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _doc():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_keeps_the_contract_limits():
    doc = _doc()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in doc["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
    for m in doc["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def _report(trace, failed=0):
    res = run.Result(
        header=["workload=backfill"],
        e2e={"setup_s": 1.5, "wall_s": 2.5, "python_peak_pss_mb": 100.0},
        extras={"failed_ratio": 0.0},
        layers={"pipeline.chunk_wall_p50_s": 0.5},
        check=CheckResult(attempted=10, failed=failed, problems=["x"] if failed else []),
    )
    return run.report(res, bool(trace))


def test_cli_workloads_are_the_registry():
    assert set(run.WORKLOAD_NAMES) == set(WORKLOADS)


def test_result_line_has_exactly_the_contract_keys(capsys):
    assert _report(trace=0) == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and (last["attempted"], last["failed"]) == (10, 0)
    assert set(last["metrics"]) == {m["name"] for m in _doc()["end_to_end"]}
    assert last["metrics"]["wall_s"] == {"value": 2.5, "unit": "s"}


def test_traced_result_line_has_every_per_layer_metric(capsys):
    _report(trace=1)
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last["metrics"]) == {m["name"] for m in _doc()["per_layer"]}
    assert last["metrics"]["pipeline.chunk_wall_p50_s"]["value"] == 0.5


def test_failed_check_fails_the_run(capsys):
    assert _report(trace=0, failed=3) == 1
    out = capsys.readouterr().out
    assert "CHECK FAILED: x" in out
    assert json.loads(out.strip().splitlines()[-1])["correct"] is False
