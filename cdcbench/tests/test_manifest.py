"""BENCHMARK.json and the benchmark code describe the same metrics."""

import json
import re
from pathlib import Path

import pytest

from cdcbench import metrics, run

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["cdcbench"]
    assert bench["command"][:2] == ["python3", "cdcbench/run.py"]
    assert 1 <= bench["run_seconds"] <= 60


def test_workloads_have_a_reason(bench):
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200


def test_end_to_end_matches_code(bench):
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == metrics.END_TO_END
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_per_layer_matches_code(bench):
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == metrics.PER_LAYER
    assert len(declared) <= 128
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_names_and_units_are_valid(bench):
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in bench[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"])
               for k in ("end_to_end", "per_layer") for m in bench[k])


def test_every_layer_metric_names_what_it_moves():
    workloads = set(run.WORKLOADS) | {"all"}
    for name, (_, e2e, workload) in metrics.MOVES.items():
        assert e2e in metrics.END_TO_END, name
        assert workload in workloads, name
    moved_on = {w for _, _, w in metrics.MOVES.values()}
    assert set(run.WORKLOADS) <= moved_on


@pytest.mark.parametrize("units", [metrics.END_TO_END, metrics.PER_LAYER])
def test_result_line_carries_every_metric(bench, units):
    out = metrics.result({k: 1.5 for k in units}, units, 3, 0, True)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    declared = {m["name"]: m["unit"]
                for k in ("end_to_end", "per_layer") for m in bench[k]}
    for name, v in out["metrics"].items():
        assert declared[name] == v["unit"]
    with pytest.raises(KeyError):
        metrics.result({}, units, 1, 0, True)
    with pytest.raises(KeyError):
        metrics.result(dict.fromkeys([*units, "undeclared"], 1.0), units,
                       1, 0, True)
