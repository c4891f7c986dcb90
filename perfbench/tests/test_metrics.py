"""Metric names and units: the grammar BENCHMARK.json needs, and agreement with the code."""

from __future__ import annotations

import json
import re
from pathlib import Path

from perfbench import run
from perfbench.workloads import WORKLOADS, per_layer_units

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_names_and_units_follow_the_grammar():
    names = [*run.END_TO_END, *per_layer_units(), *WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for unit, _ in [*run.END_TO_END.values(), *per_layer_units().values()]:
        assert UNIT.fullmatch(unit), unit


def test_benchmark_json_lists_what_the_code_reports():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == {
        k: unit for k, (unit, _) in run.END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["per_layer"]} == per_layer_units()
    assert len(BENCHMARK["per_layer"]) <= 128
    for m in BENCHMARK["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in BENCHMARK["end_to_end"])


def test_benchmark_json_command_and_paths():
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]
    assert BENCHMARK["paths"] == ["perfbench"]
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCHMARK["workloads"])
