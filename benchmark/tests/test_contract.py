"""The names the benchmark prints match BENCHMARK.json."""

import json
import os
import shutil
import subprocess
import sys

import run
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_end_to_end_names_and_units():
    spec = _spec()["end_to_end"]
    assert [m["name"] for m in spec] == list(run.END_TO_END)
    for m in spec:
        assert m["unit"] == run.UNITS[m["name"]]
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec)


def test_per_layer_names_and_units():
    spec = _spec()["per_layer"]
    assert [m["name"] for m in spec] == list(run.PER_LAYER)
    for m in spec:
        assert m["unit"] == run.layer_unit(m["name"])


def test_command_and_paths():
    spec = _spec()
    assert spec["command"] == ["python3", "benchmark/run.py"]
    assert spec["paths"] == ["benchmark"]


def test_exits_nonzero_without_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails without printing a result."""
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    shutil.copytree(run.HERE, tmp_path / "benchmark",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "raster_ep1",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
