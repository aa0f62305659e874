"""The benchmark's own tests.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke cases run each workload for one short pass at sf0.001
(about a minute each) and assert that every metric BENCHMARK.json
names is reported, with no failed or wrong-result execution.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stderr[-3000:]
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {n: v["unit"] for n, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark,
    the run exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_tracer_rebinds_every_reference():
    """A name bound by ``from ... import`` elsewhere in the package is
    wrapped too, and uninstall restores every binding."""
    from spans import MARK, Tracer

    from mapreduce_cs416_spark.operators import mapreduce
    from mapreduce_cs416_spark.plans import corpus

    original = mapreduce.run_mapreduce
    tracer = Tracer("mapreduce_cs416_spark")
    assert tracer.install({"operators.mapreduce": "mapreduce_cs416_spark.operators.mapreduce"}) > 0
    try:
        assert getattr(corpus.run_mapreduce, MARK) == "operators.mapreduce.run_mapreduce"
        assert corpus.run_mapreduce is mapreduce.run_mapreduce
        assert corpus.run_mapreduce.__qualname__ == original.__qualname__
    finally:
        tracer.uninstall()
    assert corpus.run_mapreduce is original and mapreduce.run_mapreduce is original


def test_self_time_subtracts_children():
    from spans import Tracer

    t = Tracer("x")
    t.spans = [
        {"id": 1, "name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "b", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "b", "start": 5.0, "end": 6.0, "parent": 1},
    ]
    assert t.self_times() == {"a": (1, 6.0), "b": (2, 4.0)}


def test_tail_keeps_ten_samples_beyond():
    from run import tail

    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 101)]
    value, pct = tail(xs)
    assert pct == 90.0 and sum(1 for x in xs if x > value) == 10
