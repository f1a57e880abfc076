"""Smoke test of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks that one seed gives byte-identical inputs, that every metric the
benchmark prints is declared in BENCHMARK.json (and every declared one is
printed), that every correctness check passes, and that the count metrics
of two traced runs with one seed are equal. It starts six Spark processes
one after another (a few minutes on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SEED = 7


def _run(workload: str, trace: int) -> dict:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def runs():
    """{(workload, trace, repeat): result}, each started once."""
    cache = {}

    def get(workload, trace, repeat=0):
        key = (workload, trace, repeat)
        if key not in cache:
            cache[key] = _run(workload, trace)
        return cache[key]

    return get


def test_workloads_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_same_seed_gives_identical_inputs(tmp_path):
    for name in workloads.WORKLOADS:
        a = workloads.generate(name, SEED, str(tmp_path / "a"), "tiny")
        b = workloads.generate(name, SEED, str(tmp_path / "b"), "tiny")
        for x, y in zip(a, b):
            assert x.rows == y.rows and x.expect == y.expect
            files = (
                [(x.path, y.path)]
                if os.path.isfile(x.path)
                else [
                    (os.path.join(x.path, n), os.path.join(y.path, n))
                    for n in sorted(os.listdir(x.path))
                ]
            )
            for fa, fb in files:
                assert filecmp.cmp(fa, fb, shallow=False), fa
    other = workloads.generate("fuzzy_dedup", SEED + 1, str(tmp_path / "c"), "tiny")
    assert not filecmp.cmp(a[0].path, other[0].path, shallow=False)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_metric_names_and_correctness(runs, workload, trace, key):
    res = runs(workload, trace)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    declared = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_counts_repeat_exactly(runs, workload):
    first, second = runs(workload, 1, 0), runs(workload, 1, 1)
    counts = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]
    assert counts
    for name in counts:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
