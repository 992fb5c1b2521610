"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -p no:cacheprovider

The smoke tests run every workload once on the 0.001-scale corpus, traced
and untraced, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, value, n = measure.tail(values)
    # p90 has rank 90 and leaves samples 91..100 beyond it; p91 leaves 9
    assert (p, value, n) == (90, 90.0, 100)


def test_tail_ignores_input_order():
    values = [float(i) for i in range(1, 101)]
    assert measure.tail(values[::-1]) == measure.tail(values)


def test_tail_at_exactly_twenty_samples_is_the_median():
    p, value, n = measure.tail([float(i) for i in range(20)])
    assert (p, value, n) == (50, 9.0, 20)


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_no_tail_with_too_few_samples(n):
    assert measure.tail([1.0] * n) is None


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "10", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert proc.returncode == 0
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["failed"] == 0 and out["correct"] and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
