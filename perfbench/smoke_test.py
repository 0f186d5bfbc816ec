"""Smoke test for the benchmark: every workload on sf0.001-sized inputs
for one timed op.

    python3 perfbench/smoke_test.py        # or: pytest perfbench/smoke_test.py

Checks, per workload:

- an untraced run passes its checks and prints every end-to-end metric
  of ``BENCHMARK.json`` with its unit, and nothing else;
- a traced run with one expected value corrupted prints every per-layer
  metric with its unit, and reports the corrupted check as a failed op
  (``failed > 0``, ``correct`` false).

Each run starts its own Spark session, so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> dict:
    spec = _spec()
    cmd = [
        sys.executable, os.path.join(ROOT, *spec["command"][1:]),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--smoke", *extra,
    ]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    return result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (sorted(set(want) ^ set(got)), want, got)
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float), name


def check_workload(workload: str) -> None:
    spec = _spec()
    clean = _run(workload, 0)
    assert clean["correct"] and clean["failed"] == 0, clean
    _assert_metrics(clean, spec["end_to_end"])

    corrupted = _run(workload, 1, "--corrupt-expected")
    assert corrupted["failed"] > 0 and not corrupted["correct"], corrupted
    _assert_metrics(corrupted, spec["per_layer"])


def test_corpus():
    check_workload("corpus")


def test_medallion():
    check_workload("medallion")


if __name__ == "__main__":
    for w in _spec()["workloads"]:
        check_workload(w["name"])
        print(f"{w['name']}: ok", flush=True)
