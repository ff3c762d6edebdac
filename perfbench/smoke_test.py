"""Smoke test of the benchmark at a tiny input size (about two minutes).

    python3 perfbench/smoke_test.py        # from the repository root

Runs every workload untraced and ``kg_build`` traced with ``--scale
0.05 --seconds 1``, and checks that each run exits 0 and that its last
stdout line is a correct result whose metric names and units are exactly
those of ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "1", "--scale", "0.05",
            "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(result: dict, listed: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True, result
    assert result["attempted"] >= 1 and result["failed"] == 0, result
    want = {m["name"]: m["unit"] for m in listed}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want, set(got) ^ set(want)
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        check(run(w["name"], 0), bench["end_to_end"])
    check(run("kg_build", 1), bench["per_layer"])


if __name__ == "__main__":
    test_smoke()
    print("smoke test passed")
