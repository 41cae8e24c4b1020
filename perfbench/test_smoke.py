"""Smoke test of the benchmark: every workload on a tiny input, with and
without tracing, checked against BENCHMARK.json.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own JVM (about 30-70 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run_bench(*args: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload, trace):
    rc, lines = run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), "--scale", "smoke")
    assert rc == 0, lines
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    # the KG tables match the oracle on every workload
    assert out["correct"] is True
    assert 1 <= out["attempted"] and 0 <= out["failed"] <= out["attempted"]
    if workload == "crawl_mix":
        assert out["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    else:
        assert any(line.startswith("top layers ") for line in lines)


def test_refuses_without_engine(tmp_path):
    """Outside a full checkout the benchmark fails without a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "crawl_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
