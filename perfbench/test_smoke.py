"""Smoke test of the benchmark: every workload end to end on a tiny
configuration, checking that each metric BENCHMARK.json names is printed
with its unit and that the output checks pass.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark driver (about 30-70 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _tagged_processes(tag: str) -> list[int]:
    """Live processes whose environment carries `tag`."""
    found = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if tag.encode() in f.read():
                    found.append(int(d))
        except (OSError, ValueError):
            pass
    return found


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """One benchmark run; asserts that every process it started (the JVM
    and its Python workers inherit the tagged environment) has ended by
    the time it exits."""
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    tag = f"PERFBENCH_SMOKE_TAG={uuid.uuid4().hex}"
    env = dict(os.environ, PERFBENCH_SMOKE_TAG=tag.split("=", 1)[1])
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    assert _tagged_processes(tag) == [], "the benchmark left processes running"
    return out


def _expected(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


CASES = [(w["name"], trace) for w in BENCH["workloads"] for trace in (0, 1)]
# runnable by hand, not in BENCHMARK.json (see perfbench/README.md)
CASES.append(("crawl-durable", 0))


@pytest.mark.parametrize("workload,trace", CASES)
def test_workload_prints_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    info = json.loads(lines[-2])["info"]
    assert info["error_rate"] == 0
    want = _expected("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name


def test_refuses_without_sources(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
