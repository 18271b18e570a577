"""End-to-end smoke test of the benchmark at tiny sizes, output checks included.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM (about a minute each).
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

import run  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_code():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_smoke(workload, trace):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
               "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    assert result["attempted"] >= 1
    want = run.END_TO_END
    if trace == "1":
        want = {**run.PER_LAYER, **(run.QUERY_LAYER if workload == "queries_sf001" else {})}
    assert set(result["metrics"]) == set(want)
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_without_engine(tmp_path):
    """Given only BENCHMARK.json and perfbench/, the run fails fast and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench("--workload", "conflate_skewed", "--seed", "1", "--seconds", "1",
               cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_refuses_strategy_env():
    env = dict(os.environ, SPARK_GRAFT_CAP="window")
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "conflate_skewed", "--seed", "1", "--seconds", "1", "--size", "smoke"],
                       cwd=ROOT, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
