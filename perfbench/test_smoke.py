"""Smoke test of the benchmark at tiny scale (1,000 conversations): each
workload once untraced and once traced. Every metric BENCHMARK.json
names must be printed with its unit, and the output checks must pass.

    python3 -m pytest perfbench/test_smoke.py -q     # about five minutes
"""

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_emits_every_metric_and_passes_checks(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
               "--trace", str(trace), "--convs", "1000")
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in got.values()), got
    elif workload == "search":
        # the build span splits into time with a Spark job running and
        # time without one
        wall = got["index.build.wall_s"]["value"]
        parts = got["index.build.job_s"]["value"] + got["index.build.driver_s"]["value"]
        assert wall > 0 and math.isclose(wall, parts, rel_tol=1e-6)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "--workload", "search", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
