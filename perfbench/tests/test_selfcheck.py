"""Self-check of the benchmark at the sf0.001 fixture size, the size its
inputs are generated from: every workload runs untraced and traced,
prints every metric BENCHMARK.json names with its unit, and no job or
tick fails (error_rate 0). Without the engine beside it, the command
exits non-zero and prints no result.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each case starts its own Spark session (about a minute each on 4 cores).
"""

import json
import math
import shutil
import subprocess
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3",
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_nothing_fails(workload, trace):
    r = bench(ROOT, workload, trace)
    assert r.returncode == 0, r.stderr[-2000:]
    *_, details, last = r.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, details
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert json.loads(details)["error_rate"] == {"value": 0.0, "unit": "fraction"}
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float) and math.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, name


def test_without_the_engine_it_fails_without_a_result():
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    try:
        r = bench(bare, SPEC["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
