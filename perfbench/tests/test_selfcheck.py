"""Self-check of the benchmark at sf0.001: every workload, untraced and
traced, prints a correct result whose metrics are exactly the ones
BENCHMARK.json declares, each with its declared unit.

    python3 -m pytest perfbench/tests -q

Run from the root of the checkout; each case starts one benchmark process
(under a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# views_sql is not in BENCHMARK.json but stays runnable by hand
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload", [w["name"] for w in BENCH["workloads"]] + ["views_sql"]
)
def test_metrics_present_with_units(workload, trace):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    ]
    cmd[0] = sys.executable
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert result["metrics"]["correct_frac"]["value"] == 1.0
        for name in ("setup_s", "cold_cpu_s", "warm_cpu_s", "peak_rss_mb"):
            assert result["metrics"][name]["value"] > 0, name


def test_refuses_outside_a_checkout(tmp_path):
    """Without the engine beside it, the benchmark fails fast and prints
    no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", BENCH["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, check=False,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
