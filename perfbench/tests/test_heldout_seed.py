"""A seed not used while the benchmark was tuned must reproduce the
recorded baseline within each end-to-end metric's bound.

This runs the real benchmark (about a minute per workload) and compares
against medians recorded on one host (baseline.json), so it only runs when
PERFBENCH_SLOW=1 is set, on that host class.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
HELD_OUT_SEED = 9001

pytestmark = pytest.mark.skipif(
    os.environ.get("PERFBENCH_SLOW") != "1", reason="runs the full benchmark; set PERFBENCH_SLOW=1"
)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_held_out_seed_within_bounds(workload):
    spec = _spec()
    with open(os.path.join(ROOT, "perfbench", "baseline.json")) as f:
        baseline = json.load(f)[workload]
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(HELD_OUT_SEED), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    for m in spec["end_to_end"]:
        value, base = result["metrics"][m["name"]]["value"], baseline[m["name"]]
        worse = (value - base) / base if m["better"] == "lower" else (base - value) / base
        assert worse <= m["bound"], f"{m['name']}: {value:.4g} vs baseline {base:.4g}"
