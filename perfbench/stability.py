#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

For every workload and seed it runs ``perfbench/run.py`` in a fresh
process, one after another, then prints per metric the median, the
quartile spread (interquartile distance over the median, from
``statistics.quantiles(values, n=4)``) and whether that spread stays under
a third of the metric's bound in BENCHMARK.json. Run from the repository
root:

    python3 perfbench/stability.py --seeds 1-10 [--workload sql_analytics]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path[0] = ROOT

from perfbench import stats  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    info = next((json.loads(ln.split(" ", 1)[1]) for ln in lines if ln.startswith("perfbench-info ")), {})
    return {"workload": workload, "seed": seed, "wall_s": wall_s, "result": json.loads(lines[-1]), "info": info}


def summarize(spec: dict, runs: list[dict]) -> list[str]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = []
    for workload in sorted({r["workload"] for r in runs}):
        rs = [r["result"] for r in runs if r["workload"] == workload]
        ok = all(r["correct"] and r["failed"] == 0 for r in rs)
        wall = [r["wall_s"] for r in runs if r["workload"] == workload]
        lines.append(
            f"{workload}: {len(rs)} runs, all correct: {ok}, "
            f"wall per run {min(wall):.0f}-{max(wall):.0f} s (median {stats.median(wall):.0f} s)"
        )
        for name in rs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in rs]
            spread = stats.quartile_spread(values) if len(values) >= 2 else 0.0
            bound = bounds.get(name)
            verdict = "" if bound is None else (
                f" bound {bound}: {'ok' if spread < bound / 3 else 'OVER a third of bound'}"
            )
            lines.append(
                f"  {name}: median {stats.median(values):.6g} "
                f"{rs[0]['metrics'][name]['unit']}, spread {spread:.4f}{verdict}"
            )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    runs = []
    for workload in workloads:
        for seed in parse_seeds(args.seeds):
            run = run_once(spec, workload, seed)
            runs.append(run)
            print(f"{workload} seed {seed} ({run['wall_s']:.0f} s): "
                  f"{json.dumps(run['result']['metrics'])}", flush=True)
    print("\n".join(summarize(spec, runs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
