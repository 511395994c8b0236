import json
import os
import subprocess
import sys

import pytest

from perfbench import trace


def test_parse_sql_metric_forms():
    assert trace.parse_sql_metric("2,000") == 2000
    assert trace.parse_sql_metric("546 ms") == pytest.approx(0.546)
    assert trace.parse_sql_metric("1023.9 KiB") == pytest.approx(1023.9 * 1024)
    total = "total (min, med, max (stageId: taskId))\n1.5 s (0.2 s, 0.4 s, 0.6 s (stage 3.0: task 7))"
    assert trace.parse_sql_metric(total) == pytest.approx(1.5)
    assert trace.parse_sql_metric("1.2 m") == pytest.approx(72.0)


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert trace.covered([], 0, 10) == 0


def test_self_time_subtracts_children():
    root = trace.Span("op", "registry", 0.0, 10.0)
    child = trace.Span("load_table", "sources", 1.0, 4.0)
    child.children.append(trace.Span("job 1", "scheduler", 2.0, 3.0))
    root.children += [child, trace.Span("job 2", "scheduler", 3.5, 6.0)]
    assert trace.self_time(root) == pytest.approx(10 - 5)
    assert trace.self_time(child) == pytest.approx(2.0)


def test_per_layer_names_are_unique_and_valid():
    import re

    names = [n for n, _ in trace.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


# Counts of single timed ops, measured when the benchmark was defined; a
# change to one of these ops legitimately changes its count. The stream's
# count includes the jobs its foreachBatch callback runs on the query's
# own thread, outside the op's job group.
EXPECTED_TIMED = {
    "sql_analytics": {"jobs": {"quantile_two_pass_exact": 7, "recursive_calendar_daily": 23}},
    "corpus_pipeline": {
        "jobs": {"dedup_clusters_logstar": 37, "stream_kmv_distinct_running": 22},
        "udf_nodes": {"ann_ivf_kmeans": 2},
    },
}


def _traced_counts(workload: str, seed: int) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    assert json.loads(lines[-1])["correct"]
    info = json.loads(next(ln for ln in lines if ln.startswith("perfbench-info ")).split(" ", 1)[1])
    return {key: info[f"{key}_by_op"] for key in ("jobs", "stages", "udf_nodes")}


@pytest.mark.skipif(
    os.environ.get("PERFBENCH_SLOW") != "1",
    reason="runs the traced benchmark twice; set PERFBENCH_SLOW=1",
)
@pytest.mark.parametrize("workload", sorted(EXPECTED_TIMED))
def test_traced_counts_repeat_across_runs_and_seeds(workload):
    first, second = _traced_counts(workload, 31), _traced_counts(workload, 32)
    assert first == second
    for key, expected in EXPECTED_TIMED[workload].items():
        for op, n in expected.items():
            assert first[key][op][1:] == [n], (key, op, first[key][op])
