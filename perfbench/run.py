#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 1 --trace 0

The run generates its input tables (once per checkout), sets up a local
Spark application sized to this host, verifies every op's output, times
whole passes over the workload's ops for ``--seconds`` seconds, and prints
the result as the last line of standard output. ``--trace 1`` instead
prints the per-layer metrics of a traced run and writes its span tree under
``.perfbench_work/trace/``. Everything the run writes stays under
``.perfbench_work/`` in the checkout; its scratch directory is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "distributed_deep_learning_with_apache_spark_spark"
DATA_SEED = 42  # the input tables are fixed; --seed orders the op mix
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_s", "s"),
)


# Run as a script, Python puts perfbench/ first on the path, where
# perfbench/trace.py would shadow the standard library's trace module;
# import from the root instead.
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path[0] = ROOT


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: the host's speed at run time.

    Shared hosts change speed with their other tenants; this lets a reader
    tell a slow host from a slow engine when comparing runs.
    """
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t0


def configure_host(run_dir: str) -> None:
    """Size Spark to this host and keep every scratch write in ``run_dir``.

    Set before pyspark or the package is imported: ``session.py`` reads
    SPARK_GRAFT_CPUS at import, and the JVM takes its options at launch.
    """
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # session.py defaults to a 16g driver; stay well below physical memory.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(4096, _mem_total_mb() // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    warehouse = shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} --conf {warehouse} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the Spark application and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"perfbench: {PKG}/ and tests/oracle.py must sit beside perfbench/", file=sys.stderr)
        return 2

    t_process = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")  # removed when the run ends
    configure_host(run_dir)
    load_start = os.getloadavg()
    probe_s = host_probe_s()

    from perfbench import checks, datagen, stats

    sf_dir = datagen.ensure_dataset(os.path.join(work, "data"), DATA_SEED)

    # Both Python and the JVM write their logs to fd 2; capture it to scan
    # for ERROR lines after every op.
    log_path = os.path.join(run_dir, "stderr.log")
    saved_fd = os.dup(2)
    log = open(log_path, "wb")
    os.dup2(log.fileno(), 2)
    spark = None
    try:
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()  # before the operator modules import load_table
        from perfbench import harness, workloads

        ops = workloads.build(args.workload)
        harness.redirect_caches(PKG, os.path.join(run_dir, "cache"))

        from distributed_deep_learning_with_apache_spark_spark import session
        from distributed_deep_learning_with_apache_spark_spark.sources import catalog
        from tests.oracle import duck_connect

        def gate_ctx():
            with open(os.path.join(ROOT, "perfbench", "oracle_digests.json")) as f:
                recorded = json.load(f)
            # Digests recorded for other inputs verify nothing: drop them.
            oracles = recorded["oracles"] if recorded["data"] == datagen.fingerprint(sf_dir) else {}
            return workloads.GateContext(duck_connect(sf_dir), workloads.exact_topk_sql(), oracles)

        pre_setup_s = time.perf_counter() - t_process
        spark, res = harness.run_workload(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            sf_dir=sf_dir,
            session=session,
            ops=ops,
            tables=workloads.TABLES[args.workload],
            load_table=catalog.load_table,
            gate_ctx_factory=gate_ctx,
            logwatch=checks.LogWatch(log_path),
            tracer=tracer,
        )
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    except BaseException:
        os.dup2(saved_fd, 2)
        traceback.print_exc()
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        print(f"perfbench: run failed; stderr tail:\n{tail}", file=sys.stderr)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    correct_ops = len(res.times)
    ops_per_s = correct_ops / res.loop_s
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": res.passes,
        "loop_s": round(res.loop_s, 3),
        "pass_s": [round(x, 3) for x in res.pass_s],
        "warm_s": round(res.warm_s, 3),
        "pre_setup_s": round(pre_setup_s, 3),
        "setups_s": [round(x, 3) for x in res.setup_s],
        # Process start to the first timed op, less the benchmark's output
        # checks and the repeated set-ups behind setup_s's median.
        "to_first_op_s": round(
            res.loop_start - t_process - res.check_s - sum(res.setup_s[1:]), 3
        ),
        "read_p50_s": res.kind_p50("read"),
        "write_p50_s": res.kind_p50("write"),
        "failed_ratio": res.failed / res.attempted,
        "peak_rss_mb": round(peak_rss, 1),
        "op_tail_s": stats.tail(res.times),
        "op_p50_by_op": {k: round(stats.median(v), 4) for k, v in res.samples.items()},
        "verified": {k: v.message for k, v in res.verified.items()},
        "failures": res.failures[:20],
        "loadavg_start": load_start,
        "host_probe_s": round(probe_s, 4),
        "loadavg_end": os.getloadavg(),
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    if tracer is not None:
        for key in ("jobs", "stages", "udf_nodes"):
            info[f"{key}_by_op"] = tracer.per_op(key)
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        tracer.dump(
            os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json"), {"info": info}
        )
        from perfbench.trace import PER_LAYER

        layer = tracer.layer_metrics(res.passes, ops_per_s)
        layer["memory.peak_rss_mb"] = peak_rss
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            "setup_s": stats.median(res.setup_s),
            "ops_per_s": ops_per_s,
            "op_p50_s": stats.median(res.times) if res.times else 0.0,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}

    stop_spark(spark)
    os.dup2(saved_fd, 2)
    log.close()
    shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-info " + json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
