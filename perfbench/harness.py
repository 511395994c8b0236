"""One closed-loop benchmark run: set-up, verified warm pass, timed passes.

A single client drives one Spark application and sends the next op only
after the previous one returned. Every pass runs each op of the workload
once, in an order shuffled by the run's seed.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field

from . import checks, stats

SETUPS = 9  # set-ups per run; setup_s is their median


@dataclass
class Verified:
    ok: bool
    rows: int
    message: str


@dataclass
class RunResult:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup_s: list[float] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)  # op -> correct op times
    kinds: dict[str, str] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    verified: dict[str, Verified] = field(default_factory=dict)
    warm_s: float = 0.0
    check_s: float = 0.0  # the benchmark's own output checks, outside the timed loop
    loop_start: float = 0.0  # perf_counter() when the first timed op was sent
    loop_s: float = 0.0
    passes: int = 0
    pass_s: list[float] = field(default_factory=list)

    @property
    def times(self) -> list[float]:
        return [t for ts in self.samples.values() for t in ts]

    def kind_p50(self, kind: str) -> float | None:
        xs = [t for op, ts in self.samples.items() if self.kinds[op] == kind for t in ts]
        return stats.median(xs) if xs else None


def redirect_caches(package: str, cache_dir: str) -> None:
    """Point the package's on-disk cache roots (module constants naming
    directories under /tmp) into ``cache_dir``, so a run writes only there."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith(package) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if attr.isupper() and isinstance(value, str) and value.startswith("/tmp/"):
                setattr(mod, attr, os.path.join(cache_dir, os.path.basename(value)))


def pass_orders(op_names: list[str], seed: int):
    """Yield the op order of each successive pass for ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(op_names)
        rng.shuffle(order)
        yield order


def run_workload(
    *,
    workload: str,
    seed: int,
    seconds: float,
    sf_dir: str,
    session,
    ops,
    tables,
    load_table,
    gate_ctx_factory,
    logwatch: checks.LogWatch,
    tracer=None,
):
    """Run one workload; return ``(spark, RunResult)``."""
    res = RunResult(kinds={op.name: op.kind for op in ops})
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark(f"perfbench-{workload}")
        for t in tables:
            load_table(spark, sf_dir, t)
        res.setup_s.append(time.perf_counter() - t0)
    if tracer is not None:
        tracer.register_listener(spark)
    sc = spark.sparkContext
    t_check = time.perf_counter()
    ctx = gate_ctx_factory()
    res.check_s = time.perf_counter() - t_check

    # Warm pass: runs every op once, untimed, and verifies its output.
    t_warm = time.perf_counter()
    logwatch.new_errors()
    for op in ops:
        group = f"warm:{op.name}"
        sc.setJobGroup(group, group)
        span = tracer.begin_op(op.name, op.kind, 0) if tracer else None
        df = None
        try:
            df = op.fn(spark, sf_dir)
            columns = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a broken op fails every timed attempt too
            res.verified[op.name] = Verified(False, -1, f"raised {type(e).__name__}: {e}")
            logwatch.new_errors()  # its ERROR lines belong to this op, not the next
            continue
        finally:
            if tracer:
                tracer.end_op(span, spark, df, 0.0, 0.0)
        t_check = time.perf_counter()
        if op.oracle is not None:
            expected = ctx.oracles.get(op.name)
            if expected is None:
                ok, msg = False, "no recorded oracle result for the generated inputs"
            else:
                ok, msg = checks.oracle_check(expected, columns, rows)
        else:
            ok, msg = op.gate(columns, rows, ctx)
        errors = logwatch.new_errors()
        if errors:
            ok, msg = False, f"ERROR log line: {errors[0][:200]}"
        res.verified[op.name] = Verified(ok, len(rows), msg)
        res.check_s += time.perf_counter() - t_check
    res.warm_s = time.perf_counter() - t_warm

    def run_pass(pass_no: int) -> None:
        for name in next(orders):
            op = by_name[name]
            group = f"pass{pass_no}:{name}"
            sc.setJobGroup(group, group)
            res.attempted += 1
            span = tracer.begin_op(name, op.kind, pass_no) if tracer else None
            df, build_s, action_s, why = None, 0.0, 0.0, None
            t0 = time.perf_counter()
            try:
                df = op.fn(spark, sf_dir)
                t1 = time.perf_counter()
                n = df.count()
                t2 = time.perf_counter()
                build_s, action_s = t1 - t0, t2 - t1
            except Exception as e:
                why = f"raised {type(e).__name__}: {str(e)[:200]}"
            finally:
                if tracer:
                    tracer.end_op(span, spark, df, build_s, action_s)
            v = res.verified[name]
            if why is None and not v.ok:
                why = f"unverified: {v.message}"
            if why is None and n != v.rows:
                why = f"{n} rows, verified result has {v.rows}"
            errors = logwatch.new_errors()
            if why is None and errors:
                why = f"ERROR log line: {errors[0][:200]}"
            if why is None:
                res.samples.setdefault(name, []).append(build_s + action_s)
            else:
                res.failed += 1
                res.failures.append(f"pass {pass_no} {name}: {why}")

    orders = pass_orders([op.name for op in ops], seed)
    by_name = {op.name: op for op in ops}
    # Timed passes: whole passes until ``seconds`` have elapsed.
    t_loop = res.loop_start = time.perf_counter()
    while res.passes == 0 or time.perf_counter() - t_loop < seconds:
        res.passes += 1
        t_pass = time.perf_counter()
        run_pass(res.passes)
        res.pass_s.append(time.perf_counter() - t_pass)
    res.loop_s = time.perf_counter() - t_loop
    res.correct = res.failed == 0 and all(v.ok for v in res.verified.values())
    return spark, res
