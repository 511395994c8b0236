"""Failure accounting and op ordering, on a stand-in for Spark."""

import itertools

from perfbench import checks, harness
from perfbench.workloads import READ, GateContext, Op


class FakeFrame:
    def __init__(self, rows):
        self.columns = ["k", "v"]
        self._rows = rows

    def collect(self):
        return list(self._rows)

    def count(self):
        return len(self._rows)


class FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors SparkSession.sparkContext
        @staticmethod
        def setJobGroup(group, desc):
            pass

    def stop(self):
        pass


class FakeSession:
    @staticmethod
    def get_spark(app):
        return FakeSpark()


ROWS = [(1, 1.5), (2, 2.5)]


def good(spark, sf):
    return FakeFrame(ROWS)


def raises(spark, sf):
    raise RuntimeError("boom")


def wrong(spark, sf):
    return FakeFrame([(1, 1.5), (2, 9.9)])


_calls = itertools.count()


def flaky_count(spark, sf):
    """Right on the warm pass, one row short on every timed pass."""
    return FakeFrame(ROWS if next(_calls) == 0 else ROWS[:1])


def _run(tmp_path, ops, seconds=0.0):
    log = tmp_path / "stderr.log"
    log.write_text("")
    recorded = {"rows": len(ROWS), "digest": checks.digest(["k", "v"], ROWS)}
    oracles = {op.name: recorded for op in ops if op.oracle}
    return harness.run_workload(
        workload="test",
        seed=3,
        seconds=seconds,
        sf_dir=str(tmp_path),
        session=FakeSession,
        ops=ops,
        tables=(),
        load_table=lambda *a: None,
        gate_ctx_factory=lambda: GateContext(None, "", oracles),
        logwatch=checks.LogWatch(str(log)),
    )[1]


def test_raising_and_wrong_ops_count_as_failed(tmp_path):
    ops = [
        Op("good", READ, good, oracle="SELECT 1"),
        Op("raises", READ, raises, oracle="SELECT 1"),
        Op("wrong", READ, wrong, oracle="SELECT 1"),
    ]
    res = _run(tmp_path, ops)
    assert res.passes == 1
    assert res.attempted == 3
    assert res.failed == 2
    assert not res.correct
    assert list(res.samples) == ["good"]
    assert "value or schema mismatch" in res.verified["wrong"].message
    assert "boom" in res.verified["raises"].message


def test_timed_result_must_match_verified_result(tmp_path):
    ops = [Op("flaky", READ, flaky_count, oracle="SELECT 1")]
    res = _run(tmp_path, ops)
    assert res.verified["flaky"].ok
    assert res.failed == res.attempted == 1
    assert "1 rows, verified result has 2" in res.failures[0]


def test_error_log_line_fails_the_op_and_the_run_keeps_going(tmp_path):
    log = tmp_path / "stderr.log"

    def logs_error(spark, sf):
        with open(log, "a") as f:
            f.write("26/01/01 00:00:00 ERROR Executor: task failed\n")
        return FakeFrame(ROWS)

    ops = [Op("logs_error", READ, logs_error, oracle="SELECT 1"), Op("good", READ, good, oracle="SELECT 1")]
    res = _run(tmp_path, ops)
    assert not res.verified["logs_error"].ok
    assert res.attempted == 2 and res.failed == 1
    assert res.samples["good"]


def test_error_lines_of_a_raising_op_do_not_fail_the_next_op(tmp_path):
    log = tmp_path / "stderr.log"

    def raises_and_logs(spark, sf):
        with open(log, "a") as f:
            f.write("26/01/01 00:00:00 ERROR Executor: task failed\n")
        raise RuntimeError("boom")

    ops = [Op("raises", READ, raises_and_logs, oracle="SELECT 1"), Op("good", READ, good, oracle="SELECT 1")]
    res = _run(tmp_path, ops, seconds=0.0)
    assert res.verified["good"].ok, res.verified["good"].message
    assert not res.verified["raises"].ok
    assert res.failed == 1 and res.samples["good"]
    assert all("good" not in f for f in res.failures)


def test_gate_decides_rows_only_ops(tmp_path):
    ops = [
        Op("gated_ok", READ, good, gate=lambda c, r, ctx: (len(r) == 2, "two rows")),
        Op("gated_bad", READ, good, gate=lambda c, r, ctx: (False, "below floor")),
    ]
    res = _run(tmp_path, ops)
    assert res.verified["gated_ok"].ok
    assert res.failed == 1


def test_seed_fixes_op_order():
    names = [f"op{i}" for i in range(15)]
    a = harness.pass_orders(names, 7)
    b = harness.pass_orders(names, 7)
    first = [next(a) for _ in range(4)]
    assert first == [next(b) for _ in range(4)]
    assert all(sorted(p) == sorted(names) for p in first)
    assert len({tuple(p) for p in first}) > 1  # reshuffled on every pass
    other = harness.pass_orders(names, 8)
    assert [next(other) for _ in range(4)] != first


def test_whole_passes_until_seconds_elapse(tmp_path):
    ops = [Op("good", READ, good, oracle="SELECT 1")]
    assert _run(tmp_path, ops, seconds=0.0).passes == 1
    res = _run(tmp_path, ops, seconds=0.05)
    assert res.passes >= 1 and res.attempted == res.passes
