from perfbench import checks


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["a", "b"], [(1, 2.0), (3, 4.0)])
    b = checks.digest(["b", "a"], [(4.0, 3), (2.0, 1)])
    assert a == b
    assert a != checks.digest(["a", "b"], [(1, 2.0), (3, 4.5)])
    assert a != checks.digest(["a", "c"], [(1, 2.0), (3, 4.0)])


def test_oracle_check_reports_counts_and_values():
    rows = [(1, "x")]
    expected = {"rows": 1, "digest": checks.digest(["k", "s"], rows)}
    assert checks.oracle_check(expected, ["k", "s"], rows)[0]
    assert not checks.oracle_check(expected, ["k", "s"], [(1, "y")])[0]
    ok, msg = checks.oracle_check(expected, ["k", "s"], rows * 2)
    assert not ok and "row count" in msg


def test_injected_crash_excuses_exactly_one_termination():
    term = "26/01/01 ERROR MicroBatchExecution: Query q terminated with error"
    text = "\n".join([checks.INJECTED_CRASH_SENTINEL, term, term])
    assert checks.unexcused_errors(text) == [term]
    assert checks.unexcused_errors(term) == [term]
    assert checks.unexcused_errors("26/01/01 WARN Foo: fine") == []


def test_structured_error_lines_count():
    line = '{"ts": "2026-01-01", "level": "ERROR", "logger": "X", "msg": "bad"}'
    assert checks.unexcused_errors(line) == [line]


def test_logwatch_reads_only_new_whole_lines(tmp_path):
    p = tmp_path / "log"
    p.write_text("26/01/01 ERROR old\n")
    watch = checks.LogWatch(str(p))
    assert watch.new_errors() == []
    with open(p, "a") as f:
        f.write("26/01/01 ERROR new\n26/01/01 ERROR part")
    assert watch.new_errors() == ["26/01/01 ERROR new"]
    with open(p, "a") as f:
        f.write("ial\n")
    assert watch.new_errors() == ["26/01/01 ERROR partial"]
