"""Output checks and failure detection for benchmark ops.

Oracle-bearing ops are compared once per run to the DuckDB oracle's result
(recorded by ``record_oracles.py``), under the canonical row normalisation
of ``tests/oracle.py``; rows-only ops are held
to a gate the repository's tests already assert. Every timed execution is
then matched against the verified result, and an ERROR log line that the
run did not excuse fails the op it appeared under.
"""

from __future__ import annotations

import hashlib
import os

from tests.oracle import canonical_rows

INJECTED_CRASH_SENTINEL = "SPARK_GRAFT_INJECTED_CRASH"


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result under the oracle normalisation."""
    h = hashlib.sha256("|".join(sorted(columns)).encode() + b"\n")
    for line in canonical_rows(columns, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_digest(con, sql: str) -> dict:
    """Row count and digest of the DuckDB oracle's result."""
    rel = con.execute(sql)
    columns = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return {"rows": len(rows), "digest": digest(columns, rows)}


def oracle_check(expected: dict, columns: list[str], rows: list[tuple]) -> tuple[bool, str]:
    """Compare a Spark result to the recorded DuckDB oracle result."""
    if len(rows) != expected["rows"]:
        return False, f"row count mismatch: spark={len(rows)} duck={expected['rows']}"
    if digest(columns, rows) != expected["digest"]:
        return False, "value or schema mismatch against the DuckDB oracle"
    return True, "oracle hash equal"


def _is_error(line: str) -> bool:
    return " ERROR " in line or line.startswith("ERROR") or '"level": "ERROR"' in line


def unexcused_errors(text: str) -> list[str]:
    """ERROR log lines in ``text`` minus the ones an injected crash explains.

    ``stream_exactly_once_merge_restart`` injects a crash on purpose and
    prints one sentinel line per injection; Spark then logs that query's
    termination at ERROR. Exactly one MicroBatchExecution termination line
    is excused per sentinel, the rule ``bench.py`` applies.
    """
    lines = text.splitlines()
    errors = [ln for ln in lines if _is_error(ln)]
    n_injected = sum(1 for ln in lines if ln.strip() == INJECTED_CRASH_SENTINEL)
    kept, excused = [], 0
    for ln in errors:
        if excused < n_injected and "MicroBatchExecution" in ln and "terminated with error" in ln:
            excused += 1
        else:
            kept.append(ln)
    return kept


class LogWatch:
    """Reads what was appended to the captured stderr file since last asked."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.offset = os.path.getsize(path) if os.path.exists(path) else 0

    def new_errors(self) -> list[str]:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            data = f.read()
        # Only consume whole lines; a partially written line is read next time.
        cut = data.rfind(b"\n") + 1
        self.offset += cut
        return unexcused_errors(data[:cut].decode("utf-8", "replace"))



def mae(rows: list[tuple], columns: list[str], a: str, b: str) -> float:
    i, j = columns.index(a), columns.index(b)
    return sum(abs(r[i] - r[j]) for r in rows) / max(1, len(rows))
