#!/usr/bin/env python3
"""Record the DuckDB oracle result of every oracle-bearing benchmark op.

The benchmark's input tables are fixed (``run.DATA_SEED``), so each
oracle's result is computed once here and kept in ``oracle_digests.json``;
every benchmark run then compares its Spark results to these digests.
Some oracles take minutes in DuckDB at this scale, which is why they are
not re-run per benchmark run. Re-run this script, from the repository
root, whenever ``datagen.py`` or a registered oracle changes:

    python3 perfbench/record_oracles.py
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path[0] = ROOT

from perfbench import checks, datagen, workloads  # noqa: E402
from perfbench.run import DATA_SEED  # noqa: E402
from tests.oracle import duck_connect  # noqa: E402

OUT = os.path.join(ROOT, "perfbench", "oracle_digests.json")


def main() -> int:
    sf_dir = datagen.ensure_dataset(os.path.join(ROOT, ".perfbench_work", "data"), DATA_SEED)
    con = duck_connect(sf_dir)
    digests = {}
    for workload in workloads.WORKLOADS:
        for op in workloads.build(workload):
            if op.oracle is None:
                continue
            t0 = time.perf_counter()
            digests[op.name] = checks.oracle_digest(con, op.oracle)
            print(f"{op.name}: {digests[op.name]} in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump({"data": datagen.fingerprint(sf_dir), "oracles": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
