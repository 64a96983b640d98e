#!/usr/bin/env python3
"""FULL Spark-vs-DuckDB oracle sweep at an arbitrary scale factor — the
cap-free version of the driver's correctness check, at whatever scale
you point it at (default sf0.1, the bench scale the driver never
hash-checks; the per-round driver and the preflight suite check
sf0.01).  Every oracle-backed query runs on BOTH engines and the
canonicalized frames must match row-for-row; rows-only queries just
materialize.  The round-4 runs of this sweep found the ROUND(double, 6)
half-boundary divergence (SCALE.md) and, after that fix, came back
clean: 236/236 at sf0.1.

Run: python experiments/oracle_sweep.py            (~16 min at sf0.1)
     SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python experiments/oracle_sweep.py
     python experiments/oracle_sweep.py q1 q2 ...   (only the named queries)

``sweep(spark, sf_dir, names)`` is the compare loop itself, for a
caller that brings its own session (the driver simulation).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sweep(spark, sf_dir: str, names: list[str] | None = None) -> list[str]:
    """Compare each named query (every registered one when ``names`` is
    empty) with its oracle at ``sf_dir`` on ``spark``, printing progress
    and a summary line; returns the names that failed."""
    from covid_data_pipeline_spark.registry import load_all
    from tests.conftest import make_duck
    from tests.oracle_harness import run_compare

    con = make_duck(sf_dir)
    reg = load_all()
    names = names or list(reg)
    failures = []
    t0 = time.time()
    for i, name in enumerate(names):
        try:
            run_compare(name, reg[name], spark, con, sf_dir)
        except Exception:
            failures.append(name)
            print(f"FAIL {name}", flush=True)
            traceback.print_exc(limit=3)
        if (i + 1) % 25 == 0:
            print(f"  ...{i + 1}/{len(names)} ({time.time() - t0:.0f}s)", flush=True)
    print(
        f"sweep {os.path.basename(sf_dir)}: {len(names) - len(failures)} pass,"
        f" {len(failures)} fail of {len(names)} in {time.time() - t0:.0f}s",
        flush=True,
    )
    return failures


def main() -> int:
    from covid_data_pipeline_spark.session import get_spark

    return 1 if sweep(get_spark("oracle-sweep"), SF_DIR, sys.argv[1:]) else 0


if __name__ == "__main__":
    sys.exit(main())
