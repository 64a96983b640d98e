#!/usr/bin/env python3
"""Regenerate ``expected.json``: the output-check digests of every
workload query over the sf0.1 fixtures the benchmark reads.

Queries with oracle SQL get the digest of the DuckDB result; rows-only
queries get their row count and columns from one Spark run.  Every
Spark result is then compared with its expectation and mismatches are
listed, so a bad oracle shows before it lands.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from run import DATA, child_env  # noqa: E402
from workload import EXPECTED_PATH, WORKLOADS, digest, matches  # noqa: E402


def main() -> int:
    import duckdb

    run_dir = os.path.join(ROOT, ".perfbench", "expected-run")
    os.environ.update(child_env(run_dir))
    from covid_data_pipeline_spark.registry import load_all
    from covid_data_pipeline_spark.schemas import TABLE_NAMES
    from covid_data_pipeline_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    spark = get_spark("perfbench-expected")
    specs = load_all()
    expected, bad = {}, []
    for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
        spec = specs[name]
        got = digest(spec.fn(spark, DATA).toPandas())
        if spec.oracle is None:
            want = {"rows": got["rows"], "cols": got["cols"]}
        else:
            want = digest(con.execute(spec.oracle).df())
        expected[name] = want
        if not matches(got, want):
            bad.append(name)
        print(f"{name}: {want['rows']} rows {'MISMATCH' if name in bad else 'ok'}", flush=True)
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_PATH}; mismatches: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
