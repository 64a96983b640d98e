#!/usr/bin/env python3
"""Per-query profiler: warm up exactly as bench.py does (``bench.warm_up``),
time N reps of each named query with the noop sink, and dump its
``.explain("formatted")`` to plans/<name>_<tag>.txt.

Usage:
    python experiments/profile_queries.py [--tag r13_before] [--reps 3] q1 q2 ...
    python experiments/profile_queries.py --top N       # N most expensive in BENCH_FULL.json
    python experiments/profile_queries.py --reps 0 --root OTHER_CHECKOUT --tag before q1 ...

Prints one line per query: median / min / max over reps, plus the
Exchange and Python-eval node counts parsed from the formatted plan.
``--reps 0`` is the plan-only dump: no warm-up, no timing.  ``--root``
imports the engine (and bench.py) from another checkout, e.g. one of the
pre-change commit for ``_before`` plans; plans and BENCH_FULL.json are
always this checkout's.  Queries that execute inside their function
(streaming drains, iterative trainers) run those actions while the
DataFrame is built; their dumped plan is the returned frame's (for a
streaming drain, the sink read-back).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

from oracle_sweep import SF_DIR  # $SPARK_GRAFT_SF_DIR, default sf0.1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO, "plans")
PYTHON_NODES = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython|MapIn(?:Pandas|Arrow)"
    r"|FlatMap\w*In(?:Pandas|Arrow)\w*)\b"
)


def summary(times: list[float]) -> tuple[float, float, float]:
    """(median, min, max) of a query's rep times; an even rep count's
    median is the mean of the two middle samples."""
    return statistics.median(times), min(times), max(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--root", default=REPO)
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        with open(os.path.join(REPO, "BENCH_FULL.json")) as f:
            timed = json.load(f)["queries"]
        names += [
            n
            for n, _ in sorted(timed.items(), key=lambda kv: -kv[1])[: args.top]
            if n not in names
        ]

    sys.path.insert(0, args.root)
    import bench
    from covid_data_pipeline_spark.registry import load_all
    from covid_data_pipeline_spark.session import get_spark

    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = get_spark(f"profile-{args.tag}")
    reg = load_all()
    print(f"# load1m at start: {os.getloadavg()[0]:.2f}", file=sys.stderr)
    if args.reps:
        bench.warm_up(spark, reg, SF_DIR)

    results = {}
    for name in names:
        spec = reg[name]
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            bench.materialize(spec.fn(spark, SF_DIR))
            times.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        plan = ""
        if not args.no_plans:
            df = spec.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        nex = len(re.findall(r"\bExchange\b", plan))
        stats = f"exchanges={nex} python_nodes={len(PYTHON_NODES.findall(plan))}"
        if times:
            med, lo, hi = summary(times)
            results[name] = round(med, 3)
            stats = f"med={med:7.3f} min={lo:7.3f} max={hi:7.3f}  " + stats
        print(f"{name:40s} {stats}", flush=True)
    print(f"# load1m at end: {os.getloadavg()[0]:.2f}", file=sys.stderr)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
