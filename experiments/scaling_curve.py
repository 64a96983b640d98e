#!/usr/bin/env python3
"""Measure how representative operators SCALE: run each at sf0.1 and at
a synthetic 10x slice (sf0.1 unioned 10 times with shifted keys, so key
cardinalities grow with the data instead of just densifying), and report
the wall-clock ratio against the 10x data ratio.

A shuffle-bound operator whose plan is scale-honest should land near or
below 10x (sub-linear when fixed overhead amortizes; the near-dup
verifies grow with TRUE PAIR COUNT, which the shifted-key construction
keeps proportional).  A ratio far above the data ratio exposes a
super-linear stage — the thing to catch before 1000x.

Method notes: keys are shifted per replica (orderkey/custkey/user_id/
doc_id/vec_id + i * span) so joins don't degenerate into 10x-hot keys.
Document TOKENS are salted per replica (token -> token_i): a naive
10x copy multiplies TRUE near-dup pairs ~x50 (every identical-text
group of 10 is 45 pairs; signatures are text-derived, so ids don't
separate them) — the first run of this script proved it by blowing a
512 MB allocation inside the minhash verify.  Token salting keeps each
replica's internal duplicate structure exactly and makes cross-replica
texts disjoint, so duplicate DENSITY is held constant — the property a
scaling measurement needs.

Run: python experiments/scaling_curve.py   (~6-8 min, local[32])
     SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 python experiments/scaling_curve.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_sweep import SF_DIR  # noqa: E402  ($SPARK_GRAFT_SF_DIR, default sf0.1)
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from covid_data_pipeline_spark.registry import load_all  # noqa: E402
from covid_data_pipeline_spark.session import get_spark  # noqa: E402

REPL = 10
QUERIES = (
    "agg_groupby",
    "join_multikey_chain",
    "win_row_number_topk",
    "text_phrase_search",
    "dedup_exact",
    "dedup_minhash_lsh",
    "analytics_copurchase_lift",
)

# per-table key columns to shift per replica (span = 10x the fixture max)
SHIFTS = {
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 10_000_000, "user_id": 100_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "region": {},
    "nation": {},
}
# join-consistency: lineitem references orders/supplier/part keys — shift
# the SAME columns by the same spans so referential structure survives
EXTRA = {"lineitem": {"l_suppkey": 100_000, "l_partkey": 1_000_000}}


def build_10x(spark, out_dir: str) -> None:
    for t, shifts in SHIFTS.items():
        df = spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet"))
        if not shifts and t in ("region", "nation"):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
            continue
        all_shifts = {**shifts, **EXTRA.get(t, {})}
        parts = []
        for i in range(REPL):
            d = df
            for col, span in all_shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * span))
            if t == "documents":
                d = d.withColumn(
                    "text",
                    F.regexp_replace("text", r"(\S+)", rf"$1_{i}"),
                )
            parts.append(d)
        u = parts[0]
        for d in parts[1:]:
            u = u.unionByName(d)
        u.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))


def main() -> None:
    spark = get_spark("scaling-curve")
    out = tempfile.mkdtemp(prefix="sfx10_")
    try:
        t0 = time.time()
        build_10x(spark, out)
        print(f"built 10x slice in {int(time.time() - t0)}s at {out}")
        reg = load_all()
        bench.warm_up(spark, reg, SF_DIR)
        print(f"{'query':28s} {'1x (s)':>8s} {'10x (s)':>8s} {'ratio':>6s}")
        for name in QUERIES:
            t1 = time.time()
            reg[name].fn(spark, SF_DIR).collect()
            base_s = time.time() - t1
            t2 = time.time()
            reg[name].fn(spark, out).collect()
            big_s = time.time() - t2
            print(
                f"{name:28s} {base_s:8.2f} {big_s:8.2f} {big_s / base_s:6.1f}x"
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
