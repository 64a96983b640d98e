#!/usr/bin/env python3
"""r12: decompose the availableNow machinery floor (~1.5-2 s x ~25 true
streaming runs) and try config levers inside the self-contained-drain
contract.

Decomposition method: per-batch ``StreamingQueryProgress.durationMs``
(latestOffset / getBatch / queryPlanning / walCommit / commitOffsets /
addBatch / triggerExecution) plus state-store commit times from
``stateOperators``; everything the progress events do NOT cover
(query start: analysis, checkpoint dir setup, stream thread spin-up;
termination) shows up as wall - sum(triggerExecution).

Arms (same drain, one lever each):
  base      status quo (tmpfs checkpoint, per-op shuffle partitions)
  nodata    spark.sql.streaming.noDataMicroBatches.enabled=false —
            skips the trailing empty micro-batch.  ONLY legal for ops
            whose emissions don't depend on the final watermark commit
            (checked: compare drained rows vs base)
  rocksdb   RocksDB state store provider (vs HDFS-backed on tmpfs)
  async     asyncLogPurge / async progress off|on probes

Run: python experiments/opt_r12_stream_floor.py [op ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from covid_data_pipeline_spark.io import tune  # noqa: E402
from covid_data_pipeline_spark.registry import load_all  # noqa: E402
from covid_data_pipeline_spark.session import get_spark  # noqa: E402
from covid_data_pipeline_spark.streaming import (  # noqa: E402
    read_events_stream,
    runner,
)
from covid_data_pipeline_spark.streaming import transforms as TR  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def drain_with_progress(sdf, output_mode="update", partitions=None):
    """Like runner.run_available_now(memory sink) but returns (wall,
    progress list) for decomposition."""
    import uuid

    spark = sdf.sparkSession
    if partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    ckpt = runner.scratch_dir("cdp_floor_")
    name = f"mem_{uuid.uuid4().hex[:12]}"
    t0 = time.perf_counter()
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    n = spark.table(name).count()
    return wall, prog, n


def show(label, wall, prog, n):
    tot = {}
    state_ms = 0
    for p in prog:
        for k, v in (p.get("durationMs") or {}).items():
            tot[k] = tot.get(k, 0) + v
        for so in p.get("stateOperators") or []:
            state_ms += so.get("commitTimeMs", 0) or 0
    trig = tot.get("triggerExecution", 0)
    print(
        f"{label:28s} wall={wall:6.2f}s  batches={len(prog)}  rows={n}  "
        f"trigger={trig/1000:5.2f}s  outside-batches={wall - trig/1000:5.2f}s"
    )
    keys = ["latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch"]
    parts = "  ".join(f"{k}={tot.get(k,0)}ms" for k in keys)
    print(f"{'':28s} {parts}  stateCommit={state_ms}ms")


def main() -> None:
    spark = get_spark("opt-r12-stream-floor")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)

    bench.warm_up(spark, load_all(), SF_DIR)

    def mk():
        # stream_session's transform: sessionization via applyInPandasWithState
        tune(spark)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        return TR.stateful_user_totals(read_events_stream(spark, SF_DIR))

    def mk_stateless():
        tune(spark)
        return read_events_stream(spark, SF_DIR).where(F.col("user_id") % 7 == 0)

    arms = {
        "base": {},
        "nodata-off": {"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
        "rocksdb": {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        },
    }
    for reps in range(2):
        for label, conf in arms.items():
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                wall, prog, n = drain_with_progress(mk(), "update")
                show(f"stateful/{label} r{reps}", wall, prog, n)
                wall, prog, n = drain_with_progress(mk_stateless(), "append")
                show(f"stateless/{label} r{reps}", wall, prog, n)
            finally:
                for k in conf:
                    spark.conf.unset(k)
    spark.stop()


if __name__ == "__main__":
    main()
