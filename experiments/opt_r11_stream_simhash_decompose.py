#!/usr/bin/env python3
"""Decompose stream_dedup_simhash's cost (r11 opt round): batch
fingerprint pass vs streaming machinery vs state-store checkpoint I/O.

Arms:
  A. batch banded_simhash materialized with noop (no streaming at all)
  B. full streaming run, checkpoint on /tmp (status quo)
  C. full streaming run, checkpoint on /dev/shm (tmpfs)
  D. streaming run WITHOUT the stateful op (fingerprint+band projection
     drained to memory sink) — isolates applyInPandasWithState cost
"""

import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid_data_pipeline_spark.session import get_spark  # noqa: E402
from covid_data_pipeline_spark.io import tune  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = get_spark("opt-r11-stream-simhash")
spark.sparkContext.setLogLevel("ERROR")

from covid_data_pipeline_spark.queries.llm_dedup import banded_simhash  # noqa: E402
from covid_data_pipeline_spark.streaming import (  # noqa: E402
    read_documents_stream,
)
from covid_data_pipeline_spark.streaming import transforms as TR  # noqa: E402


def drain(sdf, ckpt_base):
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="cdp_ckpt_", dir=ckpt_base)
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def timed(label, fn, reps=3):
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    print(f"{label:55s} med={ts[len(ts)//2]:7.2f} min={ts[0]:7.2f} max={ts[-1]:7.2f}", flush=True)


# the bench's own warm-up, so no arm pays one-time machinery cost
import bench  # noqa: E402
from covid_data_pipeline_spark.registry import load_all  # noqa: E402

bench.warm_up(spark, load_all(), SF_DIR)

tune(spark)

# A: batch fingerprint+banding only
from covid_data_pipeline_spark.io import load  # noqa: E402


def arm_a():
    tune(spark)
    docs = load(spark, SF_DIR, "documents").repartition(32)
    banded_simhash(docs).write.format("noop").mode("overwrite").save()


timed("A batch banded_simhash (noop)", arm_a)


def arm_full(ckpt_base):
    tune(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    docs = read_documents_stream(spark, SF_DIR).repartition(32)
    pairs = drain(TR.stateful_simhash_band_dedup(banded_simhash(docs)), ckpt_base)
    pairs.select("doc_a", "doc_b", "lang", "hamming").distinct().write.format(
        "noop"
    ).mode("overwrite").save()


timed("B full stream, ckpt /tmp", lambda: arm_full("/tmp"))
os.makedirs("/dev/shm/cdp_ckpt", exist_ok=True)
timed("C full stream, ckpt /dev/shm", lambda: arm_full("/dev/shm/cdp_ckpt"))


def arm_d():
    tune(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    docs = read_documents_stream(spark, SF_DIR).repartition(32)
    drain(banded_simhash(docs), "/tmp").write.format("noop").mode("overwrite").save()


timed("D stream WITHOUT stateful op (projection drain)", arm_d)

spark.stop()
