"""Execute true Structured Streaming runs over the fixture event stream.

The parquet ``events`` table stands in for the stream (TESTDATA.md); the
``availableNow`` trigger drains it in micro-batches and terminates, which
makes streaming runs deterministic enough for tests while exercising the
real incremental execution path (state store, watermarks, sinks).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import _events_ts_is_nanos, table_path
from ..schemas import EVENTS, EVENTS_RAW_NS

_PROCESS_SCRATCH: str | None = None


def process_scratch() -> str:
    """This process's private scratch dir for EPHEMERAL files, created
    on first use and removed at exit.  On tmpfs when the box has one
    (r11 measurement: the HDFS-backed state store's per-partition
    delta+commit fsyncs cost ~1 s/run of stream_dedup_simhash on ext4
    /tmp, 0 on /dev/shm), else under tempfile's default dir.
    PER-PROCESS (r11 advice): tmpfs scratch is RAM, a shared fixed dir
    accumulated across the ~400-query suite and across runs until
    reboot, and concurrent processes raced on it.  The base is
    rmtree'd atexit, after the lazily-read parquet sink frames are dead
    with the session.  A REAL deployment's checkpoints and sinks are
    durable state and belong on durable storage."""
    global _PROCESS_SCRATCH
    if _PROCESS_SCRATCH is None:
        shm = "/dev/shm"
        on_shm = os.path.isdir(shm) and os.access(shm, os.W_OK)
        d = tempfile.mkdtemp(prefix="cdp_scratch_", dir=shm if on_shm else None)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _PROCESS_SCRATCH = d
    return _PROCESS_SCRATCH


def scratch_dir(prefix: str) -> str:
    """mkdtemp for streaming scratch (checkpoints of availableNow
    drains, throwaway feeds/sinks): these dirs live for one query
    invocation and are never re-read across runs.  Under
    $SPARK_GRAFT_STREAM_SCRATCH when set (set it to /tmp to get the old
    layout), else under process_scratch()."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH") or process_scratch()
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, same footer-sniffed
    ns-vs-µs handling as the batch reader (io.load) so batch and stream
    see identical rows."""
    # the file stream source wants a directory: stream sf_dir itself,
    # glob-filtered down to the events table
    if _events_ts_is_nanos(table_path(sf_dir, "events")):
        raw = (
            spark.readStream.schema(EVENTS_RAW_NS)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet — the incremental-ingest
    view of the corpus (documents arriving over time) that the streaming
    dedup operators consume."""
    from ..schemas import DOCUMENTS

    return (
        spark.readStream.schema(DOCUMENTS)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
    sink: str = "memory",
) -> DataFrame:
    """Drain a streaming DataFrame with the availableNow trigger into a
    sink; return the sink contents as a batch DataFrame.

    ``sink="memory"`` (default) collects every emitted row to the
    DRIVER — fine for the aggregate-sized drains, but a guide-§5
    violation for row-heavy ones.  ``sink="parquet"`` (append mode
    only — the file sink's contract) writes emissions from the
    executors to ephemeral scratch (tmpfs when present) and reads them
    back with the stream's own schema: the r11 A/B on
    stream_dedup_simhash's 896k-row emission measured the memory sink
    at ~2-4 s over the file sink for the identical row multiset."""
    ckpt = scratch_dir("cdp_ckpt_")
    if sink == "parquet":
        if output_mode != "append":
            raise ValueError("parquet sink supports append mode only")
        out = scratch_dir("cdp_sink_")
        data = os.path.join(out, "data")
        writer = (
            sdf.writeStream.format("parquet")
            .option("path", data)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
    else:
        name = f"mem_{uuid.uuid4().hex[:12]}"
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
    if max_files_per_trigger is not None:
        writer = writer.option("maxFilesPerTrigger", str(max_files_per_trigger))
    q = writer.start()
    q.awaitTermination()
    if sink == "parquet":
        # a drain that commits zero batches never creates the data dir;
        # match the memory sink's empty-table behavior instead of
        # raising PATH_NOT_FOUND (r11 advice)
        if not os.path.isdir(data):
            return sdf.sparkSession.createDataFrame([], sdf.schema)
        return sdf.sparkSession.read.schema(sdf.schema).parquet(data)
    return sdf.sparkSession.table(name)


def run_foreach_parquet(sdf: DataFrame, out_dir: str | None = None) -> str:
    """Drain a streaming aggregation via ``foreachBatch``, appending each
    micro-batch's rows (stamped with the batch id) to a parquet sink —
    the incremental-archive-write shape of the reference pipeline.
    Returns the sink directory."""
    out = out_dir or scratch_dir("cdp_sink_")
    ckpt = os.path.join(out, "_checkpoint")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(os.path.join(out, "data"))
        )

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def pin_feed_mtimes(src: str, dirs: list[str] | tuple[str, ...]) -> None:
    """Pin distinct, strictly increasing modification times on the files
    under ``src/<d>`` for each d in order.  FileStreamSource admits files
    in mtime order, so two feed files written within the same mtime tick
    would make micro-batch arrival order (and every state-carry witness
    built on it) a coin flip.  Single definition shared by the witness
    queries and the split-feed tests — the pinning scheme must never
    diverge between product and test."""
    for i, d in enumerate(dirs):
        t = 1_700_000_000 + 10 * i
        for root, _dirs, files in os.walk(os.path.join(src, d)):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
