"""Execute true Structured Streaming runs over the fixture event stream.

The parquet ``events`` table stands in for the stream (TESTDATA.md); the
``availableNow`` trigger drains it in micro-batches and terminates, which
makes streaming runs deterministic enough for tests while exercising the
real incremental execution path (state store, watermarks, sinks).

``drain`` is the package's one ``writeStream`` call: every streaming
query runs through it and gets back the terminated ``StreamingQuery``,
whose ``recentProgress`` carries each micro-batch's ``durationMs``
phases and state-operator metrics.  ``run_available_now`` is its common
case: drain into a memory table or a scratch parquet directory and
return the sink's rows as a batch DataFrame.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..io import _events_ts_is_nanos, process_scratch, table_path
from ..schemas import EVENTS, EVENTS_RAW_NS


def scratch_dir(prefix: str) -> str:
    """mkdtemp for streaming scratch (checkpoints of availableNow
    drains, throwaway feeds/sinks): these dirs live for one query
    invocation and are never re-read across runs.  Under
    $SPARK_GRAFT_STREAM_SCRATCH when set (set it to /tmp to get the old
    layout), else under io.process_scratch()."""
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


def read_feed(spark: SparkSession, schema: StructType, src: str) -> DataFrame:
    """``readStream`` over the parquet feed dirs under ``src``, one file
    per micro-batch, in the mtime order ``pin_feed_mtimes`` sets: the
    split feeds of the witness queries and the multi-batch tests.  The
    batch size is the file source's ``maxFilesPerTrigger``; the stream
    writer ignores that option."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )


def drain(
    sdf: DataFrame,
    output_mode: str,
    *,
    memory: str | None = None,
    path: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run ``sdf`` with the availableNow trigger until it has drained
    what its source holds, and return the terminated query.

    The sink is exactly one of: the memory table named ``memory`` (every
    emitted row is collected to the driver), the parquet directory
    ``path`` (the native file sink, exactly-once through its
    ``_spark_metadata`` log, append mode only) or the ``foreach_batch``
    callback.  A run that resumes from an earlier one passes its own
    ``checkpoint``, which stays; otherwise the checkpoint goes to
    scratch and is deleted once the query has terminated (a stateful
    drain's holds megabytes of state-store files, on tmpfs by default).
    Batch sizes are source options (``read_feed``)."""
    if sum(s is not None for s in (memory, path, foreach_batch)) != 1:
        raise ValueError("drain takes exactly one of memory, path, foreach_batch")
    ckpt = checkpoint or scratch_dir("cdp_ckpt_")
    writer = (
        sdf.writeStream.outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if memory is not None:
        writer = writer.format("memory").queryName(memory)
    elif path is not None:
        writer = writer.format("parquet").option("path", path)
    else:
        writer = writer.foreachBatch(foreach_batch)
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return q


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete", sink: str = "memory"
) -> DataFrame:
    """``drain`` a streaming DataFrame and return the sink contents as a
    batch DataFrame.

    ``sink="memory"`` (default) collects every emitted row to the
    DRIVER — fine for the aggregate-sized drains, but a guide-§5
    violation for row-heavy ones.  ``sink="parquet"`` (append mode
    only — the file sink's contract) writes emissions from the
    executors to ephemeral scratch (tmpfs when present) and reads them
    back with the stream's own schema: the r11 A/B on
    stream_dedup_simhash's 896k-row emission measured the memory sink
    at ~2-4 s over the file sink for the identical row multiset."""
    spark = sdf.sparkSession
    if sink == "parquet":
        if output_mode != "append":
            raise ValueError("parquet sink supports append mode only")
        data = os.path.join(scratch_dir("cdp_sink_"), "data")
        drain(sdf, output_mode, path=data)
        # a drain that commits zero batches never creates the data dir;
        # match the memory sink's empty-table behavior instead of
        # raising PATH_NOT_FOUND (r11 advice)
        if not os.path.isdir(data):
            return spark.createDataFrame([], sdf.schema)
        return spark.read.schema(sdf.schema).parquet(data)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    drain(sdf, output_mode, memory=name)
    return take_memory_sink(spark, name)


def take_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """The memory sink ``name`` as a batch DataFrame, its temp view
    dropped: the view would pin every emitted row on the driver for the
    rest of the session, the frame holds them only while it lives."""
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows


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
