"""Schema-checked parquet readers for the fixture tables.

Every read carries an explicit StructType (schemas.py) so Catalyst plans
are stable and column pruning / predicate pushdown reach the parquet
scan.  At 100 TB the same pattern holds: one logical table = one
partitioned parquet root; the explicit schema avoids footer sampling
across thousands of files, and readers never force materialization.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Mapping

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import EVENTS_RAW_NS, SCHEMAS


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def data_bytes(spark: SparkSession, path: str) -> int | None:
    """Total bytes under ``path`` (a file, or a directory tree), through
    the Hadoop ``FileSystem`` the session's reads use, so local paths,
    ``file://``, HDFS and S3A URIs are sized alike; None when the path
    cannot be statted (missing, or no file system for its scheme)."""
    try:
        p = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
        return fs.getContentSummary(p).getLength()
    except Py4JJavaError:
        return None


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
    with the session.  A REAL deployment's checkpoints, sinks and
    catalog tables are durable state and belong on durable storage."""
    global _PROCESS_SCRATCH
    if _PROCESS_SCRATCH is None:
        shm = "/dev/shm"
        on_shm = os.path.isdir(shm) and os.access(shm, os.W_OK)
        d = tempfile.mkdtemp(prefix="cdp_scratch_", dir=shm if on_shm else None)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _PROCESS_SCRATCH = d
    return _PROCESS_SCRATCH


def warehouse_dir() -> str:
    """Session warehouse for the catalog-table DEMO operators
    (join_bucketed, sink tables): every such table is dropped and
    rewritten inside one query invocation, so it lives in
    ``process_scratch`` (private, removed at exit), never in the
    caller's working directory.  $SPARK_GRAFT_WAREHOUSE overrides it."""
    return os.environ.get("SPARK_GRAFT_WAREHOUSE") or os.path.join(
        process_scratch(), "warehouse"
    )


_TS_NANOS_CACHE: dict[str, bool] = {}


def _events_ts_is_nanos(path: str) -> bool:
    """One cached footer sniff: is events.ts stored as TIMESTAMP(NANOS)?

    The fixture generator has shipped both ns and µs files across rounds;
    Spark's vectorized reader needs different handling for each (it has
    no native nanos type), so we branch on the actual footer rather than
    assuming.  One footer read per (path) per process — at 100 TB this is
    one file's metadata, not a directory listing."""
    if path not in _TS_NANOS_CACHE:
        import glob
        import os

        import pyarrow.parquet as pq

        # Spark-written tables are DIRECTORIES of part files; the
        # footer sniff needs one actual file (all parts share a schema)
        probe = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(f"no parquet part files under {path}")
            probe = parts[0]
        unit = getattr(pq.read_schema(probe).field("ts").type, "unit", "us")
        _TS_NANOS_CACHE[path] = unit == "ns"
    return _TS_NANOS_CACHE[path]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table with its explicit schema.

    ``events.ts`` needs a footer sniff: when stored as TIMESTAMP(NANOS)
    (which Spark's reader rejects as a timestamp) we read it as epoch-nanos
    int64 through the explicit ``EVENTS_RAW_NS`` schema and truncate
    ns -> µs, matching DuckDB's TIMESTAMP_NS -> TIMESTAMP cast; when
    stored as µs it reads directly.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    path = table_path(sf_dir, name)
    if name == "events" and _events_ts_is_nanos(path):
        raw = spark.read.schema(EVENTS_RAW_NS).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


# The narrow shuffle width shared by queries whose post-scan stages are
# model- or state-sized (few groups), where per-partition overhead, not
# parallelism, dominates (SCALE.md "Streaming state sizing policy").
NARROW_SHUFFLE = {"spark.sql.shuffle.partitions": "8"}

# Keys that some registered query overrides and the baseline in tune()
# does not name; ``registry.query`` adds each query's ``conf`` keys here.
QUERY_CONF_KEYS: set[str] = set()


def tune(spark: SparkSession, conf: Mapping[str, str] | None = None) -> SparkSession:
    """The one writer of query-scoped session conf.

    The driver owns the SparkSession it passes us, so only runtime-settable
    confs go here, and every query must start from the same conf.  Each
    registered query's wrapper (``registry.query``) calls this before its
    body; it (1) sets the baseline below, (2) returns every key in
    ``QUERY_CONF_KEYS`` that the baseline does not name to the session
    default, and (3) applies the query's own ``conf``.  Overrides stay in
    force after the body returns, because the caller plans and runs the
    returned DataFrame later; the next registered call resets them.

    ``shuffle.partitions`` is sized for the local bench scale (32 cores /
    sub-GB shuffles) and re-read from ``$SPARK_GRAFT_SHUFFLE`` on every
    call; AQE coalescing takes it down further at runtime, and on a real
    1000-executor cluster AQE + a larger initial value are the policy
    instead of this constant.
    """
    baseline = {
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # lake write default: zstd strictly dominated snappy/gzip/raw on
        # size AND write AND scan (SCALE.md "Measured: parquet codec
        # trade", ea6ce32:experiments/codec_ab.py)
        "spark.sql.parquet.compression.codec": "zstd",
        # Spark's defaults, named so a query that overrides them
        # (join_bloom_runtime, join_shuffle_hash) is reset explicitly
        "spark.sql.autoBroadcastJoinThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            "10GB",
    }
    # a query that cannot get its conf must not run on whatever the
    # session holds: a failed write raises, naming the key (None unsets)
    unset = dict.fromkeys(QUERY_CONF_KEYS - baseline.keys())
    for key, value in {**baseline, **unset, **(conf or {})}.items():
        try:
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        except Exception as e:
            raise RuntimeError(f"tune: cannot write session conf {key!r}") from e
    return spark
