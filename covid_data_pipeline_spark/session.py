"""SparkSession builder for tests and bench (the driver brings its own)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from .io import tune

_WAREHOUSE: str | None = None


def _warehouse_dir() -> str | None:
    """Session warehouse for the catalog-table DEMO operators
    (join_bucketed, sink tables): every such table is dropped and
    rewritten inside one query invocation, so its durability is
    worthless — put the warehouse on tmpfs when the box has one (r11;
    the same ephemeral-scratch policy as streaming.runner.scratch_dir).
    PER-PROCESS and mode-0700 (r11 advice): a fixed box-global path let
    concurrent runs race on the same catalog tables and is a
    pre-creation hazard in world-writable /dev/shm — mkdtemp gives each
    process its own private dir, removed at exit.  Override with
    $SPARK_GRAFT_WAREHOUSE (set it to ./spark-warehouse for the old
    layout); a REAL deployment's catalog tables are durable state and
    belong on real storage."""
    global _WAREHOUSE
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    if _WAREHOUSE:
        return _WAREHOUSE
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        _WAREHOUSE = tempfile.mkdtemp(prefix="cdp_warehouse_", dir=shm)
        atexit.register(shutil.rmtree, _WAREHOUSE, ignore_errors=True)
        return _WAREHOUSE
    return None  # Spark's default ./spark-warehouse


def get_spark(app: str = "covid-data-pipeline-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    wh = _warehouse_dir()
    builder = SparkSession.builder.master(f"local[{cpus}]")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    spark = (
        builder
        .appName(app)
        # SQL runtime confs (shuffle width, AQE, time zone) are set by
        # tune() below and before every registered query
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode driver == the only executor.  8g vs 32g was A/B'd at
        # r3 on the heavy dedup queries: no consistent difference (run
        # variance dominates), so the smaller footprint stays the default
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
