"""§2.1 Scans / sources / sinks (SURVEY.md).

Reference analogue: loading page snapshots from the directory cache,
ingesting the source-registry CSV, persisting change lists.  Here each
is a declarative scan so Catalyst gets predicate pushdown, column
pruning and (for the partitioned sink) partition pruning on read-back.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import NARROW_SHUFFLE, load, process_scratch
from ..registry import query
from ..schemas import DOCUMENTS, EVENTS
from ._helpers import dsum, round_long, sql_dsum


def scratch_path(name: str) -> str:
    """Scratch path for a side-effect query's output, overwritten on
    every run and never read across runs.  Under $SPARK_GRAFT_SCRATCH
    when set; else under this process's private scratch dir
    (``io.process_scratch``: tmpfs when the box has one,
    removed at exit), so concurrent processes never share it.  Resolved
    per call, never at import, so a Python worker that unpickles a
    function from this module creates no dir.  A real lake's sinks are
    durable storage; this only places local scratch."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH") or process_scratch()
    return os.path.join(root, "cdp_spark_scratch", name)


@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of lineitem (reference: load every cached page version)."""
    return load(spark, sf_dir, "lineitem")


@query(
    "scan_projected",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: 2 of 11 columns; ReadSchema in the plan shows
    only these reach the parquet reader (reference: read one stage of a
    snapshot, not the whole record)."""
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


# The oracle of every events round trip through files: the count per
# event_type of the events the query wrote and read back.
_EVENT_TYPE_COUNTS_SQL = (
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"
)


@query(
    "scan_csv_roundtrip",
    oracle=_EVENT_TYPE_COUNTS_SQL,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to CSV, read back with an explicit schema (never
    inferSchema), count by event_type — the source-registry CSV ingest
    path of the reference.  The round trip is lossless for these
    columns, so the read-back aggregate equals the direct aggregate —
    which makes the filesystem side effect fully ORACLE-CHECKABLE (a
    dropped or duplicated row would break the count)."""
    return _csv_roundtrip(spark, sf_dir, "csv_roundtrip")


def _csv_roundtrip(
    spark: SparkSession, sf_dir: str, name: str, **write_opts: str
) -> DataFrame:
    """Write events to CSV in scratch dir ``name`` (extra writer options
    ``write_opts``), read them back with the explicit ``EVENTS`` schema
    and count by event_type."""
    path = scratch_path(name)
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").options(
        header=True, timestampFormat=ts_fmt, **write_opts
    ).csv(path)
    back = (
        spark.read.schema(EVENTS)
        .options(header=True, timestampFormat=ts_fmt)
        .csv(path)
    )
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


_BINFILE_IDS = (1, 2, 3, 4, 5, 6, 7, 8)  # fixture docs materialized as blobs


@query(
    "scan_binary_files",
    oracle=f"""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS filename,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest
    FROM documents WHERE doc_id IN {_BINFILE_IDS}
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's standard ingestion path for
    opaque image/audio/video payloads (one row per file: path, length,
    content bytes) and the missing first stage in front of the
    multimodal_* decode queries, which all start from an
    already-columnar payload.

    A handful of fixture documents are materialized as .bin blobs in
    scratch, read back through ``spark.read.format("binaryFile")``, and
    reduced to (filename, byte length, sha256-of-content) — so the
    filesystem round trip is fully ORACLE-CHECKABLE against the source
    table (a truncated or corrupted read breaks the digest).  At 100 TB:
    binaryFile parallelizes per-file (set maxPartitionBytes /
    pathGlobFilter for many-small-files layouts, or compact blobs into
    parquet binary columns — sink_compact_small_files — once files
    outnumber tasks by enough to matter)."""
    import shutil

    bin_dir = scratch_path("binary_files")
    shutil.rmtree(bin_dir, ignore_errors=True)  # no stale blobs across runs
    os.makedirs(bin_dir, exist_ok=True)
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(*_BINFILE_IDS))
        .select("doc_id", "text")
        .collect()  # |_BINFILE_IDS| rows: fixture blobs for the scratch dir
    )
    for r in docs:
        with open(os.path.join(bin_dir, f"doc_{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(bin_dir)
    )
    return back.select(
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("digest"),
    )


@query(
    "scan_json_lines",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS DOUBLE) / COUNT(*) AS avg_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` payload (reference: state API/JSON source
    parsing) and aggregate the extracted field.  Integer sums are exact,
    so no decimal trick is needed for avg_k."""
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events
    WHERE event_type = 'purchase' GROUP BY event_type
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-list-style persist: write per-(type) status rows partitioned
    by event_type, read back ONE partition and count — exercises dynamic
    partition layout + partition pruning on read (reference: directory
    cache persist keyed by source).  Oracle-checked: the partitioned
    round trip must reproduce the direct filtered count exactly."""
    path = scratch_path("sink_partitioned")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


_REG_A = [
    ("ca", "https://covid19.ca.gov/data", "html"),
    ("ny", "https://health.ny.gov/covid", "html"),
    ("tx", "https://dshs.texas.gov/coronavirus", "html"),
    ("wa", "https://doh.wa.gov/emergencies/covid19", "dashboard"),
]
_REG_B = [
    ("ny", "https://health.ny.gov/covid", "html"),
    ("fl", "https://floridahealthcovid19.gov", "dashboard"),
    ("wa", "https://doh.wa.gov/emergencies/covid19", "dashboard"),
]

_REG_SCHEMA = T.StructType(
    [
        T.StructField("state", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),
    ]
)


def _sql_values(rows: list[tuple[str, str, str]]) -> str:
    return ", ".join("(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows)


@query(
    "source_union_registry",
    oracle=f"""
    SELECT DISTINCT state, url, kind FROM (
        SELECT * FROM (VALUES {_sql_values(_REG_A)}) AS a(state, url, kind)
        UNION ALL
        SELECT * FROM (VALUES {_sql_values(_REG_B)}) AS b(state, url, kind)
    )
    """,
)
def source_union_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge two curated source lists and dedup — the reference's
    registry-merge step, as createDataFrame + unionByName + dropDuplicates."""
    a = spark.createDataFrame(_REG_A, _REG_SCHEMA)
    b = spark.createDataFrame(_REG_B, _REG_SCHEMA)
    return a.unionByName(b).dropDuplicates()


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to ORC, read back with an explicit schema, aggregate
    — the second columnar format beside parquet (ORC ships in Spark;
    Avro/Delta need external packages, noted out of scope).  Same
    explicit-schema discipline as every reader: no footer sampling, plans
    stable.  Equality with the parquet-sourced aggregate is asserted in
    tests/test_edge_cases.py."""
    path = scratch_path("orc_roundtrip")
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").orc(path)
    back = spark.read.schema(EVENTS).orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users")
    )


@query(
    "join_partition_pruned",
    oracle="""
    SELECT e.event_type, d.metric_class, COUNT(*) AS n_events
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                 ('purchase', 'revenue'), ('signup', 'growth'),
                 ('error', 'ops')) AS d(event_type, metric_class)
      ON e.event_type = d.event_type
    WHERE d.metric_class IN ('revenue', 'growth')
    GROUP BY e.event_type, d.metric_class
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is stored
    partitioned by event_type; joining it to a dim filtered to two
    event kinds makes Catalyst inject a runtime subquery that reads the
    dim FIRST and prunes fact partitions before the scan — only 2 of 5
    partition directories are ever opened (plan-asserted in
    tests/test_plans.py).

    This is the 100 TB pattern for star joins onto partitioned facts:
    the filter lives on the dim (how query authors write it), yet I/O
    behaves as if the fact were filtered directly.  Static pruning
    (sink_parquet_partitioned) needs the literal in the query; DPP
    covers the join-shaped version.  Broadcast of the dim doubles as
    the DPP value source, so the subquery costs one tiny scan."""
    path = scratch_path("dpp_fact")
    ev = load(spark, sf_dir, "events").select("event_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    # the dim carries a real selective predicate — DPP's heuristic
    # requires one on the pruning side before it injects the subquery
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, metric_class string",
    ).filter(F.col("metric_class").isin("revenue", "growth"))
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type", "metric_class")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# Deterministic synthetic source registry emitted by the custom source:
# the same rows the reference's curated URL list would carry.
_DS_STATES = [f"s{i:02d}" for i in range(56)]
_DS_KINDS = ["html", "dashboard", "api"]


def _registry_rows(shard: int, n_shards: int = 4):
    for i, st in enumerate(_DS_STATES):
        if i % n_shards == shard:
            yield (st, f"https://{st}.example.gov/covid", _DS_KINDS[i % 3], shard)


# The whole registry, shard by shard, its schema, and the same rows as
# the oracles' VALUES table t.
_REGISTRY = [r for sh in range(4) for r in _registry_rows(sh)]
_REGISTRY_SCHEMA = "state string, url string, kind string, shard int"
_REGISTRY_SQL = f"""(VALUES {", ".join(
    f"('{st}', '{url}', '{kind}', {shard})" for st, url, kind, shard in _REGISTRY
)}) AS t(state, url, kind, shard)"""


@query(
    "source_python_datasource",
    oracle=f"""
    SELECT * FROM {_REGISTRY_SQL}
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DATA SOURCE (Spark 4 DataSource API): the source
    registry exposed as a first-class ``spark.read.format(...)`` with
    explicit input partitions — the extension point for reading systems
    Spark has no built-in connector for (reference analogue: the
    Google-Sheets-backed URL list is exactly such a source).

    Each InputPartition becomes one task reading one shard — this is how
    a scrape-frontier/API source parallelizes across executors.  Rows
    are deterministic literals, so the oracle is the VALUES list.  At
    100 TB the partition planner (``partitions()``) is the scale knob:
    one partition per key-range/API page, never one giant generator."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RegistryReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, partition):
            yield from _registry_rows(partition.value)

    class RegistryDataSource(DataSource):
        @classmethod
        def name(cls):
            return "cdp_registry"

        def schema(self):
            return _REGISTRY_SCHEMA

        def reader(self, schema):
            return _RegistryReader()

    spark.dataSource.register(RegistryDataSource)
    return spark.read.format("cdp_registry").load()


@query("sink_compact_small_files", oracle=None)  # rows-only: filesystem side effect
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance verb that keeps a
    100 TB lake readable: a fragmented write (64 shards of a 5k-row
    table, the classic too-many-output-files failure) is rewritten into
    size-targeted files, and the report row proves rows survived and the
    file count collapsed.

    The compacted layout comes from ``repartition(n)`` with n =
    ceil(bytes / target_file_size) measured from the fragmented layout
    itself — the same arithmetic a production compactor runs off the
    file listing.  At 100 TB: compaction is incremental per partition
    directory (only fragmented partitions rewrite), n per partition, and
    the write uses maxRecordsPerFile as the guardrail; a full-table
    repartition would be a cluster-wide shuffle for no reason.

    Driver sees (sf0.01): 1 rows; columns (files_before, files_after,
    n_rows).

    Rows-only (irreducibly): output is a FILE-COUNT audit of a
    filesystem rewrite; DuckDB has no view of Spark's task file layout.
    Row preservation is proven by the in-query count; layout collapse
    asserted in tests/test_corpus.py.
    """
    import glob

    frag_path = scratch_path("compact_fragmented")
    out_path = scratch_path("compact_done")
    d = load(spark, sf_dir, "documents")
    d.repartition(64).write.mode("overwrite").parquet(frag_path)

    def data_files(p: str) -> list[str]:
        return glob.glob(os.path.join(p, "part-*.parquet"))

    frag_files = data_files(frag_path)
    frag_bytes = sum(os.path.getsize(f) for f in frag_files)
    target = 32 << 20  # 32 MB files at this scale; 128-512 MB on a cluster
    n_out = max(1, -(-frag_bytes // target))
    back = spark.read.schema(DOCUMENTS).parquet(frag_path)
    back.repartition(n_out).write.mode("overwrite").parquet(out_path)
    n_rows = spark.read.schema(DOCUMENTS).parquet(out_path).count()
    return spark.createDataFrame(
        [(len(frag_files), len(data_files(out_path)), int(n_rows))],
        "files_before int, files_after int, n_rows bigint",
    )


@query(
    "sink_python_datasource",
    oracle=f"""
    SELECT kind, COUNT(*) AS n_sources FROM {_REGISTRY_SQL}
    GROUP BY kind
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DATA SOURCE **writer** (Spark 4 DataSource API) —
    the sink-side twin of ``source_python_datasource``: each task's rows
    land in one JSON-lines shard via ``DataSourceWriter.write``, commit
    messages flow back to the driver's ``commit`` — the two-phase-commit
    extension point for writing to systems Spark has no built-in
    connector for (reference analogue: pushing the change list to an
    external archive/API).

    The written registry is deterministic, so the read-back aggregate is
    oracle-checkable against the VALUES list — proving the round trip,
    not just the write.  At 100 TB: one writer instance per partition,
    commit is all-or-nothing at the driver (abort removes shards), and
    the shard-per-task layout is exactly how a scrape-frontier checkpoint
    or feature-store push parallelizes."""
    import json as _json
    import shutil
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    out_dir = scratch_path("pyds_sink")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    class _ShardCommit(WriterCommitMessage):
        def __init__(self, path: str, n: int):
            self.path = path
            self.n = n

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            shard = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(shard, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _ShardCommit(shard, n)

        def commit(self, messages):
            # two-phase commit: a real sink would publish the manifest
            # here; shards from failed/aborted tasks never appear in it
            manifest = os.path.join(self.path, "_MANIFEST")
            with open(manifest, "w") as f:
                for m in messages:
                    f.write(f"{m.path}\t{m.n}\n")

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "cdp_jsonl_sink"

        def schema(self):
            return _REGISTRY_SCHEMA

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options["path"])

    spark.dataSource.register(JsonlSinkDataSource)
    registry = spark.createDataFrame(_REGISTRY, _REGISTRY_SCHEMA).repartition(
        4, "shard"
    )
    (
        registry.write.format("cdp_jsonl_sink")
        .option("path", out_dir)
        .mode("append")
        .save()
    )
    # Read back ONLY the shards the commit() manifest published — a
    # part-* glob would also count orphan shards from retried or
    # speculative tasks, silently voiding the two-phase-commit check.
    manifest = os.path.join(out_dir, "_MANIFEST")
    assert os.path.exists(manifest)
    with open(manifest) as f:
        committed = [line.split("\t", 1)[0] for line in f if line.strip()]
    back = spark.read.schema(_REGISTRY_SCHEMA).json(committed)
    return back.groupBy("kind").agg(F.count(F.lit(1)).alias("n_sources"))


@query(
    "source_python_stream",
    oracle=f"""
    SELECT kind, COUNT(*) AS n_sources, MAX(shard) AS max_shard
    FROM {_REGISTRY_SQL}
    GROUP BY kind
    """,
    # few state groups (kinds): narrow sharding — the stream_foreach_sink
    # rationale (r12): 32 near-empty state stores per complete-mode
    # snapshot is per-instance commit overhead, not parallelism
    conf=NARROW_SHUFFLE,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource STREAM READER (Spark 4
    ``DataSourceStreamReader``) — the third leg of the custom-connector
    family beside the batch reader (``source_python_datasource``) and
    the committing writer (``sink_python_datasource``): a
    ``spark.readStream.format(...)`` source with explicit offsets, the
    extension point for streaming from systems with no built-in
    connector (reference analogue: tailing the scrape frontier as new
    registry shards appear).

    Offsets are shard indices: ``initialOffset`` 0, ``latestOffset`` 4,
    ``partitions(start, end)`` plans one InputPartition per pending
    shard, so a micro-batch reads only the offset delta — the
    exactly-once contract a real queue/frontier source implements, with
    ``commit(end)`` the checkpoint hook.  The availableNow drain
    processes the full offset range deterministically, so the streamed
    aggregate equals the VALUES oracle — a hash-checked run of a custom
    streaming source.  At 100 TB the offset space is the scale knob
    (key-ranges/partitions per micro-batch), identical to how the Kafka
    source carves topic partitions."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from ..streaming import run_available_now

    # DataSourceStreamReader offsets are plain dicts serialized as JSON
    class _RegistryStreamReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"shard": 0}

        def latestOffset(self):
            return {"shard": 4}

        def partitions(self, start, end):
            return [
                InputPartition(i)
                for i in range(start["shard"], end["shard"])
            ]

        def read(self, partition):
            yield from _registry_rows(partition.value)

        def commit(self, end):
            # a real frontier source acknowledges consumed offsets here
            pass

    class RegistryStreamDataSource(DataSource):
        @classmethod
        def name(cls):
            return "cdp_registry_stream"

        def schema(self):
            return _REGISTRY_SCHEMA

        def streamReader(self, schema):
            return _RegistryStreamReader()

    spark.dataSource.register(RegistryStreamDataSource)
    stream = spark.readStream.format("cdp_registry_stream").load()
    # NB: exact COUNT(DISTINCT) is unsupported on streaming frames
    # (state would be unbounded per group) — MAX(shard) carries the same
    # shard-coverage evidence with bounded state
    agg = stream.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.max("shard").alias("max_shard"),
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT CAST(event_id % 2 AS INTEGER) AS writer_version_parity,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN event_id % 2 = 1 THEN value END) AS n_with_value,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                         THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_id % 2
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read — the lake-maintenance reality every
    long-lived table hits: an old writer produced files WITHOUT the
    ``value`` column, a new writer adds it, and one mergeSchema read
    must serve both vintages with the missing column as NULL.

    Even-id events are written v1-style (no value column), odd-id
    events v2-style (with it), into sibling directories of one table
    root; ``spark.read.option("mergeSchema", true)`` unions the footers
    and the per-vintage aggregate proves NULL-backfill semantics
    exactly (count and decimal sum of value must match the source table
    rows that carried it).  At 100 TB: mergeSchema costs a footer read
    per file — pin the table schema in a catalog once evolution
    stabilizes, exactly like io.load's explicit StructType everywhere
    else in this repo."""
    import shutil

    root = scratch_path("schema_evolution")
    shutil.rmtree(root, ignore_errors=True)
    ev = load(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value"
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "v2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "v1"), os.path.join(root, "v2"))
    )
    return merged.groupBy(
        (F.col("event_id") % 2).cast("int").alias("writer_version_parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_with_value"),
        dsum("value").alias("sum_value"),
    )


# Lines injected into the permissive-read CSV: a bad-typed key and a
# garbage line (always quarantined), and an arity-overflow row — whose
# classification DEPENDS ON THE PROJECTION (the real gotcha this query
# pins; see docstring).
_CSV_BAD_LINES = (
    "not_an_int,NATION_BAD",
    "7,NATION_7,unexpected_extra_column",
    "garbage line with no commas at all extra",
)
_CSV_ARITY_KEY = 7  # under a pruned projection this key joins the good sum


@query(
    "scan_csv_permissive",
    oracle=f"""
    SELECT 'full' AS mode, 'good' AS kind, COUNT(*) AS n_rows,
           SUM(n_nationkey) AS key_sum,
           CAST(MAX(LENGTH(n_name)) AS INTEGER) AS max_name_len
    FROM nation
    UNION ALL
    SELECT 'full', 'corrupt', 3, NULL, NULL
    UNION ALL
    SELECT 'pruned', 'good', COUNT(*) + 1,
           SUM(n_nationkey) + {_CSV_ARITY_KEY}, NULL
    FROM nation
    UNION ALL
    SELECT 'pruned', 'corrupt', 2, NULL, NULL
    """,
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion — the PERMISSIVE read path a 100 TB
    crawl ingest actually needs: malformed rows (bad types, garbage
    lines) must neither kill the job (FAILFAST) nor silently vanish
    (DROPMALFORMED); they land in the ``columnNameOfCorruptRecord``
    column for quarantine and audit.

    The fixture's nation table is written to CSV with three known-bad
    lines injected, read back PERMISSIVE with an explicit schema, and
    classified good/corrupt — TWICE, because the classification of an
    ARITY-OVERFLOW row ("7,NATION_7,extra") is PROJECTION-DEPENDENT
    (measured on Spark 4.1.2, round-4 review find):

    - ``pruned`` mode touches only (n_nationkey, _corrupt): CSV column
      pruning parses just those fields, the extra token is never seen,
      and the row lands GOOD (key 7 joins the sum).
    - ``full`` mode also consumes n_name, so the parser materializes
      every declared column, trips on the extra token, and QUARANTINES
      the row (corrupt=3).

    Both classifications are oracle-pinned, so any engine change to
    either behavior — or any refactor that changes which columns a
    downstream consumer materializes — trips the hash compare.
    Production guidance follows directly: quarantine membership is not
    a property of the file, it is a property of (file, projection);
    ingest that needs arity strictness must validate column counts
    explicitly rather than trusting the corrupt column.

    Scale notes: each classification is one map-side pass; corrupt
    rows shuffle nowhere (two-row aggregates).  At 100 TB the
    quarantine column writes to a side sink and bad-row RATE is the
    job health metric — this operator is that audit in miniature."""
    path = scratch_path("csv_permissive")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n.coalesce(1).write.mode("overwrite").options(header=False).csv(path)
    # inject malformed lines as their own shard file (deterministic)
    bad_path = os.path.join(path, "part-bad.csv")
    with open(bad_path, "w") as f:
        for line in _CSV_BAD_LINES:
            f.write(line + "\n")
    back = spark.read.schema(
        "n_nationkey int, n_name string, _corrupt string"
    ).options(
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt"
    ).csv(path)
    kind = F.when(F.col("_corrupt").isNull(), "good").otherwise("corrupt")
    good_key = F.sum(F.when(F.col("kind") == "good", F.col("n_nationkey")))
    # full mode: consuming length(n_name) forces the parser to
    # materialize every declared column
    full = (
        back.select(kind.alias("kind"), "n_nationkey", "n_name")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            good_key.alias("key_sum"),
            F.max(
                F.when(F.col("kind") == "good", F.length("n_name"))
            ).alias("max_name_len"),
        )
        .select(F.lit("full").alias("mode"), "*")
    )
    pruned = (
        back.select(kind.alias("kind"), "n_nationkey")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            good_key.alias("key_sum"),
        )
        .select(
            F.lit("pruned").alias("mode"),
            "*",
            F.lit(None).cast("int").alias("max_name_len"),
        )
    )
    return full.unionByName(pruned)


@query(
    "scan_xml_payload",
    oracle="""
    SELECT s_suppkey AS k,
           replace(s_name, '#', '&') AS supplier_name,
           s_nationkey AS nk
    FROM supplier
    """,
)
def scan_xml_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML payload ingestion via Spark 4's ``from_xml`` — the
    semi-structured sibling of json_variant_ops for the XML feeds
    (sitemaps, legacy APIs, SOAP exports) a crawl pipeline still meets.
    Each supplier row is serialized to an XML fragment and parsed back
    with an explicit schema; the oracle supplies the ground truth
    directly from the table, so the check pins construct->parse as the
    identity INCLUDING entity escaping: the supplier name gets a real
    ampersand injected ('#' -> '&'), is escaped as &amp; during
    construction, and must come back unescaped from the parser.

    Map-only (no shuffle): serialization and parsing are per-row
    codegen'd expressions; at 100 TB this is the same
    schema-projected, column-pruned scan discipline as every other
    source — parse once with an explicit schema, never re-parse per
    expression (the variant lesson applies to XML too)."""
    s = load(spark, sf_dir, "supplier")
    dirty = F.replace(F.col("s_name"), F.lit("#"), F.lit("&"))
    # full text-node escape set (& first, then angle brackets): an
    # unescaped < or > makes from_xml return an all-NULL struct with no
    # error (measured) — silent data loss, not a parse failure
    esc = F.replace(
        F.replace(
            F.replace(dirty, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    xml = F.concat(
        F.lit("<s><k>"),
        F.col("s_suppkey").cast("string"),
        F.lit("</k><n>"),
        esc,
        F.lit("</n><nk>"),
        F.col("s_nationkey").cast("string"),
        F.lit("</nk></s>"),
    )
    # BIGINT in the parse schema: an INT field silently NULLs keys
    # above 2^31-1 (permissive parse), which a cast cannot recover
    parsed = s.select(
        F.from_xml(xml, "k BIGINT, n STRING, nk BIGINT").alias("p")
    )
    return parsed.select(
        F.col("p.k").alias("k"),
        F.col("p.n").alias("supplier_name"),
        F.col("p.nk").alias("nk"),
    )


@query(
    "sink_jdbc_roundtrip",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal')} AS total_bal
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_nationkey
    """,
)
def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + parallel JDBC source against an embedded Derby
    database (the RDBMS jars Spark ships for its metastore) — the
    operational-database leg every pipeline eventually needs: publish
    a curated slice to a SQL store, then extract in parallel.

    Three JDBC disciplines pinned here: (1) the PARTITIONED read
    (column/bounds/numPartitions) so extraction is N concurrent range
    queries instead of one connection streaming everything — the only
    scalable shape against a real warehouse; (2) predicate pushdown —
    the segment filter ships into Derby's WHERE clause (PushedFilters
    on the JDBC scan), so the database sends only matching rows;
    (3) dialect type mapping — Spark's Derby dialect maps StringType
    to CLOB, which Derby cannot even compare with '=' (measured:
    ERROR 42818), so the write must pin comparable SQL types via
    createTableColumnTypes.  At 100 TB the JDBC leg carries curated
    AGGREGATES, never raw data — the bounds/numPartitions knobs are
    for the read-back of dimension-sized tables like this one."""
    import shutil

    db = scratch_path("jdbc_derby")
    shutil.rmtree(db, ignore_errors=True)
    # embedded Derby writes derby.log to the JVM's working directory
    # when it boots (the first JDBC write below) unless told otherwise
    os.makedirs(os.path.dirname(db), exist_ok=True)
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", scratch_path("derby.log")
    )
    url = f"jdbc:derby:{db};create=true"
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "batchsize": "5000",
    }
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    (
        c.write.option("createTableColumnTypes", "c_mktsegment VARCHAR(10)")
        .jdbc(url, "cust_slice", mode="overwrite", properties=props)
    )
    back = spark.read.jdbc(
        url,
        "cust_slice",
        column="c_custkey",
        lowerBound=0,
        upperBound=10_000_000,
        numPartitions=4,
        properties=props,
    )
    return (
        back.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "sink_positional_delete",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_kept,
           {sql_dsum("o_totalprice")} AS kept_total
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY o_orderpriority
    """,
)
def sink_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read positional deletes — the Iceberg/Delta
    deletion-vector pattern: instead of rewriting data files to delete
    rows, persist a small side file of (data_file_path, row_position)
    and apply it at read time as an anti-join.  At 100 TB this is THE
    delete mechanism: a delete touching 0.001% of rows costs a
    KB-scale delete file, not a rewrite of immutable TB-scale data
    files; readers subtract positions with a broadcast anti-join (the
    delete set is almost always broadcast-sized — when it is not, it
    degrades to a shuffle anti-join on the same key and still never
    rewrites data).

    Mechanics exercised for real: the base table is written as multiple
    parquet files; positions come from Spark's hidden ``_metadata``
    columns (file_path + row_index, the file-position identity Iceberg
    v2 delete files key on); the delete file round-trips through
    parquet; the read side re-derives positions and anti-joins.  The
    deleted-row predicate (o_orderkey % 97 = 0) exists only to CHOOSE
    positions deterministically — the apply step never sees it, only
    (file, position) pairs — so the oracle checking "predicate-filtered
    orders" proves the positional machinery reproduced it exactly."""
    base = scratch_path("posdel_base")
    delf = scratch_path("posdel_deletes")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.repartition(4).write.mode("overwrite").parquet(base)

    def with_pos(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_pos"),
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
        )

    # writer side: choose doomed positions, persist ONLY (file, pos)
    with_pos(spark.read.parquet(base)).filter(
        F.col("o_orderkey") % 97 == 0
    ).select("file_path", "row_pos").write.mode("overwrite").parquet(delf)

    # reader side: merge-on-read = scan + broadcast anti-join on position
    deletes = spark.read.parquet(delf)
    kept = with_pos(spark.read.parquet(base)).join(
        F.broadcast(deletes), on=["file_path", "row_pos"], how="left_anti"
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_kept"),
        dsum("o_totalprice").alias("kept_total"),
    )


@query(
    "scan_text_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    """,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented TEXT source/sink roundtrip (`spark.read.text` /
    `write.text`) — the rawest ingestion format every corpus pipeline
    still meets (one document per line, no schema, no delimiter
    parsing), completing the format family beside parquet/CSV/JSONL/
    XML/ORC/binary.  Write every document's text as one line, read the
    directory back through the text source (single `value` column),
    and aggregate line/char/token totals.

    The roundtrip is lossless for this corpus (fixture text contains no
    newlines — FIXTURES.md), so the read-back totals equal the direct
    aggregates over `documents` — the filesystem side effect is fully
    ORACLE-CHECKABLE (a dropped, split, or duplicated line breaks all
    three counters).  At 100 TB: text scans parallelize by line-split
    byte ranges exactly like CSV; the aggregate is one map-side-combined
    1-row reduction."""
    path = scratch_path("text_roundtrip")
    d = load(spark, sf_dir, "documents")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(F.size(F.split("value", " "))).cast("long").alias("total_tokens"),
    )


@query("profile_parquet_footers", oracle=None)  # rows-only: filesystem layout
def profile_parquet_footers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet-FOOTER audit — the lake-health scan that
    catches small-file sprawl and mis-sized row groups without reading
    a byte of data: events are written out partitioned by type
    (hash-repartitioned so the layout is shuffle-geometry-invariant),
    then ONLY the footers of the produced files are opened, one task
    per file batch, via an Arrow-batched mapInPandas over the file
    list; the report rolls up files / rows / row-groups per partition
    directory.

    At 100 TB this is the maintenance query that decides WHAT
    sink_compact_small_files should rewrite: footer reads are ~KB per
    file regardless of file size, the file list comes from the table
    manifest/catalog (driver-side glob here — the bounded part), and
    the scan parallelizes across executors like any other source.  The
    row counts double as a zero-cost table checksum per partition.

    Driver sees (sf0.01): 5 rows; columns (event_type, n_files,
    n_rows, n_row_groups).

    Rows-only (irreducibly): audits the PHYSICAL file/row-group layout
    of a Spark write in a fresh scratch dir; DuckDB has no view of that
    filesystem state. Row counts cross-checked against the logical
    groupBy and layout asserted in tests/test_corpus.py.
    """
    import glob as _glob

    import pandas as pd

    out = scratch_path("footer_profile")
    ev = load(spark, sf_dir, "events")
    ev.repartition(8, "user_id").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(out)
    paths = sorted(_glob.glob(os.path.join(out, "event_type=*", "*.parquet")))
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(8)

    def read_footers(batches):
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                etype = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
                rows.append((etype, int(md.num_rows), int(md.num_row_groups)))
            yield pd.DataFrame(
                rows, columns=["event_type", "f_rows", "f_groups"]
            )

    footers = pdf.mapInPandas(
        read_footers, "event_type string, f_rows long, f_groups long"
    )
    return footers.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("f_rows").alias("n_rows"),
        F.sum("f_groups").alias("n_row_groups"),
    )


@query(
    "scan_fixed_width",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_centi
    FROM events GROUP BY event_type
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source — the mainframe/COBOL copybook layout
    Spark has no native reader for, expressed as schema-on-read over
    ``spark.read.text``: events round-trip through a fixed-width file
    (event_id 12 cols right-aligned, user_id 8, event_type 12
    left-padded-right, value 12 with 2 decimals) and are re-parsed by
    COLUMN POSITION (substring + trim + cast), then aggregated; the
    oracle computes the same rollup from the original table, so any
    parse drift — truncation, sign loss, decimal slip — breaks the
    hash.

    All parsing is codegen built-ins (substring/trim/cast), no UDF;
    value survives exactly because 2-decimal doubles print and re-parse
    losslessly at width 12.  At 100 TB: the text source splits by line
    like any other, the parse is map-only, and the fixed offsets come
    from a copybook-derived spec table rather than literals."""
    path = scratch_path("fixed_width")
    ev = load(spark, sf_dir, "events")
    line = F.concat(
        F.lpad(F.col("event_id").cast("string"), 12, " "),
        F.lpad(F.col("user_id").cast("string"), 8, " "),
        F.rpad(F.col("event_type"), 12, " "),
        F.lpad(F.format_number(F.col("value"), 2), 12, " "),
    )
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    v = F.col("value")
    parsed = raw.select(
        F.trim(F.substring(v, 1, 12)).cast("long").alias("event_id"),
        F.trim(F.substring(v, 13, 8)).cast("long").alias("user_id"),
        F.trim(F.substring(v, 21, 12)).alias("event_type"),
        F.regexp_replace(F.trim(F.substring(v, 33, 12)), ",", "")
        .cast("double")
        .alias("val"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(round_long(F.col("val") * 100))
        .cast("long")
        .alias("value_centi"),
    )


@query(
    "source_calendar_spine",
    oracle="""
    WITH b AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
               CAST(MAX(o_orderdate) AS DATE) AS hi
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS d
        FROM b
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(year(d) AS BIGINT) AS yr,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(month(d) AS BIGINT) AS mo,
           CAST(weekofyear(d) AS BIGINT) AS iso_week,
           CAST(isodow(d) AS BIGINT) AS iso_dow,
           CAST(CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS INT)
               AS is_month_end
    FROM spine
    """,
)
def source_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar-dimension spine — the date table every
    warehouse join needs (gap-free even where the fact table has no
    rows), spanning the fact data's own min..max order date so the
    bounds stay data-driven: one `sequence()` + explode generates the
    days, then pure codegen date arithmetic derives year / quarter /
    month / ISO week / ISO day-of-week / month-end flag.

    Cross-engine traps handled: Spark's `dayofweek` is Sunday-based
    while DuckDB's `isodow` is Monday-based — Spark's `weekday()+1`
    IS isodow; both engines' `weekofyear` are ISO weeks.  The spine is
    calendar-bounded (~2,400 rows at any scale factor — it grows with
    TIME, not data volume), so at 100 TB it broadcasts to every
    calendar join for free; generation is a single task by design."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = b.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    return spine.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.year("d").cast("long").alias("yr"),
        F.quarter("d").cast("long").alias("qtr"),
        F.month("d").cast("long").alias("mo"),
        F.weekofyear("d").cast("long").alias("iso_week"),
        (F.weekday("d") + F.lit(1)).cast("long").alias("iso_dow"),
        (F.col("d") == F.last_day("d")).cast("int").alias("is_month_end"),
    )


@query(
    "sink_csv_quoted_escapes",
    oracle="""
    SELECT doc_id,
           sha256(concat('pre,', '"', substr(text, 1, 10), '"',
                         chr(10), 'post|', lang)) AS evil_sha,
           CAST(1 AS BIGINT) AS roundtrip_ok
    FROM documents
    """,
)
def sink_csv_quoted_escapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip of ADVERSARIAL field content — embedded commas,
    embedded double quotes, embedded newlines, and a pipe — the
    quoting/escaping edge cases that silently corrupt real exports
    (Excel-style CSV is where data pipelines go to die).  A field
    value is constructed deterministically from each doc, written
    through Spark's CSV sink (quote-all so every field is explicitly
    quoted, '""' escape per RFC 4180), and read back with
    multiLine=true; the emitted hash is of the ROUND-TRIPPED value
    while the oracle hashes the CONSTRUCTED value directly — any
    quoting/escape corruption breaks the hash match, so the identity
    is the gate, not an assertion comment.  roundtrip_ok additionally
    pins value equality engine-side.

    Scale: the sink/scan pair is embarrassingly parallel; multiLine
    CSV is the one format option that DISABLES file splitting (a file
    = a task), which is exactly why the writer shards output —
    documented trade, same as scan_csv_permissive."""
    d = load(spark, sf_dir, "documents")
    evil = F.concat(
        F.lit("pre,"),
        F.lit('"'),
        F.substring("text", 1, 10),
        F.lit('"'),
        F.lit("\n"),
        F.lit("post|"),
        F.col("lang"),
    )
    src = d.select("doc_id", evil.alias("evil"))
    out = scratch_path("csv_evil")
    (
        src.write.mode("overwrite")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(out, header=True)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("doc_id long, evil string")
        .csv(out)
    )
    expected = src.withColumnRenamed("evil", "want")
    j = back.join(expected, "doc_id")
    return j.select(
        "doc_id",
        F.sha2("evil", 256).alias("evil_sha"),
        (F.col("evil") == F.col("want")).cast("long").alias("roundtrip_ok"),
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``SELECT * EXCEPT (cols)`` projection surface — the
    wide-table ergonomics ("everything but the blob/PII columns")
    that, like GROUP BY ALL, resolves at ANALYSIS time: the oracle
    spells the surviving columns explicitly, and the plan test pins
    that the scan's ReadSchema prunes the excepted columns — EXCEPT
    is not a post-scan drop, it narrows the parquet read itself
    (column pruning still reaches the source, which is what matters
    at 100 TB: excepting a fat column saves its I/O entirely)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("se_orders")
    return spark.sql(
        """
        SELECT * EXCEPT (o_totalprice, o_orderdate)
        FROM se_orders
        """
    )


@query(
    "scan_parquet_file_metadata",
    oracle="""
    -- the fixture table is exactly ONE physical file named
    -- orders.parquet at every sf, so the expected provenance rollup
    -- is statable from the view alone; only the Spark side can (and
    -- does) derive the name from the _metadata column
    SELECT 'orders.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_parquet_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via Spark's hidden ``_metadata`` source
    column — per physical parquet file: row count and key range, the
    lineage question ("which file did this row come from / what does
    each file cover?") behind incremental reprocessing, bad-file
    quarantine, and compaction planning (sink_compact_small_files'
    read-side dual).  The oracle reads the same files with DuckDB's
    filename=true — an independent implementation of the same
    provenance surface.

    _metadata is COLLAPSED to the file name (both engines take the
    path's basename) so the check is location-independent; selecting
    _metadata costs nothing extra at scan time (it's constant per
    file, no I/O).

    Scale: per-file aggregation with map-side combine — at 100 TB
    with millions of files this is the manifest-building pass, and
    the min/max key ranges it emits are exactly what partition-pruning
    manifests (or Iceberg metadata) store."""
    from ..io import table_path

    o = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string"
    ).parquet(table_path(sf_dir, "orders"))
    return (
        o.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            .alias("file_name"),
            "o_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


@query(
    "scan_csv_gz_codec",
    oracle=_EVENT_TYPE_COUNTS_SQL,
)
def scan_csv_gz_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to GZIP-compressed CSV and read them back with the
    explicit schema — the compressed-text ingest path (the wild is full
    of .csv.gz drops; a pipeline that only reads plain text punts them
    to a shell step).  The read-back count equals the direct aggregate,
    so the codec round trip is fully oracle-checked.

    100 TB caveat, stated because it bites: gzip is NOT splittable —
    one .gz file = one task regardless of size, so a single 1 TB drop
    serializes.  The writer here shards by the upstream partitioning
    (many ~tens-of-MB files, one gzip stream each), which is the
    correct shape: parallelism = file count.  Prefer zstd/parquet for
    anything produced in-house; this operator exists for the files you
    DIDN'T produce."""
    return _csv_roundtrip(spark, sf_dir, "csv_gz_codec", compression="gzip")


@query(
    "scan_nested_struct_roundtrip",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS qty_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def scan_nested_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema parquet round trip: pack each order's lines into an
    ARRAY<STRUCT<linenumber, qty_cents>> (sorted by linenumber — a
    deterministic array, not arrival order), write parquet, read back,
    explode, and re-aggregate.  Exercises the nested read/write path —
    repeated groups, definition levels, struct field pruning — that
    flat-table queries never touch, and that every document/span store
    eventually needs (chunks-in-doc, frames-in-video are this shape).

    The re-aggregate equals the flat join's aggregate, so the nested
    round trip is fully oracle-checked: a dropped array element,
    reordered struct field, or precision-mangled value breaks the hash.
    Quantities ride as exact cents (the harness's no-doubles-through-
    explode lesson).

    Scale: the pack is one groupBy on the join key (arrays stay
    order-sized — bounded fan-in); nested parquet columns compress and
    prune like flat ones, and the explode is a narrow map-side op."""
    path = scratch_path("nested_struct")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("linenumber"),
            round_long(F.col("l_quantity") * 100).alias("qty_cents"),
        ).alias("line"),
    )
    nested = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("line")).alias("lines"))
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .select("o_orderkey", "o_orderpriority", "lines")
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.select(
            "o_orderpriority", F.explode("lines").alias("line")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("line.qty_cents")).cast("long").alias("qty_cents"),
        )
    )


@query(
    "scan_recursive_directory",
    oracle=_EVENT_TYPE_COUNTS_SQL,
)
def scan_recursive_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recursiveFileLookup ingest: two disjoint halves of events land at
    DIFFERENT directory depths (vendor drops and log shippers never
    agree on layout), then one reader walks the whole tree ignoring
    partition-directory semantics and the union count equals the direct
    aggregate — files found at any depth, none double-read.

    This is the opposite contract from partition discovery
    (sink_parquet_partitioned): recursiveFileLookup=true explicitly
    DISABLES partition inference, so directory names carry no schema —
    the right mode for heterogeneous-layout archive trees.

    Scale: file listing is driver-side metadata work — at millions of
    files push listing into the catalog/manifest layer; the scan
    itself parallelizes per file split as usual."""
    root = scratch_path("recursive_tree")
    ev = load(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(root, "shallow")
    )
    ev.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(root, "vendor", "2024", "deep")
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(EVENTS)
        .parquet(root)
    )
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "scan_aggregate_pushdown",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) + 0.0 AS min_value,
           MAX(value) + 0.0 AS max_value
    FROM events GROUP BY event_type
    """,
    # still in force when the caller plans the returned DataFrame
    conf={
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    },
)
def scan_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown: MIN/MAX/COUNT grouped by a partition
    column answered ENTIRELY from parquet footer statistics — the plan
    shows `PushedAggregation: [MIN(value), MAX(value), COUNT(*)]` and
    `PushedGroupBy: [event_type]` (plan-asserted in tests/test_plans.py)
    and the scan reads ZERO data pages.  At 100 TB this is the
    difference between a dashboard tile that costs a full-corpus scan
    and one that costs a metadata listing — the query author writes the
    same groupBy either way.

    Requires the DSv2 parquet reader plus `parquet.aggregatePushdown`,
    both declared as this query's ``conf``; min/max/count from footers
    are EXACT (footers record true row min/max), so the oracle is the
    plain aggregate.

    Pushdown silently degrades to a normal scan when rows carry NULLs
    in the aggregated column or the grouping key isn't a partition
    column — the plan test, not this docstring, is the contract."""
    path = scratch_path("agg_pushdown")
    ev = load(spark, sf_dir, "events").select("event_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # + 0.0 canonicalizes the IEEE signed zero: parquet footers may
    # surface -0.0 where a row-wise MIN surfaces +0.0 (measured at
    # sf0.1) — equal under <, different under a bit-exact hash
    return spark.read.parquet(path).groupBy("event_type").agg(
        (F.min("value") + F.lit(0.0)).alias("min_value"),
        (F.max("value") + F.lit(0.0)).alias("max_value"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
