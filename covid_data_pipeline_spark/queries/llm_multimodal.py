"""§2.10 Multimodal (binary) columns (mandated LLM-pipeline extension).

Reference analogue: specialized_capture screenshots — PNG blobs stored
alongside page versions.  Model: opaque ``BinaryType`` payload + typed
metadata columns; decode / feature-extraction runs as Arrow-batched
Pandas UDFs over ``mapInPandas`` so bytes never round-trip through
Python row-at-a-time.

The actual image/audio decode is STUBBED (no codec libraries in this
environment, and fixtures carry no real media): ``decode_image_stub``
derives deterministic fake (width, height, mode) metadata from the
payload bytes.  Everything Spark-side — schema,
partition-preserving mapInPandas plumbing, Arrow batch shapes — is real
and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load
from ..registry import query


@query(
    "multimodal_binary",
    oracle="""
    SELECT source,
           COUNT(*) AS n_payloads,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
           MIN(sha256(text)) AS min_digest
    FROM documents
    GROUP BY source
    """,
)
def multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload handling: synthesize deterministic blobs from doc
    text (fixtures are read-only — FIXTURES.md mandates cast-at-query-
    time), then per-source byte accounting + content digests, the
    screenshot-archive bookkeeping of the reference."""
    d = load(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum(F.length(payload)).alias("total_bytes"),
        F.min(F.sha2(payload, 256)).alias("min_digest"),
    )


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("thumb_bytes", T.IntegerType()),
    ]
)


def decode_image_stub(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake decode: metadata derived from payload bytes.

    A production build swaps this for PIL/libvips behind the identical
    signature; the Spark plumbing (schema, batching, partitioning) is
    unchanged.
    """
    n = len(payload)
    return (64 + n % 192, 64 + (n * 7) % 192, "RGB" if n % 2 == 0 else "L")


@query(
    "multimodal_decode_pipeline",
    oracle="""
    SELECT doc_id, source,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
           CAST(64 + octet_length(CAST(text AS BLOB)) % 192 AS INTEGER) AS width,
           CAST(64 + (octet_length(CAST(text AS BLOB)) * 7) % 192 AS INTEGER)
               AS height,
           CASE WHEN octet_length(CAST(text AS BLOB)) % 2 = 0
                THEN 'RGB' ELSE 'L' END AS mode,
           CAST(((64 + octet_length(CAST(text AS BLOB)) % 192) // 4)
                * ((64 + (octet_length(CAST(text AS BLOB)) * 7) % 192) // 4)
                AS INTEGER) AS thumb_bytes
    FROM documents
    """,
)  # the codec is stubbed, but the stub is deterministic arithmetic on the
   # payload bytes — so the full mapInPandas round trip IS hash-checkable
def multimodal_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode / feature-extract / thumbnail shape over binary
    columns via mapInPandas: Arrow batches of (id, payload) in, typed
    metadata out.  One Python worker per partition, zero shuffles; at
    100 TB this is the pattern for frame-sampling and feature
    extraction (repartition by size-balanced key first if payloads are
    skewed)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("text").cast("binary").alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_image_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "mode": [m[2] for m in meta],
                    # "thumbnail": deterministic downsample size (w/4 x h/4)
                    "thumb_bytes": [(m[0] // 4) * (m[1] // 4) for m in meta],
                }
            )

    return d.mapInPandas(decode_batches, schema=_DECODE_SCHEMA)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def frame_count_stub(payload: bytes) -> int:
    """Deterministic fake container probe: frame count derived from the
    payload length.  Same stub boundary contract as decode_image_stub."""
    return 4 + len(payload) % 29


@query(
    "multimodal_framesample",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               4 + octet_length(CAST(text AS BLOB)) % 29 AS n_frames
        FROM documents
    )
    SELECT doc_id,
           CAST(g AS INTEGER) AS frame_idx,
           CAST(n_frames AS INTEGER) AS n_frames,
           sha256(text || ':' || CAST(g AS VARCHAR)) AS frame_digest
    FROM (SELECT doc_id, text, n_frames,
                 unnest(range(0, n_frames, 4)) AS g
          FROM t)
    """,
)  # stubbed codec, deterministic arithmetic -> hash-checkable fan-out
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like binary columns: each payload is
    probed for its frame count (stubbed), every 4th frame is sampled,
    and one output row is emitted per sampled frame with a deterministic
    per-frame digest — the training-data shape for video corpora (one
    input blob fans out to N frame rows).

    The per-frame digest is sha256(payload || ':' || frame_idx) — the
    ':'-delimited ASCII form (not packed big-endian bytes) so the SAME
    bytes are expressible in the DuckDB oracle, upgrading this query
    from rows-only to fully hash-checked like its audio/image siblings.

    mapInPandas keeps the fan-out INSIDE the Python worker (an Arrow
    batch in, a larger Arrow batch out) — no explode shuffle, no
    row-at-a-time serde.  At 100 TB: repartition by a size-balanced key
    first so one giant video can't straggle a task, and cap frames
    per payload (here: the stub's modulus) the way a real sampler caps
    decode work."""
    import hashlib

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_frames": [], "frame_digest": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = frame_count_stub(payload)
                for idx in range(0, n, 4):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(n)
                    out["frame_digest"].append(
                        hashlib.sha256(
                            payload + b":" + str(idx).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    return d.mapInPandas(sample_frames, schema=_FRAME_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("feature_digest", T.StringType()),
    ]
)


def probe_audio_stub(payload: bytes) -> tuple[int, int]:
    """Deterministic fake audio probe: (sample_rate, duration_ms) derived
    from payload bytes.  Same stub boundary contract as
    decode_image_stub — a production build swaps in soundfile/ffmpeg
    behind the identical signature."""
    rates = (8000, 16000, 22050, 44100)
    return rates[len(payload) % 4], 500 + (len(payload) * 13) % 9500


@query(
    "multimodal_audio_features",
    oracle="""
    WITH t AS (SELECT doc_id, text,
                      octet_length(CAST(text AS BLOB)) AS n,
                      500 + (octet_length(CAST(text AS BLOB)) * 13) % 9500 AS dur
               FROM documents)
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_bytes,
           CAST(CASE n % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                           WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
               AS sample_rate,
           CAST(dur AS INTEGER) AS duration_ms,
           CAST(ceil(CAST(dur AS DOUBLE) / 250) AS INTEGER) AS n_windows,
           sha256(text) AS feature_digest
    FROM t
    """,
)  # stubbed codec, deterministic arithmetic -> hash-checkable round trip
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over binary columns: probe (stubbed) for
    sample rate + duration, window into 250 ms hops, and emit one
    feature row per payload with the window count and a deterministic
    digest standing in for the MFCC/fbank tensor — the
    speech-training-data shape (one blob -> fixed-rate feature frames).

    Same mapInPandas doctrine as the image/video twins: Arrow batch in,
    typed metadata out, no shuffle, no per-row serde; the feature tensor
    itself would be a BinaryType column at 100 TB (Arrow-packed floats),
    written back alongside the payload for the training reader."""
    import hashlib

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_bytes": [], "sample_rate": [],
                "duration_ms": [], "n_windows": [], "feature_digest": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, dur = probe_audio_stub(payload)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["sample_rate"].append(rate)
                out["duration_ms"].append(dur)
                out["n_windows"].append(-(-dur // 250))
                out["feature_digest"].append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(out)

    return d.mapInPandas(extract, schema=_AUDIO_SCHEMA)


@query(
    "multimodal_blockhash_dedup",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -2 * doc_id - 1 AS doc_id, text
        FROM documents WHERE doc_id % 40 = 0
        UNION ALL
        SELECT -2 * doc_id - 2 AS doc_id,
               substr(text, 1, len(text) - 1) || 'x' AS text
        FROM documents WHERE doc_id % 40 = 7
    ),
    d AS (
        SELECT doc_id, text, len(text) AS L, len(text) // 4 AS s
        FROM corpus
    ),
    q AS (
        SELECT doc_id, b.band,
               md5(substr(text, 1 + (b.band - 1) * s,
                          CASE WHEN b.band = 4 THEN L - 3 * s ELSE s END))
                   AS qh
        FROM d, (SELECT unnest([1, 2, 3, 4]) AS band) b
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(COUNT(*) AS BIGINT) AS shared_bands
        FROM q a
        JOIN q b ON b.band = a.band AND b.qh = a.qh
                AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, shared_bands,
           CASE WHEN shared_bands = 4 THEN 'full' ELSE 'partial' END
               AS dup_kind
    FROM pairs
    """,
)
def multimodal_blockhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable BLOCK-HASH dedup over binary payloads — the
    asset-store move (chunk the blob, hash each chunk, join on chunk
    hash) that finds both full duplicates and shared-prefix partials
    without ever comparing payloads pairwise: each payload splits into
    4 position-defined blocks, blocks join on (band, md5), and the
    per-pair shared-block count classifies full vs partial duplication.

    Fixture honesty (the dedup_source_report doctrine): the raw corpus
    has near-zero block collisions below sf0.1 (measured — 0 at
    sf0.001/sf0.01), so the query seeds TWO deterministic feeds in
    disjoint negative id spaces (-2k-1: verbatim mirror of every
    doc_id %% 40 == 0; -2k-2: tail-mutant of every doc_id %% 40 == 7,
    last char replaced so lengths — and hence block boundaries — are
    preserved while only block 4 changes).  Both the shared=4 and
    shared<4 branches are then witnessed at every scale factor.

    The stubbed-codec rule doesn't apply here: block hashing operates
    on raw bytes BY DESIGN (the production path for image/video asset
    dedup is exactly this, no decode), so the whole operator is
    codegen and oracle-checkable.  At 100 TB: one explode (x4), one
    shuffle on the block hash — group sizes bounded by true content
    duplication, never corpus-quadratic; the same plan with a rolling
    Rabin boundary gives content-defined chunks."""
    d0 = load(spark, sf_dir, "documents")
    mirror = d0.filter(F.col("doc_id") % 40 == 0).select(
        (-2 * F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    L0 = F.length("text")
    mutant = d0.filter(F.col("doc_id") % 40 == 7).select(
        (-2 * F.col("doc_id") - 2).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), F.lit(1), L0 - 1), F.lit("x")
        ).alias("text"),
    )
    corpus = d0.select("doc_id", "text").unionByName(mirror).unionByName(mutant)
    L = F.length("text")
    s = F.floor(L / 4).cast("int")
    d = corpus.select("doc_id", "text", L.alias("L"), s.alias("s"))
    q = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("band"),
        "text",
        "L",
        "s",
    ).select(
        "doc_id",
        "band",
        F.md5(
            F.substring(
                F.col("text"),
                F.lit(1) + (F.col("band") - 1) * F.col("s"),
                F.when(F.col("band") == 4, F.col("L") - 3 * F.col("s"))
                .otherwise(F.col("s"))
                .cast("int"),
            )
        ).alias("qh"),
    )
    right = q.select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("band"),
        F.col("qh").alias("qh"),
    )
    pairs = (
        q.select(F.col("doc_id").alias("a_id"), "band", "qh")
        .join(right, ["band", "qh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )
    return pairs.select(
        "a_id",
        "b_id",
        "shared_bands",
        F.when(F.col("shared_bands") == 4, F.lit("full"))
        .otherwise(F.lit("partial"))
        .alias("dup_kind"),
    )


@query(
    "multimodal_exact_bytes_dedup",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -2 * doc_id - 1 AS doc_id, text
        FROM documents WHERE doc_id % 40 = 0
    ),
    hashed AS (
        -- DuckDB's sha256 takes VARCHAR; the digest of the utf-8 text
        -- equals Spark's digest of the utf-8-encoded binary payload
        SELECT doc_id, sha256(text) AS digest,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        FROM corpus
    ),
    grouped AS (
        SELECT digest,
               CAST(MIN(n_bytes) AS BIGINT) AS n_bytes,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        FROM hashed GROUP BY digest
    )
    SELECT digest, n_bytes, n_copies, canonical_id,
           CAST((n_copies - 1) * n_bytes AS BIGINT) AS reclaimable_bytes
    FROM grouped WHERE n_copies >= 2
    """,
)
def multimodal_exact_bytes_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-level asset dedup: sha-256 the raw binary payload,
    group, keep min-id canonical, report reclaimable bytes — STEP ONE
    of every asset store's dedup ladder (before block hashes catch
    partials and perceptual hashes catch re-encodes, content
    addressing catches the literal re-uploads, which in practice is
    most of the savings).  No codec involved — raw bytes by design, so
    the whole operator is codegen and oracle-checked.

    Fixture honesty (the multimodal_blockhash_dedup doctrine): the raw
    corpus has no byte-identical payloads, so every doc_id % 40 == 0
    payload is mirrored into the disjoint negative id space -2k-1 —
    the duplicate branch is then witnessed at every scale factor, and
    canonical ids (the positive originals) are asserted by the min-id
    rule.

    Scale: one map-side hash + one shuffle on the digest — group sizes
    bounded by true duplication; the digest table IS the
    content-addressed index a production store keeps hot."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    mirror = (
        d.filter(F.col("doc_id") % 40 == 0)
        .select(
            (F.lit(-2) * F.col("doc_id") - 1).alias("doc_id"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    corpus = base.unionByName(mirror)
    hashed = corpus.select(
        "doc_id",
        F.sha2("payload", 256).alias("digest"),
        F.length("payload").cast("long").alias("n_bytes"),
    )
    grouped = hashed.groupBy("digest").agg(
        F.min("n_bytes").cast("long").alias("n_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("canonical_id"),
    )
    return grouped.filter(F.col("n_copies") >= 2).select(
        "digest",
        "n_bytes",
        "n_copies",
        "canonical_id",
        ((F.col("n_copies") - 1) * F.col("n_bytes"))
        .cast("long")
        .alias("reclaimable_bytes"),
    )
