"""Training-data preparation operators: the verbs that turn a raw
document corpus into LLM training input — chunking, mixture weighting,
deterministic splits, PII scrubbing, embedding quantization.

Reference analogue: the pipeline's extract stage produced per-page text
destined for human analysts; these operators are the mandated
LLM-pipeline generalization of that output side (BASELINE.json:6) —
what a 100 TB corpus needs between "cleaned text exists" and "tokens
reach a trainer".

Determinism doctrine (shared with corpus.py): anything that samples or
splits uses an explicit multiplicative integer hash of the key, never
``rand()``/``df.sample`` — the same rows are chosen on every run, every
engine, every partitioning, which is what makes a 100 TB job resumable
and auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import NARROW_SHUFFLE, load
from ..registry import query
from ._helpers import DEC, KNUTH_MOD, KNUTH_MULT, davg, sql_davg


_CHUNK_LEN = 200
_CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks

# Mixture weights: epochs per source — >1 upsamples (repeats), <1
# downsamples (hash-gated keep), integer+fractional split kept in ints
# so no float compare is involved in the row-multiplication decision.
_MIX = {  # source -> (whole_epochs, fractional_pct)
    "src0": (3, 0),  # 3.0 epochs
    "src3": (2, 50),  # 2.5 epochs
    "src7": (1, 25),  # 1.25 epochs
    "src11": (0, 75),  # 0.75 epochs
    "src15": (0, 30),  # 0.30 epochs
    "src19": (1, 0),  # 1.0 epoch
}


@query(
    "doc_chunk_overlap",
    oracle=f"""
    SELECT doc_id,
           (s - 1) // {_CHUNK_STRIDE} AS chunk_idx,
           length(substring(text, CAST(s AS INT), {_CHUNK_LEN})) AS chunk_len,
           sha256(substring(text, CAST(s AS INT), {_CHUNK_LEN})) AS chunk_hash
    FROM (
        SELECT doc_id, text, unnest(generate_series(1, n_chars, {_CHUNK_STRIDE})) AS s
        FROM documents
    )
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — fixed-size overlapping chunks
    (len 200, stride 150), the standard context-window prep for
    embedding or training over long documents.

    Shape: per-row ``sequence(1, n_chars, stride)`` exploded then
    ``substring`` — a pure map-side generator, no shuffle, no Python;
    output rows ≈ corpus_chars / stride regardless of document count.
    At 100 TB the fan-out is bounded per input split, so task memory is
    flat; chunk text itself is hashed here (hash + len are what dedup
    and length-balancing consume) rather than re-materialized."""
    d = load(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        "text",
        F.explode(
            F.expr(f"sequence(1L, CAST(n_chars AS LONG), {_CHUNK_STRIDE}L)")
        ).alias("s"),
    )
    chunk = F.expr(f"substring(text, CAST(s AS INT), {_CHUNK_LEN})")
    return chunks.select(
        "doc_id",
        ((F.col("s") - 1) / F.lit(_CHUNK_STRIDE)).cast("long").alias("chunk_idx"),
        F.length(chunk).alias("chunk_len"),
        F.sha2(chunk, 256).alias("chunk_hash"),
    )


@query(
    "corpus_mixture_epochs",
    oracle=f"""
    WITH w(source, whole, fpct) AS (VALUES
        {", ".join(f"('{s}', {a}, {b})" for s, (a, b) in _MIX.items())}
    ),
    picked AS (
        SELECT d.doc_id, d.source,
               w.whole + CASE WHEN (d.doc_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 < w.fpct
                              THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w ON d.source = w.source
    )
    SELECT doc_id, source, unnest(generate_series(1, n_copies)) AS copy_idx
    FROM picked WHERE n_copies >= 1
    """,
)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting — per-source epoch counts applied to the
    corpus: sources with weight >1 are repeated (upsampled), weight <1
    hash-gated (downsampled), fractional parts resolved per-document by
    the deterministic key hash.  This is how training mixtures
    ("3 epochs of wiki, 0.3 of crawl") become a materialized row set.

    Shape: broadcast the weight table (a handful of rows), one map-side
    explode of ``sequence(1, n_copies)`` — the corpus never shuffles,
    and the output is reproducible row-for-row, so a resumed 100 TB run
    regenerates the identical mixture."""
    d = load(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        [(s, a, b) for s, (a, b) in _MIX.items()],
        "source string, whole int, fpct int",
    )
    n_copies = F.col("whole") + F.when(
        (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD % 100 < F.col("fpct"), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(w), "source")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1L, CAST(n_copies AS LONG))")).alias(
                "copy_idx"
            ),
        )
    )


@query(
    "corpus_split_hash",
    oracle=f"""
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs, {sql_davg("n_chars")} AS avg_chars
    FROM (SELECT lang, n_chars, (doc_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 AS b
          FROM documents)
    GROUP BY 1, 2
    """,
)
def corpus_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (80/10/10) by key hash, with
    per-(split, lang) size and length profile — the leak-proof split:
    membership is a pure function of doc_id, so re-runs, backfills, and
    incremental appends can never move a document across the boundary
    (the failure mode of ``randomSplit``, whose assignment depends on
    partitioning and seed plumbing).

    Map-side bucket computation + one skinny aggregate; at 100 TB the
    split column is typically materialized at ingest and this query is
    the audit that distributions stayed balanced."""
    d = load(spark, sf_dir, "documents")
    b = (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    ).alias("split")
    return d.groupBy(split, "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
    )


# POSIX-safe patterns shared verbatim by both engines.
_PAT_EMAIL = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]"
_PAT_PHONE = "555-[0-9]+"


@query(
    "text_pii_redact",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(injected, '{_PAT_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(injected, '{_PAT_PHONE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(length(injected) - length(
               regexp_replace(regexp_replace(injected, '{_PAT_EMAIL}', '<EMAIL>', 'g'),
                              '{_PAT_PHONE}', '<PHONE>', 'g')
           )) AS BIGINT) AS len_delta
    FROM (
        SELECT source,
               text || ' contact u' || doc_id || '@ex' || (doc_id % 7) ||
               '.com or 555-0' || (doc_id % 100) AS injected
        FROM documents
    )
    GROUP BY source
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — regex redaction of emails and phone-shaped tokens
    with per-source audit counts.  The fixture corpus is synthetic word
    soup, so deterministic PII is first INJECTED (a doc_id-derived email
    + phone per document), then redacted; the audit proves every
    injected token was caught.

    Pure map-side regexp work in whole-stage codegen (no Python, no
    shuffle beyond the final skinny aggregate).  At 100 TB redaction is
    the canonical "cheap scan, run it early" pass; counts-by-source is
    the compliance artifact.  Dialect note: Spark ``regexp_replace``
    replaces all matches by default, DuckDB needs the explicit ``'g'``
    flag (SURVEY §2.8)."""
    d = load(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id"),
        F.lit("@ex"),
        F.col("doc_id") % 7,
        F.lit(".com or 555-0"),
        F.col("doc_id") % 100,
    )
    di = d.select("source", injected.alias("injected"))
    redacted = F.regexp_replace(
        F.regexp_replace("injected", _PAT_EMAIL, "<EMAIL>"),
        _PAT_PHONE,
        "<PHONE>",
    )
    return di.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.regexp_extract_all("injected", F.lit(_PAT_EMAIL), F.lit(0)))
        ).alias("n_emails"),
        F.sum(
            F.size(F.regexp_extract_all("injected", F.lit(_PAT_PHONE), F.lit(0)))
        ).alias("n_phones"),
        F.sum(F.length("injected") - F.length(redacted)).alias("len_delta"),
    )


@query(
    "embed_quantize_int8",
    oracle="""
    SELECT vec_id, scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           list_min(q) AS q_min, list_max(q) AS q_max,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [(v[i] - q[i] / scale) * (v[i] - q[i] / scale) FOR i IN range(1, 65)]),
               (acc, x) -> acc + x) AS sq_err
    FROM (
        SELECT vec_id, v, scale,
               [CAST(floor(x * scale + 0.5) AS INT) FOR x IN v] AS q
        FROM (
            SELECT vec_id, v, 127.0 / list_max([abs(x) FOR x IN v]) AS scale
            FROM (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
                  FROM embeddings)
        )
    )
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — per-vector
    scale = 127/max|x|, elements mapped to floor(x*scale + 0.5) in
    [-127, 127] — the 4x storage/bandwidth shrink every vector index at
    100 TB applies before ANN search; sq_err is the per-vector
    reconstruction error that audits the precision loss.

    Pure per-row map (transform + ordered folds), no shuffle, whole-
    stage codegen.  ``floor(x + 0.5)`` is the rounding both engines
    compute bit-identically — bare round() is HALF_UP in Spark vs
    HALF_EVEN in DuckDB (SURVEY §2.8) so it can never appear in an
    oracle-checked quantizer.  Integer q_sum/min/max are order-free;
    sq_err folds in element order, matching DuckDB list_reduce exactly
    (same doctrine as sim_normalize_embeddings)."""
    e = load(spark, sf_dir, "embeddings")
    ed = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    scale = F.lit(127.0) / F.array_max(F.transform("v", F.abs))
    withq = ed.select(
        "vec_id",
        "v",
        scale.alias("scale"),
    ).select(
        "vec_id",
        "v",
        "scale",
        F.transform(
            "v", lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int")
        ).alias("q"),
    )
    sq = F.zip_with(
        "v",
        "q",
        lambda x, qi: (x - qi / F.col("scale")) * (x - qi / F.col("scale")),
    )
    return withq.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.aggregate(sq, F.lit(0.0), lambda a, x: a + x).alias("sq_err"),
    )


def kmeans_lloyd(
    spark: SparkSession, sf_dir: str, iters: int = 3, k: int = 10
) -> tuple[DataFrame, list[float]]:
    """Lloyd's k-means over the embedding table: deterministic init
    (centroids = the k lowest vec_ids), assign/update iterated
    ``iters`` times.  Returns (per-cluster summary DF, per-iteration
    costs) — the costs list is the monotonicity witness for tests.

    Distributed shape per iteration: candidates = corpus x BROADCAST
    centroids (k rows — model state, legitimately driver-held between
    iterations, unlike data); nearest via min(struct(dist, cid))
    hash-aggregate — map-side combinable, no sort, one shuffled row per
    vector, with ties broken on cid deterministically; update via
    posexplode + DECIMAL-exact per-(cluster, dim) means (bit-identical
    at any partitioning, same doctrine as sim_label_centroids).  Only
    k x dim doubles ever reach the driver per iteration; at 100 TB
    mini-batch the update step and persist assignments only on the
    final iteration.

    Shuffle width: every post-scan stage here is MODEL-sized (one row
    per vector -> k x dim cells), so the loop runs NARROW regardless of
    core count (the caller's ``conf``: sim_kmeans_lloyd registers
    NARROW_SHUFFLE) — SCALE.md "Measured: strong scaling across core
    counts" (ea6ce32:experiments/cpu_scaling.py) measured the wide
    version scaling NEGATIVELY (3.12 s at 4c -> 3.92 s at 32c).  Narrowing
    recovers only part of that (3.9 -> 3.7 s at 32c, measured): the
    remaining latency is per-ROUND fixed cost — a centroid broadcast
    plus two actions per iteration, nine driver-scheduled jobs total —
    so wall time is iteration-count-bound, not core-bound.  That is the
    real 100 TB lesson for iterative trainers: reduce rounds (mini-batch,
    better init), because no partitioning dial amortizes per-round job
    latency.  At 100 TB the corpus-sized assignment map still
    parallelizes with the scan; only the shuffled aggregates stay
    narrow."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        # narrow the CACHED corpus too: each iteration maps it 2-3 times,
        # and at fixture scale 32 near-empty tasks per map stage per
        # round is pure scheduling overhead (SCALE.md "Measured: strong
        # scaling across core counts") — size
        # partitions to data, not cores
        .coalesce(8)
        .cache()
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in e.orderBy("vec_id").limit(k).collect()
    ]
    costs: list[float] = []
    for _ in range(iters):
        # squared L2 QUANTIZED per dimension to integer 1e-12 units and
        # summed as int64: integer addition is order-free, so the
        # distance — and therefore every assignment, tie-break, and
        # cost — is bit-identical at any partitioning AND across engines
        # (the graph_pagerank quantized-iteration idiom, round-9
        # promotion).  The quantizer is written as a double->long CAST,
        # not F.floor: Spark's cast truncates toward zero, which IS
        # floor for these always-non-negative terms, and it benches at
        # the unquantized fold's speed where the floor intrinsic costs
        # +18% (measured; the DuckDB oracle says floor() because
        # DuckDB's CAST rounds — the documented cross-engine trap).
        def d2q(c):
            return F.aggregate(
                F.zip_with(
                    "v",
                    c,
                    lambda x, y: (
                        (x - y) * (x - y) * F.lit(1e12) + F.lit(0.5)
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )

        # r12 (guide §2.4, the sim_pq_adc_rerank rewrite): the centroids
        # are a driver-side list, so the candidate set is a LITERAL array
        # column — no broadcast-join row blowup, and the nearest centroid
        # evaluates MAP-SIDE as array_min over (d2q, cid) structs
        # (array_min's lexicographic struct order IS min(struct(d2q,
        # cid)): identical dist-then-cid tie-break on the identical
        # quantized-integer distance).  The round's only exchange left is
        # the (cid, pos) rollup below.
        cand_arr = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"),
                    F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
                )
                for cid, vec in cents
            ]
        )
        best = e.select(
            "vec_id",
            "v",
            F.array_min(
                F.transform(
                    cand_arr,
                    lambda c: F.struct(
                        d2q(c.getField("c")).alias("d2q"),
                        c.getField("cid").alias("cid"),
                    ),
                )
            ).alias("s"),
        ).select(
            "vec_id", "v", F.col("s.cid").alias("cid"), F.col("s.d2q").alias("d2q")
        )
        # ONE action per round (r11 — was two: a cost agg + a means
        # collect over a persisted assignment, i.e. 2 driver-scheduled
        # jobs/round plus cache churn; the wall time of this trainer is
        # round-latency-bound, see docstring).  The (cid, pos) rollup
        # carries everything: the decimal-exact dimension mean, the
        # member count (count at any pos = cluster size), and the
        # per-cluster d2q total (sum at pos 0 — each member contributes
        # its d2q exactly once per pos).  Integer d2q partials re-sum
        # exactly in Python (arbitrary-precision ints), so cost and the
        # final summary are bit-identical to the old two-action form.
        stats = (
            best.select("cid", "d2q", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.col("x").cast(DEC)).cast("double") / F.count("x")).alias("m"),
                F.count("x").cast("long").alias("n"),
                F.sum("d2q").alias("sd"),
            )
            .collect()
        )
        costs.append(
            float(sum(r["sd"] for r in stats if r["pos"] == 0)) / 1e12
        )
        by_cid: dict[int, list[float]] = {}
        cluster_rows: dict[int, tuple[int, int]] = {}
        for r in stats:
            by_cid.setdefault(r["cid"], [0.0] * 64)[r["pos"]] = r["m"]
            if r["pos"] == 0:
                cluster_rows[r["cid"]] = (r["n"], r["sd"])
        cents = [(cid, vec) for cid, vec in sorted(by_cid.items())]
    # the final round's rollup already holds the summary — no extra
    # action, and nothing embeddings-sized was ever cached beyond the
    # corpus projection (released below; the session is shared with
    # ~400 other queries)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("n_members", T.LongType(), False),
            T.StructField("cost", T.DoubleType(), True),
        ]
    )
    rows = [
        (cid, n, float(sd) / 1e12) for cid, (n, sd) in sorted(cluster_rows.items())
    ]
    e.unpersist()
    return spark.createDataFrame(rows, schema), costs


# Static unroll of kmeans_lloyd's 3 Lloyd rounds (the graph_pagerank /
# ts_pacf idiom): every cross-engine float hazard is removed by
# construction — per-dimension squared deltas quantized to integer
# 1e-12 units (order-free BIGINT sums decide assignments and ties),
# centroid means as DECIMAL(28,6)-exact sums over RAW corpus doubles
# (never over computed floats) followed by one IEEE division.  Identical
# inputs + identical IEEE ops per round => bit-identical assignments,
# centroids, and costs on both engines.
_KM_K = 10
_KM_ITERS = 3


def _km_oracle() -> str:
    it = """
    a{k} AS (
        SELECT vec_id, v, cid, d2q
        FROM (
            SELECT vv.vec_id, vv.v, cc.cid,
                   CAST(list_sum(
                       [CAST(floor((vv.v[i] - cc.c[i]) * (vv.v[i] - cc.c[i])
                                   * 1e12 + 0.5) AS BIGINT)
                        FOR i IN range(1, 65)]) AS BIGINT) AS d2q
            FROM v vv CROSS JOIN c{k} cc
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY d2q, cid) = 1
    ),
    c{k1} AS (
        SELECT cid, list(m ORDER BY pos) AS c
        FROM (
            SELECT cid, pos,
                   CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(x) AS m
            FROM (SELECT cid, generate_subscripts(v, 1) AS pos,
                         unnest(v) AS x
                  FROM a{k})
            GROUP BY cid, pos
        )
        GROUP BY cid
    )"""
    iters = ",".join(it.format(k=k, k1=k + 1) for k in range(_KM_ITERS - 1))
    last = _KM_ITERS - 1
    return f"""
    WITH v AS (
        SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(vec_id AS INT) AS cid, v AS c
        FROM v ORDER BY vec_id LIMIT {_KM_K}
    ),
    {iters},
    a{last} AS (
        SELECT vec_id, cid, d2q
        FROM (
            SELECT vv.vec_id, cc.cid,
                   CAST(list_sum(
                       [CAST(floor((vv.v[i] - cc.c[i]) * (vv.v[i] - cc.c[i])
                                   * 1e12 + 0.5) AS BIGINT)
                        FOR i IN range(1, 65)]) AS BIGINT) AS d2q
            FROM v vv CROSS JOIN c{last} cc
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY d2q, cid) = 1
    )
    SELECT cid, COUNT(*) AS n_members,
           CAST(CAST(SUM(d2q) AS BIGINT) AS DOUBLE) / 1e12 AS cost
    FROM a{last} GROUP BY cid
    """


# model-sized shuffles: see kmeans_lloyd's "Shuffle width"
@query("sim_kmeans_lloyd", oracle=_km_oracle(), conf=NARROW_SHUFFLE)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering (3 Lloyd iterations, k=10) over embeddings —
    the genuinely iterative algorithm of the suite and the real trainer
    for the IVF coarse quantizer that sim_ann_ivf fakes with labels.
    Per-cluster member counts + within-cluster cost; convergence
    (non-increasing cost) and exactness properties are asserted in
    tests/test_llm_ops.py.  See :func:`kmeans_lloyd` for the
    distributed shape.

    ORACLE-BACKED (round-9 promotion from rows-only): the three rounds
    are statically unrolled into DuckDB CTEs (_km_oracle), legal because
    the iteration was made cross-engine exact — integer-quantized
    distances decide assignments (order-free sums, deterministic
    dist-then-cid ties) and centroid means are decimal-exact over raw
    corpus values only.  The Spark side keeps its iterative
    driver-coordinated shape (the honest 100 TB form); the oracle proves
    the arithmetic, not the orchestration."""
    summary, _ = kmeans_lloyd(spark, sf_dir, iters=3, k=10)
    return summary


_PCA_K = 8


def _vec_d(col):
    """float32 array -> double array (cast before arithmetic)."""
    return F.transform(col, lambda x: x.cast("double"))


@query("sim_pca_project", oracle=None)  # rows-only: eigvecs sign/order are numpy's
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus to {8} components — the
    dimensionality-reduction step before cheap ANN / clustering /
    visualization in an embedding pipeline.

    Split exactly like distributed PCA at 100 TB:
    1. DATA-SIZED work in Spark: ONE ``mapInPandas`` pass computes
       per-partition (count, sum-vector, 64x64 Gramian) partials with a
       numpy matmul over each Arrow batch — every task ships exactly
       64 + 4096 doubles no matter how many rows it scanned, so the
       "shuffle" is one model-sized row per partition.  (Round 2 built
       the moment matrix by posexploding each row into 64 cells and
       self-joining — a 4,096x row fan-out with the same O(dim^2)
       shuffle bound but ~10x the CPU; the Gramian partial keeps the
       bound and drops the fan-out.)
    2. MODEL-SIZED work on the driver: combine the partials and
       eigendecompose the 64x64 covariance (numpy) — model state, like
       k-means centroids (sim_kmeans_lloyd), not a data collect.
    3. Projection back in Spark: components broadcast inside the plan
       as literals, per-row dot products in codegen'd higher-order
       functions, output exploded to (vec_id, pc, value) scalars.

    Rows-only: eigenvector sign and near-degenerate ordering are
    numpy-implementation detail; variance ordering + reconstruction
    quality are asserted in tests/test_llm_ops.py instead.

    Driver sees (sf0.01): 4000 rows; columns (vec_id, pc, value).
    """
    import numpy as np

    e = load(spark, sf_dir, "embeddings")

    def _partials(batches):
        import numpy as _np
        import pandas as _pd

        cnt, s, g = 0, _np.zeros(64), _np.zeros((64, 64))
        for pdf in batches:
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            cnt += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if cnt:
            yield _pd.DataFrame(
                {"cnt": [cnt], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = (
        e.select("embedding")
        .mapInPandas(_partials, schema="cnt long, s array<double>, g array<double>")
        .collect()  # model-sized: one (count, sums, Gramian) row per partition
    )
    n = sum(r["cnt"] for r in parts)
    mu = np.sum([r["s"] for r in parts], axis=0) / n
    moment = np.sum([np.array(r["g"]).reshape(64, 64) for r in parts], axis=0)
    cov = moment / n - np.outer(mu, mu)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    comps = eigvecs[:, ::-1][:, :_PCA_K]  # top-k columns, descending variance
    # 3) projection: components as literal arrays, dot product in codegen
    centered = F.zip_with(
        _vec_d("embedding"),
        F.array(*[F.lit(float(m)) for m in mu]),
        lambda x, m: x - m,
    )
    proj_cols = []
    for k in range(_PCA_K):
        comp = F.array(*[F.lit(float(c)) for c in comps[:, k]])
        dot = F.aggregate(
            F.zip_with(centered, comp, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        proj_cols.append(dot.alias(f"pc{k}"))
    wide = e.select("vec_id", *proj_cols)
    stack_expr = ", ".join(f"{k}, pc{k}" for k in range(_PCA_K))
    return wide.select(
        "vec_id",
        F.expr(f"stack({_PCA_K}, {stack_expr}) AS (pc, value)"),
    )


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    z AS (
        SELECT SUM(n_docs) AS n_total,
               list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list_transform(list(n_docs ORDER BY source),
                                               x -> sqrt(CAST(x AS DOUBLE)))),
                   (acc, x) -> acc + x) AS z_norm
        FROM per
    )
    SELECT source,
           n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / n_total, 6) AS raw_share,
           ROUND(sqrt(CAST(n_docs AS DOUBLE)) / z_norm, 6) AS temp_share,
           ROUND(sqrt(CAST(n_docs AS DOUBLE)) / z_norm
                 / (CAST(n_docs AS DOUBLE) / n_total), 6) AS boost
    FROM per CROSS JOIN z
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVE temperature-scaled mixture weights from the corpus itself
    (UniMax / multilingual-sampling style): a domain's sampling share is
    n^(1/T) / sum(n^(1/T)) with T=2, so small domains are boosted and
    head domains damped relative to raw proportions.  This is the step
    BEFORE corpus_mixture_epochs — that operator APPLIES a given weight
    table; this one computes it, with the boost factor
    (temp_share/raw_share) being the per-domain epoch multiplier a
    trainer would feed back in.

    Cross-engine float discipline: the normalizer sum(sqrt(n)) folds
    LEFT over the per-source counts in a FIXED order (sorted by source)
    in both engines — the _SQL_DOT pattern — so the doubles match
    bit-for-bit; sqrt is IEEE-exact, T=2 chosen so the power is sqrt,
    not libm pow.

    Scale shape: one partial-aggregated groupBy on source (domain
    cardinality is tiny at any corpus size), one 1-row broadcast back —
    the corpus itself never shuffles."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    z = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("source"), F.col("n_docs")))
                ),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z_norm"),
    )
    nd = F.col("n_docs").cast("double")
    raw_share = nd / F.col("n_total")
    temp_share = F.sqrt(nd) / F.col("z_norm")
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(temp_share, 6).alias("temp_share"),
        F.round(temp_share / raw_share, 6).alias("boost"),
    )


_JL_K = 16            # output dims (64 -> 16, a 4x reduction)
_JL_PRIME = 1_000_003
_JL_HALF = 1 << 31


@query(
    "embed_random_projection",
    oracle=f"""
    WITH js AS (SELECT unnest(range(0, {_JL_K})) AS j),
    v AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS vec
          FROM embeddings)
    SELECT vec_id, CAST(j AS INTEGER) AS j,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [CASE WHEN (CAST(i - 1 AS BIGINT) * {_JL_PRIME} + j)
                          * {KNUTH_MULT} % {KNUTH_MOD} >= {_JL_HALF}
                     THEN vec[i] ELSE -vec[i] END FOR i IN range(1, 65)]),
               (a, x) -> a + x) / 4.0, 6) AS pj
    FROM v CROSS JOIN js
    """,
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection, 64 -> 16 dims: each
    output component is a +/-1-signed sum over the input scaled by
    1/sqrt(k) — the embedding-compression rung that needs NO training
    pass at all (the "matrix" is a hash function), which is what makes
    it the first dimensionality cut at 100 TB: map-only, zero state,
    any executor can project any vector at ingest.  Complements the
    trained reductions (sim_pca_project) and the storage reductions
    (embed_quantize_int8 / embed_matryoshka_truncate).

    The sign matrix is a Knuth hash of (input index, output index), so
    both engines materialize the identical +/-1 pattern and the ordered
    fold produces identical doubles — the projection is ORACLE-checked
    bit-exactly, unusual for a "random" method.  Output is relational
    (vec_id, j, component) — never an array column (the driver's pandas
    canonicalizer chokes on lists; the r1 agg_approx_percentile lesson).
    Distortion at k=16 is honest-but-wide (measured pairwise-distance
    ratios: median 0.89, p5 0.45, p95 1.73) — unbiased, per the JL
    property test in tests/test_llm_ops.py; use it to PRE-FILTER
    distance computations, not to replace them."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )

    def comp(j: int):
        signed = F.expr(
            f"transform(vec, (x, i) -> CASE WHEN (CAST(i AS BIGINT)"
            f" * {_JL_PRIME} + {j}) * {KNUTH_MULT} % {KNUTH_MOD} >= {_JL_HALF}"
            f" THEN x ELSE -x END)"
        )
        return F.round(
            F.aggregate(signed, F.lit(0.0), lambda a, x: a + x) / 4.0, 6
        )

    return e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), comp(j).alias("pj"))
                    for j in range(_JL_K)
                ]
            )
        ).alias("c"),
    ).select("vec_id", "c.j", "c.pj")
