"""Corpus-management operators: the table-maintenance verbs a
training-data pipeline runs between the analytic queries — reproducible
sampling, snapshot upsert, data profiling, time-series repair.

Reference analogues: the pipeline re-runs its scrape daily and (a)
overwrites each source's cache entry with the newest version
(upsert-latest), (b) summarizes what it holds per run (profiling), and
(c) reasons over per-source daily series with missing days (gap fill).
Sampling is the mandated LLM-pipeline addition: corpus subsetting must
be DETERMINISTIC (hash-based, not rand()) so a 100 TB sample is
reproducible run-to-run and resumable after partial failure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from .aggregates import _CENTRAL_MOMENTS_SQL, _central_moments
from .pipeline import _SIDE_MOMENTS_SQL, _side_moments, _welch_t_df, _welch_t_df_sql
from ._helpers import (
    DAILY_D_SQL_CTE,
    DAILY_SQL_CTE,
    KNUTH_MOD,
    KNUTH_MULT,
    _daily_counts,
    _day_diffs,
    _day_idx,
    _full_frames,
    _pearson_micro,
    _power_sums,
    davg,
    round_long,
    sql_davg,
)

_LANG_PCT = {"en": 37, "es": 61, "zh": 23, "de": 50, "fr": 80}


@query(
    "sample_stratified_hash",
    oracle=f"""
    WITH r(lang, pct) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _LANG_PCT.items())})
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE (d.doc_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 < r.pct
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates applied
    via a multiplicative integer hash of the key — same sample on every
    run, every engine, every partitioning (unlike ``df.sample``, whose
    seed is per-partition).  The rate table is a broadcast dim join, so
    the corpus side never shuffles; at 100 TB this is a map-only scan
    that prunes rows AT the parquet reader's exit."""
    d = load(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [(k, v) for k, v in _LANG_PCT.items()], "lang string, pct int"
    )
    bucket = (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD % 100
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("pct"))
        .select("doc_id", "lang")
    )


@query(
    "merge_upsert_latest",
    oracle="""
    SELECT doc_id, origin, content_hash FROM (
        SELECT doc_id, origin, content_hash,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY priority) AS rn
        FROM (
            SELECT doc_id, 'base' AS origin, sha256(text) AS content_hash, 1 AS priority
            FROM documents
            UNION ALL
            SELECT doc_id, 'update' AS origin, sha256(upper(text)) AS content_hash, 0
            FROM documents WHERE source IN ('src0', 'src1', 'src2')
        )
    ) WHERE rn = 1
    """,
)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins snapshot merge (the MERGE INTO / upsert verb): an
    updates batch (re-scraped docs from three sources, content changed)
    overlaid on the base snapshot, newest version per key surviving —
    the reference's overwrite-cache-entry-on-change, as a set operation.

    Shape: unionByName + one row_number window partitioned by the key —
    a single shuffle on doc_id.  At 100 TB this beats a full-outer join
    formulation (one shuffled table, not two shuffled inputs plus null
    patching), and generalizes to n-way merges by adding priorities."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.lit("base").alias("origin"),
        F.sha2("text", 256).alias("content_hash"),
        F.lit(1).alias("priority"),
    )
    upd = d.filter(F.col("source").isin("src0", "src1", "src2")).select(
        "doc_id",
        F.lit("update").alias("origin"),
        F.sha2(F.upper("text"), 256).alias("content_hash"),
        F.lit(0).alias("priority"),
    )
    w = Window.partitionBy("doc_id").orderBy("priority")
    return (
        base.unionByName(upd)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "origin", "content_hash")
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_orderstatus' AS col_name, COUNT(o_orderstatus) AS n_nonnull,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the run-level "what do we hold" summary every
    ingest pipeline emits: per column, non-null count, distinct count,
    numeric min/max; one row per column.

    SINGLE-PASS: all per-column aggregates compute in one scan /
    one aggregate, then ``stack`` unpivots 3x4 values into rows — vs the
    oracle's 3 scans.  At 100 TB one pass over the fact table is the
    entire point of the operator (exact distincts shuffle per column;
    swap in approx_count_distinct when cardinality estimates suffice)."""
    o = load(spark, sf_dir, "orders")
    a = o.agg(
        F.count("o_orderstatus").alias("n1"),
        F.countDistinct("o_orderstatus").alias("d1"),
        F.count("o_orderpriority").alias("n2"),
        F.countDistinct("o_orderpriority").alias("d2"),
        F.count("o_totalprice").alias("n3"),
        F.countDistinct("o_totalprice").alias("d3"),
        F.min("o_totalprice").alias("mn3"),
        F.max("o_totalprice").alias("mx3"),
    )
    return a.select(
        F.expr(
            """stack(3,
               'o_orderstatus',   n1, d1, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               'o_orderpriority', n2, d2, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               'o_totalprice',    n3, d3, mn3, mx3)
               AS (col_name, n_nonnull, n_distinct, min_num, max_num)"""
        )
    )


@query(
    "ts_gapfill_ffill",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, {sql_davg("value")} AS v
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    b AS (SELECT MIN(date_trunc('day', ts)) AS lo, MAX(date_trunc('day', ts)) AS hi
          FROM events),
    days AS (  -- day-truncated TIMESTAMPs, not DATEs: pandas canon-
               -- icalizes dates differently per engine, timestamps not
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b
    ),
    spine AS (SELECT u.user_id, days.day
              FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days)
    SELECT s.user_id, s.day,
           last_value(d.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def ts_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair: densify each user's daily series onto the
    full date spine, then forward-fill gaps with the last observation —
    the standard resample+ffill the reference needed whenever a source
    skipped a day's scan.

    The spine is users x sequence(min_day, max_day) — the day list is a
    1-row aggregate exploded and BROADCAST, so densification is a
    map-side cross of each user partition with ~30 dates, never a
    shuffle of the fact table; the fill is one window per user ordered
    by day (``last(ignorenulls)``), partition-parallel at any scale."""
    return _gap_fill(spark, sf_dir, ahead=False)


def _daily_spine(e: DataFrame) -> DataFrame:
    """Each user's daily mean ``v`` densified onto the full date spine:
    ``(user_id, day, v)``, ``v`` NULL on a day without events.  The day
    list is a 1-row aggregate exploded and broadcast."""
    day = F.date_trunc("day", "ts").alias("day")
    daily = e.groupBy("user_id", day).agg(davg("value").alias("v"))
    days = (
        e.agg(
            F.min(F.date_trunc("day", "ts")).alias("lo"),
            F.max(F.date_trunc("day", "ts")).alias("hi"),
        )
        .select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    )
    spine = e.select("user_id").distinct().crossJoin(F.broadcast(days))
    return spine.join(daily, ["user_id", "day"], "left")


# The oracle CTEs of _daily_spine: each user's daily mean (daily) and
# the dense user x day spine over the events' day range (bounds, spine).
_SPINE_SQL_CTES = """daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(value) AS v
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    bounds AS (
        SELECT MIN(date_trunc('day', ts)) AS lo, MAX(date_trunc('day', ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT u.user_id, d.day
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                    FROM bounds) d
    )"""


def _day_frame(ahead: bool) -> WindowSpec:
    """Per-user frame ordered by day: the current row and every later day
    (``ahead``), or every earlier day and the current row."""
    w = Window.partitionBy("user_id").orderBy("day")
    if ahead:
        return w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _gap_fill(spark: SparkSession, sf_dir: str, ahead: bool) -> DataFrame:
    """``(user_id, day, v_filled)``: each spine day takes the nearest
    observation at or after it (``ahead``, bfill) or at or before it
    (ffill)."""
    nearest = F.first if ahead else F.last
    fill = nearest("v", ignorenulls=True).over(_day_frame(ahead))
    spine = _daily_spine(load(spark, sf_dir, "events"))
    return spine.select("user_id", "day", fill.alias("v_filled"))


_PACK_BUDGET = 2048  # approx-LLM-token budget per packed sequence


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, tokens,
               CAST(floor((SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT lang, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY lang, bin_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: documents are laid
    end-to-end per language stream and cut into fixed token-budget bins
    (greedy sequential fill — a doc lands in the bin where its span
    starts).  Deterministic because the layout order is the key order,
    not arrival order.

    One window (cumulative token sum per lang, ordered by doc_id) + one
    groupBy — a single shuffle on lang.  At 100 TB the lang partition is
    too coarse (hot stream = one task), so the production variant packs
    per (lang, shard) with shard = hash(doc_id) % n_shards — same plan
    shape, shard count sized to cluster cores; packing quality is
    unaffected because bins never span shards."""
    d = load(spark, sf_dir, "documents")
    tokens = F.ceil(F.col("n_chars").cast("double") / 4).alias("tokens")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("doc_id", "lang", tokens)
    packed = toks.select(
        "lang",
        "tokens",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / _PACK_BUDGET)
        .cast("long")
        .alias("bin_id"),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tokens").alias("bin_tokens")
    )


_RESERVOIR_K = 5


@query(
    "sample_topk_per_group",
    oracle=f"""
    SELECT doc_id, lang, source, rk FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                   ORDER BY (doc_id * {KNUTH_MULT}) % {KNUTH_MOD}, doc_id) AS rk
        FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    """,
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum subsample (the reproducible stand-in
    for per-group reservoir sampling): rank rows inside each (lang,
    source) stratum by an integer hash of the key and keep the first k.
    Unlike a true reservoir it is order-independent and re-runnable —
    the same k docs survive on every run and every partitioning, which
    is what makes 100 TB eval-set carving auditable.

    One window shuffle on (lang, source); with heavy strata the
    hash-rank window is still O(n log n) per stratum, and the top-k
    filter prunes before anything downstream."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD, "doc_id"
    )
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
    )


@query(
    "ts_backfill_bfill",
    oracle=f"""
    WITH {_SPINE_SQL_CTES}
    SELECT s.user_id, s.day,
           FIRST_VALUE(d.v IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS v_filled
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def ts_backfill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward fill — the complement of ts_gapfill_ffill: each missing
    day takes the NEXT observation (the fill direction for
    known-in-advance schedules, e.g. backfilling a metric series up to
    its first measurement).  Same densify-then-window plan: broadcast
    day spine, one window per user ordered by day with a FOLLOWING
    frame; partition-parallel at any scale."""
    return _gap_fill(spark, sf_dir, ahead=True)


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH keyed AS (
        SELECT user_id,
               (epoch_us(ts) // 900000000) * 900000000 AS bucket_us,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS seq_key
        FROM events
    )
    SELECT user_id, bucket_us,
           arg_min(value, seq_key) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, seq_key) AS close,
           COUNT(*) AS n_obs
    FROM keyed
    GROUP BY user_id, bucket_us
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each user's value stream into 15-minute OHLC bars
    (open/high/low/close + observation count) — the resampling primitive
    under every metrics dashboard and anomaly detector, and the third
    leg of the time-series family next to gap-fill (repair) and moving
    windows (smoothing).

    ONE aggregate, one shuffle, no window: open/close are min/max over a
    (epoch-µs, event_id, value) STRUCT — lexicographic struct order is a
    total order even when two observations share a timestamp.  Spark
    plans struct-buffer min/max as a SortAggregate (per-partition
    grouping-key sort; a HashAggregate needs primitive buffers), but
    PARTIAL aggregation still applies: each task ships one 4-scalar bar
    per (user, bucket), so the shuffle carries bars, not observations.
    That still beats the window formulation at 100 TB — a first/last
    window has no partial side, sorts on the much wider (user, ts) key,
    and moves every observation through the shuffle.  The oracle spells
    the same total order as arg_min/arg_max on a zero-padded string
    key."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    seq = F.struct(
        us.alias("u"), F.col("event_id").alias("e"), F.col("value").alias("v")
    )
    return (
        e.select(
            "user_id",
            (F.floor(us / 900_000_000) * 900_000_000).alias("bucket_us"),
            "value",
            seq.alias("seq"),
        )
        .groupBy("user_id", "bucket_us")
        .agg(
            F.min("seq").alias("_first"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("seq").alias("_last"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            "user_id",
            "bucket_us",
            F.col("_first.v").alias("open"),
            "high",
            "low",
            F.col("_last.v").alias("close"),
            "n_obs",
        )
    )


@query(
    "sample_importance_weighted",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) AS q_num,
               len(string_split(text, ' ')) AS q_den
        FROM documents
    )
    SELECT doc_id, lang,
           ROUND(CAST(q_num AS DOUBLE) / q_den, 6) AS quality
    FROM scored
    WHERE (doc_id * {KNUTH_MULT}) % {KNUTH_MOD} % 1000000
          * q_den * q_den < 1000000 * q_num * q_num
    """,
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE-weighted corpus sampling — the data-curation policy
    between 'keep everything above a threshold' and 'uniform sample':
    each document's keep probability is its quality score squared
    (lexical diversity here; squaring sharpens toward high quality the
    way quality-classifier-weighted sampling does in production
    pipelines), decided by the same deterministic multiplicative hash
    as sample_stratified_hash — reproducible row-for-row on any engine,
    any partitioning, forever, unlike rand(seed).

    The keep test is EXACT integer arithmetic: hash-bucket (integer) vs
    1e6 * q_num^2 / q_den^2 compared cross-multiplied in integers on
    both engines — no float boundary can flip a row.  Single scan,
    map-only, scan-bandwidth bound at any scale."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q_num = F.size(F.array_distinct(toks)).cast("long")
    q_den = F.size(toks).cast("long")
    bucket = (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD % 1_000_000
    # integer cross-multiplication: bucket * q_den^2 < 1e6 * q_num^2
    keep = bucket * q_den * q_den < F.lit(1_000_000) * q_num * q_num
    return d.select(
        "doc_id",
        "lang",
        F.round(q_num.cast("double") / q_den, 6).alias("quality"),
        keep.alias("_keep"),
    ).filter(F.col("_keep")).drop("_keep")


_EMA_ALPHA = 0.3


@query(
    "ts_ema_level",
    oracle=f"""
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           list_reduce(vs, (acc, x) -> {_EMA_ALPHA} * x
                                       + {1 - _EMA_ALPHA} * acc) AS ema_level
    FROM (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        FROM events GROUP BY user_id
    )
    """,
)
def ts_ema_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity exponential moving average — the smoothing the
    moving-average family can't express through a window frame (EMA is
    recursive: every prefix feeds the next step).  Emits each user's
    CURRENT smoothed level, the number an alerting threshold actually
    compares against.

    Exact-order fold: per user the values are collected, sorted by
    (ts, event_id) and folded left with acc' = α·x + (1−α)·acc seeded
    from the first observation — the identical operation sequence
    DuckDB's list_reduce performs, so every output double is
    bit-identical cross-engine UNROUNDED.  State per user is one array
    of its own events (bounded by per-entity history, the same bound as
    any per-user window sort); one shuffle on user_id."""
    ev = load(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("xs")
    )
    vs = F.transform("xs", lambda x: x.getField("value"))
    ema = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1),
        lambda acc, x: _EMA_ALPHA * x + (1 - _EMA_ALPHA) * acc,
    )
    return packed.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        ema.alias("ema_level"),
    )


_SHUFFLE_EPOCHS = (1, 2)
_SHUFFLE_HEAD = 64


@query(
    "corpus_shuffle_order",
    oracle=f"""
    WITH e(epoch) AS (VALUES {", ".join(f"({x})" for x in _SHUFFLE_EPOCHS)}),
    keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
                   AS order_key
        FROM documents d CROSS JOIN e
    ),
    ranked AS (
        SELECT epoch, doc_id, order_key,
               ROW_NUMBER() OVER (PARTITION BY epoch
                                  ORDER BY order_key, doc_id) AS pos
        FROM keyed
    )
    SELECT epoch, pos, doc_id, order_key
    FROM ranked WHERE pos <= {_SHUFFLE_HEAD}
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle: each epoch orders the
    corpus by md5(doc_id:epoch) — a deterministic permutation that is
    (a) identical on every engine, cluster size, and retry (rand(seed)
    is none of those: its stream is partitioning-dependent), and (b)
    DIFFERENT per epoch, the property data-loaders need for multi-epoch
    training without materializing N shuffled copies.

    The query emits the auditable head (first 64 positions per epoch)
    as one TakeOrderedAndProject per epoch — distributed top-k, never
    a corpus-wide sort or a per-epoch global window (the repo's
    single-task-window doctrine); the position column is then a window
    over the ALREADY-BOUNDED union (<= 128 rows).  At 100 TB the same
    order_key drives the FULL shuffle as a range-partitioned write
    (``df.repartitionByRange(order_key).sortWithinPartitions``) — an
    O(n log n) distributed sort with no single-task stage and no
    driver materialization; the epoch column here doubles as the
    demonstration that two epochs produce distinct permutations of the
    same corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id")

    def epoch_head(ep: int) -> DataFrame:
        return (
            d.select(
                F.lit(ep).alias("epoch"),
                "doc_id",
                F.md5(
                    F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(ep)))
                ).alias("order_key"),
            )
            .orderBy("order_key", "doc_id")
            .limit(_SHUFFLE_HEAD)
        )

    heads = epoch_head(_SHUFFLE_EPOCHS[0])
    for ep in _SHUFFLE_EPOCHS[1:]:
        heads = heads.unionByName(epoch_head(ep))
    # bounded window: at most len(_SHUFFLE_EPOCHS) * _SHUFFLE_HEAD rows
    w = Window.partitionBy("epoch").orderBy("order_key", "doc_id")
    return heads.withColumn("pos", F.row_number().over(w)).select(
        "epoch", "pos", "doc_id", "order_key"
    )


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH {_SPINE_SQL_CTES},
    ctx AS (
        SELECT s.user_id, s.day, d.v,
               last_value(d.v IGNORE NULLS) OVER wb AS prev_v,
               last_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
                   OVER wb AS prev_day,
               first_value(d.v IGNORE NULLS) OVER wf AS next_v,
               first_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
                   OVER wf AS next_day
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day
        WINDOW
          wb AS (PARTITION BY s.user_id ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wf AS (PARTITION BY s.user_id ORDER BY s.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                   prev_v + (next_v - prev_v)
                          * (CAST(day AS DATE) - CAST(prev_day AS DATE))
                          / (CAST(next_day AS DATE) - CAST(prev_day AS DATE))
               END, 6) AS v_interp,
           CAST(v IS NULL AND prev_v IS NOT NULL AND next_v IS NOT NULL
                AS INTEGER) AS is_interp
    FROM ctx
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted LINEAR interpolation — the third fill strategy next
    to ffill (ts_gapfill_ffill) and bfill (ts_backfill_bfill): an
    interior gap day takes the straight line between its surrounding
    observations, weighted by day distance; days before the first or
    after the last observation stay NULL (flagged is_interp=0), because
    extrapolation is a modeling choice, not repair.

    Same scale plan as its siblings — broadcast day spine, then per-user
    windows — plus ONE extra backward/forward window pair to carry
    (prev_v, prev_day) / (next_v, next_day); all four context columns
    ride the same two frames, so the physical plan is exactly two
    per-user window sorts regardless of series length.  The arithmetic
    is one IEEE add/sub/mul/div chain over identical inputs in both
    engines (daily means go through the exact-decimal trick first), so
    ROUND(...,6) is belt-and-braces, not a crutch; the is_interp gate is
    cast to int per the repo's nullable-boolean doctrine."""
    wb, wf = _day_frame(ahead=False), _day_frame(ahead=True)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = _daily_spine(load(spark, sf_dir, "events")).select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_day"),
        F.first("v", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_day"),
    )
    dd = F.datediff(F.col("day"), F.col("prev_day")).cast("double")
    span = F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    interior = F.col("prev_v").isNotNull() & F.col("next_v").isNotNull()
    interp = F.when(F.col("v").isNotNull(), F.col("v")).when(
        interior,
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * dd / span,
    )
    return ctx.select(
        "user_id",
        "day",
        F.round(interp, 6).alias("v_interp"),
        (F.col("v").isNull() & interior).cast("int").alias("is_interp"),
    )


_NEG_ANCHORS = 20  # anchor docs: doc_id < 20
_NEG_K = 5         # negatives per anchor
_NEG_PRIME = 1_000_003


@query(
    "sample_negative_pairs",
    oracle=f"""
    WITH anchors AS (
        SELECT doc_id AS anchor_id, lang AS anchor_lang
        FROM documents WHERE doc_id < {_NEG_ANCHORS}
    ),
    scored AS (
        SELECT a.anchor_id, d.doc_id AS negative_id,
               ((a.anchor_id * {_NEG_PRIME} + d.doc_id) * {KNUTH_MULT})
                   % {KNUTH_MOD} AS h
        FROM anchors a JOIN documents d ON d.lang <> a.anchor_lang
    )
    SELECT anchor_id, negative_id, rank FROM (
        SELECT anchor_id, negative_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY h, negative_id) AS rank
        FROM scored
    ) WHERE rank <= {_NEG_K}
    """,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-negative mining — for each anchor
    document, k pseudo-random negatives drawn from a DIFFERENT language
    (the cheap hard-negative proxy; swap the predicate for any
    dissimilarity gate).  Contrastive training data must be reproducible
    run-to-run and resumable mid-corpus, so the "random" draw is a
    Knuth hash of (anchor, candidate) — never rand(), whose partition
    seeding is not stable across retries or cluster sizes (same doctrine
    as sample_stratified_hash).

    Scale shape: anchors broadcast against the corpus (k << corpus, so
    the candidate set is anchor-partitioned and the per-anchor
    row_number window never sees a global sort).  At 100 TB, pre-gate
    candidates map-side with a hash threshold (keep ~4k of the corpus
    per anchor, epsilon-padded) so the window sorts ~4k rows per anchor
    instead of the corpus — the same two-phase trick as
    sample_topk_per_group; the hash gate keeps the result IDENTICAL
    because the top-k by hash order is invariant under any prefilter
    that keeps hash values below the gate."""
    d = load(spark, sf_dir, "documents")
    anchors = d.filter(F.col("doc_id") < _NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"), F.col("lang").alias("anchor_lang")
    )
    cand = d.select(F.col("doc_id").alias("negative_id"), "lang")
    scored = (
        cand.join(F.broadcast(anchors), F.col("lang") != F.col("anchor_lang"))
        .select(
            "anchor_id",
            "negative_id",
            (
                (F.col("anchor_id") * _NEG_PRIME + F.col("negative_id"))
                * KNUTH_MULT
                % KNUTH_MOD
            ).alias("h"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "negative_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NEG_K)
        .select("anchor_id", "negative_id", "rank")
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1
    ),
    trended AS (
        SELECT day, v,
               CASE WHEN COUNT(*) OVER w7 = 7
                    THEN CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w7 AS DOUBLE)
                         / 7 END AS trend
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT *, dayofweek(day) AS wd, v - trend AS resid0 FROM trended
    ),
    wk AS (
        SELECT wd,
               CAST(SUM(CAST(resid0 AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(resid0) AS raw
        FROM detr WHERE resid0 IS NOT NULL GROUP BY wd
    ),
    wkc AS (
        SELECT wd, raw - (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,6)))
                                      AS DOUBLE) / COUNT(*) FROM wk) AS seasonal
        FROM wk
    )
    SELECT d.day, ROUND(d.v, 6) AS value,
           ROUND(d.trend, 6) AS trend,
           ROUND(w.seasonal, 6) AS seasonal,
           ROUND(d.v - d.trend - w.seasonal, 6) AS resid,
           CAST(d.trend IS NOT NULL AS INTEGER) AS has_trend
    FROM detr d JOIN wkc w ON w.wd = d.wd
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the statsmodels
    ``seasonal_decompose`` shape): daily total -> TREND (centered 7-day
    moving mean, only where the window is complete — edges stay NULL
    rather than fabricating a partial-mean trend) -> SEASONAL (per-
    weekday mean of the detrended series, re-centered to sum to zero)
    -> RESIDUAL.  The decomposition every metrics/anomaly stack runs
    before alerting on a weekly-cyclic series.

    Scale split, same as its ts siblings: the corpus-sized stage is the
    one daily aggregate (map-side partial decimal sums, one shuffle);
    the decomposition itself runs on ~one row per day — a windowed
    7-row frame, a 7-row weekday aggregate broadcast back, and one
    1-row centering aggregate.  Every mean goes through the exact-
    decimal trick, NULL gating is cast to int, and all four emitted
    floats are rounded post-identical-IEEE-chains, so the driver hash
    is stable."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("v")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "v",
        F.when(
            F.count("v").over(w7) == 7,
            F.sum(F.col("v").cast("decimal(28,6)")).over(w7).cast("double") / 7,
        ).alias("trend"),
    )
    detr = trended.select(
        "day", "v", "trend", F.dayofweek("day").alias("wd"),
        (F.col("v") - F.col("trend")).alias("resid0"),
    )
    # three consumers (weekday means, centering via them, final join):
    # truncate so the daily aggregate + trend window run once (~30 rows)
    detr = detr.localCheckpoint(eager=False)
    wk = (
        detr.filter(F.col("resid0").isNotNull())
        .groupBy("wd")
        .agg(
            (
                F.sum(F.col("resid0").cast("decimal(28,6)")).cast("double")
                / F.count("resid0")
            ).alias("raw")
        )
    )
    center = wk.agg(
        (F.sum(F.col("raw").cast("decimal(28,6)")).cast("double") / F.count("raw"))
        .alias("c")
    )
    wkc = wk.crossJoin(F.broadcast(center)).select(
        "wd", (F.col("raw") - F.col("c")).alias("seasonal")
    )
    return (
        detr.join(F.broadcast(wkc), "wd")
        .select(
            "day",
            F.round("v", 6).alias("value"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 6).alias(
                "resid"
            ),
            F.col("trend").isNotNull().cast("int").alias("has_trend"),
        )
    )


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type,
               list(n ORDER BY d) AS xs,
               COUNT(*) AS nd,
               SUM(n) AS tot
        FROM daily GROUP BY event_type
    ),
    folded AS (
        -- DuckDB list_reduce has no initial-value form, so the init
        -- rides as the first element of a list-of-lists and each x is
        -- wrapped as a 1-list (x[1] below)
        SELECT event_type, nd, tot,
               list_reduce(
                   list_prepend([CAST(0 AS BIGINT), 0, 0, 0, 0],
                                [[CAST(v AS BIGINT)] FOR v IN xs]),
                   (acc, x) -> [
                       greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot),
                       greatest(acc[2],
                                greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot)),
                       acc[3] + CASE WHEN
                           greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot)
                           * greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot)
                           > 16 * nd * tot THEN 1 ELSE 0 END,
                       CASE WHEN acc[4] = 0 AND
                           greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot)
                           * greatest(CAST(0 AS BIGINT), acc[1] + x[1] * nd - tot)
                           > 16 * nd * tot THEN acc[5] + 1 ELSE acc[4] END,
                       acc[5] + 1
                   ]
               ) AS a
        FROM series
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_days,
           CAST(tot AS BIGINT) AS total,
           CAST(a[2] AS BIGINT) AS max_cusum,
           CAST(a[3] AS BIGINT) AS n_alarm_days,
           CAST(a[4] AS BIGINT) AS first_alarm_day
    FROM folded
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the per-type daily event series —
    the sequential test behind "did this source's behavior CHANGE?",
    i.e. the reference's change-detection mission applied to volumes
    rather than content hashes.  One-sided CUSUM: S_i = max(0, S_{i-1} +
    (x_i*D - total)) accumulates deviation above the series mean (scaled
    by D = days so everything stays integer), and a day alarms when
    S exceeds 4 noise units — S^2 > 16*D*total, the integer form of
    S > 4*sqrt(D*total), since sd(daily count) ~ sqrt(total/D) makes
    sqrt(D*total) the natural scale of S.  Emits (n_days, total,
    max_cusum, n_alarm_days, first_alarm_day[0 = never]) per type;
    at the fixture both branches are witnessed at every sf (e.g. `view`
    never alarms, `error` does).

    Distributed shape: the corpus-sized stage is the daily count (one
    shuffle, partial-agg); the CUSUM recurrence — inherently sequential,
    inexpressible as a window — runs as an in-codegen array fold over
    each type's 30-day series (bounded by the calendar, not the data),
    the same bounded-fold idiom as text_tf's ranking.  Integer-overflow
    bound: S^2 needs S < 3e9, i.e. daily totals below ~1e8 x D — beyond
    that, rescale counts (e.g. to thousands) before folding.  DuckDB
    twin folds the identical recurrence with list_reduce."""
    ev = load(spark, sf_dir, "events")
    daily = _daily_counts(ev, "d", x="n")
    series = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "n"))),
                lambda s: s["n"],
            ).alias("xs"),
            F.count(F.lit(1)).alias("nd"),
            F.sum("n").alias("tot"),
        )
    )
    fold = F.expr("""
        aggregate(
            xs,
            array(cast(0 as bigint), cast(0 as bigint), cast(0 as bigint),
                  cast(0 as bigint), cast(0 as bigint)),
            (acc, x) -> array(
                greatest(cast(0 as bigint), acc[0] + x * nd - tot),
                greatest(acc[1],
                         greatest(cast(0 as bigint), acc[0] + x * nd - tot)),
                acc[2] + IF(
                    greatest(cast(0 as bigint), acc[0] + x * nd - tot)
                    * greatest(cast(0 as bigint), acc[0] + x * nd - tot)
                    > 16 * nd * tot, cast(1 as bigint), cast(0 as bigint)),
                IF(acc[3] = 0 AND
                    greatest(cast(0 as bigint), acc[0] + x * nd - tot)
                    * greatest(cast(0 as bigint), acc[0] + x * nd - tot)
                    > 16 * nd * tot, acc[4] + 1, acc[3]),
                acc[4] + 1
            )
        )
    """)
    return series.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("tot").alias("total"),
        fold.getItem(1).alias("max_cusum"),
        fold.getItem(2).alias("n_alarm_days"),
        fold.getItem(3).alias("first_alarm_day"),
    )


def _lag_products(
    e: DataFrame, nd: str = "nd", den_type: str = "long"
) -> DataFrame:
    """``(event_type, <nd>, den, n1..n7)`` over each event type's daily
    event counts ``x``: with ``nd`` days and total ``T``, the centered
    series is carried as the exact BIGINT ``y = nd·x - T``; ``den`` is
    Σ y_t² cast to ``den_type`` and ``n_k`` is the BIGINT Σ y_t·y_{t-k}.
    The lag windows partition per event_type over one row per day, and
    the 7 lag products ride one window pass and one small aggregate."""
    daily = _daily_counts(e, "d")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("x").alias("tot")
    )
    yd = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        (F.col("x") * F.col("nd") - F.col("tot")).alias("y"),
        "nd",
    )
    # per-type day series: bounded by the calendar, never the corpus
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = yd.select(
        "event_type",
        "nd",
        "y",
        *[F.lag("y", k).over(w).alias(f"y{k}") for k in range(1, 8)],
    )
    return lagged.groupBy("event_type").agg(
        F.max("nd").alias(nd),
        F.sum(F.col("y") * F.col("y")).cast(den_type).alias("den"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).alias(f"n{k}")
            for k in range(1, 8)
        ],
    )


# The SQL twin of _lag_products up to its lag window: CTEs daily ..
# lagged(event_type, nd, y, y1..y7) over the centered daily series.
_LAGGED_SQL_CTES = f"""{DAILY_D_SQL_CTE},
    stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS tot
        FROM daily GROUP BY event_type
    ),
    yd AS (
        SELECT daily.event_type, daily.d,
               daily.x * stats.nd - stats.tot AS y, stats.nd
        FROM daily JOIN stats USING (event_type)
    ),
    lagged AS (
        SELECT event_type, nd, y,
               LAG(y, 1) OVER w AS y1, LAG(y, 2) OVER w AS y2,
               LAG(y, 3) OVER w AS y3, LAG(y, 4) OVER w AS y4,
               LAG(y, 5) OVER w AS y5, LAG(y, 6) OVER w AS y6,
               LAG(y, 7) OVER w AS y7
        FROM yd WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )"""


# _lag_products' lag sums n1..n7 over lagged, as the tail of a SELECT list.
_LAG_SUMS_SQL = """CAST(SUM(y * y1) AS BIGINT) AS n1,
               CAST(SUM(y * y2) AS BIGINT) AS n2,
               CAST(SUM(y * y3) AS BIGINT) AS n3,
               CAST(SUM(y * y4) AS BIGINT) AS n4,
               CAST(SUM(y * y5) AS BIGINT) AS n5,
               CAST(SUM(y * y6) AS BIGINT) AS n6,
               CAST(SUM(y * y7) AS BIGINT) AS n7"""


@query(
    "ts_autocorrelation",
    oracle=f"""
    WITH {_LAGGED_SQL_CTES},
    agg AS (
        SELECT event_type, MAX(nd) AS nd,
               CAST(SUM(y * y) AS BIGINT) AS den,
               {_LAG_SUMS_SQL}
        FROM lagged GROUP BY event_type
    ),
    exploded AS (
        SELECT event_type, CAST(nd AS BIGINT) AS n_days, den,
               unnest([{{'k': CAST(1 AS BIGINT), 'num': n1}},
                       {{'k': CAST(2 AS BIGINT), 'num': n2}},
                       {{'k': CAST(3 AS BIGINT), 'num': n3}},
                       {{'k': CAST(4 AS BIGINT), 'num': n4}},
                       {{'k': CAST(5 AS BIGINT), 'num': n5}},
                       {{'k': CAST(6 AS BIGINT), 'num': n6}},
                       {{'k': CAST(7 AS BIGINT), 'num': n7}}]) AS u
        FROM agg
    )
    SELECT event_type, n_days, u.k AS lag,
           CAST(floor(1000000.0 * CAST(u.num AS DOUBLE)
                      / CAST(den AS DOUBLE) + 0.5) AS BIGINT) AS acf_micro
    FROM exploded WHERE den > 0
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of each event type's daily-count series —
    the periodicity detector behind "is this source weekly-cyclic?"
    (an ACF peak at lag 7 flags weekly seasonality; near-zero tails flag
    white noise), feeding the same alerting stack as
    ts_seasonal_decompose / ts_cusum_changepoint.

    ALL-INTEGER until the final division: with n days and total T, the
    centered value (x_t - T/n) is carried as y_t = n·x_t - T (exact
    BIGINT), and ACF(k) = Σ y_t·y_{t-k} / Σ y_t² — the n² factors
    cancel, so numerator and denominator are exact int64 sums and the
    single double division + micro-unit quantization is bit-identical
    cross-engine (the ROUND-half-boundary doctrine).  Overflow bound:
    |y| <= n·max(x), so Σy² needs n³·max(x)² < 2^63 — rescale counts
    past ~1e5 days·events, stated here like the CUSUM bound.

    Scale split, same as the ts siblings: the corpus-sized stage is the
    one daily aggregate; the lag windows partition per event_type over
    ~one row per DAY (calendar-bounded, the windows.py:193 doctrine);
    the 7 lag products ride ONE window pass and one final small agg."""
    agg = _lag_products(load(spark, sf_dir, "events"), nd="n_days")
    lags = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"), F.col(f"n{k}").alias("num")
            )
            for k in range(1, 8)
        ]
    )
    return (
        agg.select("event_type", "n_days", "den", F.explode(lags).alias("u"))
        .filter(F.col("den") > 0)
        .select(
            "event_type",
            "n_days",
            F.col("u.k").alias("lag"),
            round_long(
                F.lit(1000000.0)
                * F.col("u.num").cast("double")
                / F.col("den").cast("double")
            )
            .alias("acf_micro"),
        )
    )


@query(
    "ts_holt_winters",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type, list(x ORDER BY d) AS xs, COUNT(*) AS nd
        FROM daily GROUP BY event_type
    ),
    init AS (
        SELECT event_type, xs, nd,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                        list_slice(xs, 1, 7)),
                           (a, b) -> a + b) / 7 AS l0,
               (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                         list_slice(xs, 8, 14)),
                            (a, b) -> a + b) / 7
                - list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                           list_slice(xs, 1, 7)),
                              (a, b) -> a + b) / 7) / 7 AS b0
        FROM series WHERE nd >= 15
    ),
    folded AS (
        SELECT event_type, nd,
               list_reduce(
                   list_prepend(
                       list_concat([l0, b0],
                           [xs[i] - l0 FOR i IN generate_series(1, 7)]),
                       [[CAST(v AS DOUBLE)] FOR v IN
                        list_slice(xs, 15, len(xs))]
                   ),
                   (a, x) -> [
                       CAST(0.3 AS DOUBLE) * (x[1] - a[3])
                           + CAST(0.7 AS DOUBLE) * (a[1] + a[2]),
                       CAST(0.1 AS DOUBLE)
                           * ((CAST(0.3 AS DOUBLE) * (x[1] - a[3])
                               + CAST(0.7 AS DOUBLE) * (a[1] + a[2]))
                              - a[1])
                           + CAST(0.9 AS DOUBLE) * a[2],
                       a[4], a[5], a[6], a[7], a[8], a[9],
                       CAST(0.2 AS DOUBLE)
                           * (x[1] - (CAST(0.3 AS DOUBLE) * (x[1] - a[3])
                                      + CAST(0.7 AS DOUBLE) * (a[1] + a[2])))
                           + CAST(0.8 AS DOUBLE) * a[3]
                   ]
               ) AS f
        FROM init
    )
    SELECT event_type, CAST(nd AS BIGINT) AS n_days,
           CAST(floor(1000000.0 * f[1] + 0.5) AS BIGINT) AS level_micro,
           CAST(floor(1000000.0 * f[2] + 0.5) AS BIGINT) AS trend_micro,
           CAST(floor(1000000.0 * f[3] + 0.5) AS BIGINT)
               AS season_next_micro,
           CAST(floor(1000000.0 * (f[1] + f[2] + f[3]) + 0.5) AS BIGINT)
               AS forecast1_micro
    FROM folded
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing (weekly
    season, alpha=0.3 beta=0.1 gamma=0.2) over each type's daily-count
    series — the classic capacity-forecasting recurrence, emitting the
    final level/trend, next season component, and the one-step-ahead
    forecast.

    Like CUSUM, the recurrence is inherently sequential (L_t needs
    L_{t-1}, B_{t-1}, S_{t-7}) — no window frame expresses it — so it
    runs as a bounded in-codegen array fold over each type's day array
    (calendar-bounded).  The seasonal ring buffer is ROTATED rather than
    index-updated (acc = [L, B, S_{t-7}..S_{t-1}]; each step drops the
    head and appends the fresh seasonal), which keeps the fold free of
    indexed writes on both engines.  Determinism: both engines execute
    the IDENTICAL double-arithmetic chain in the identical sequential
    order (L's expression inlined into B's and S's, matching the DuckDB
    lambda, which has no lets), so the result is bit-stable and the
    outputs quantize to micro units.  Init is the textbook first-week
    mean / week-over-week trend / first-week seasonal offsets; types
    shorter than 15 days are excluded rather than extrapolated.

    Scale split, same as the ts siblings: corpus-sized work = the one
    daily aggregate; the fold runs over ~one value per day per type."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d").select(
        "event_type", "d", F.col("x").cast("double").alias("x")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "x"))),
            lambda s: s.getField("x"),
        ).alias("xs"),
        F.count(F.lit(1)).alias("nd"),
    )

    def _fsum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)

    init = series.filter(F.col("nd") >= 15).select(
        "event_type",
        "xs",
        "nd",
        (_fsum(F.slice("xs", 1, 7)) / 7).alias("l0"),
        (
            (_fsum(F.slice("xs", 8, 7)) / 7 - _fsum(F.slice("xs", 1, 7)) / 7)
            / 7
        ).alias("b0"),
    )
    acc0 = F.concat(
        F.array(F.col("l0"), F.col("b0")),
        F.transform(F.slice("xs", 1, 7), lambda v: v - F.col("l0")),
    )
    rest = F.slice(F.col("xs"), F.lit(15), F.size("xs") - F.lit(14))

    def _step(a, x):
        # L's expression is INLINED into B and S (the DuckDB lambda has
        # no lets) so both engines run the identical IEEE chain
        el = lambda k: F.element_at(a, k)  # noqa: E731
        L = F.lit(0.3) * (x - el(3)) + F.lit(0.7) * (el(1) + el(2))
        B = F.lit(0.1) * (
            (F.lit(0.3) * (x - el(3)) + F.lit(0.7) * (el(1) + el(2))) - el(1)
        ) + F.lit(0.9) * el(2)
        S = F.lit(0.2) * (
            x - (F.lit(0.3) * (x - el(3)) + F.lit(0.7) * (el(1) + el(2)))
        ) + F.lit(0.8) * el(3)
        return F.array(L, B, el(4), el(5), el(6), el(7), el(8), el(9), S)

    folded = init.select(
        "event_type",
        F.col("nd").cast("long").alias("n_days"),
        F.aggregate(rest, acc0, _step).alias("f"),
    )

    f = F.col("f")
    return folded.select(
        "event_type",
        "n_days",
        round_long(F.lit(1000000.0) * F.element_at(f, 1)).alias("level_micro"),
        round_long(F.lit(1000000.0) * F.element_at(f, 2)).alias("trend_micro"),
        round_long(F.lit(1000000.0) * F.element_at(f, 3)).alias("season_next_micro"),
        round_long(
            F.lit(1000000.0)
            * (F.element_at(f, 1) + F.element_at(f, 2) + F.element_at(f, 3))
        ).alias("forecast1_micro"),
    )


@query(
    "win_drawdown",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    peaks AS (
        SELECT event_type, d, v,
               MAX(v) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS peak
        FROM daily
    )
    SELECT event_type,
           CAST(MAX(peak - v) AS BIGINT) AS max_drawdown,
           strftime(MIN(CASE WHEN peak - v =
                                  (SELECT MAX(p2.peak - p2.v)
                                   FROM peaks p2
                                   WHERE p2.event_type = peaks.event_type)
                             THEN d END), '%Y-%m-%d') AS trough_day,
           CAST(MAX(peak) AS BIGINT) AS peak_value
    FROM peaks GROUP BY event_type
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each type's daily-count series — the
    peak-to-trough collapse metric every ops/volume dashboard tracks
    ("how far below its best day has this source fallen?"): running
    peak via an unbounded-preceding MAX window, drawdown = peak - value,
    plus the (earliest) trough day and the all-time peak.

    ALL-INTEGER (counts, maxes, differences) — no float anywhere, so
    the hash compare is exact by construction; the trough day
    tie-breaks to the EARLIEST day hitting the maximum drawdown
    (min_by over candidates), deterministic on both engines.  The
    running-max window partitions per event_type over ~one row per day
    (calendar-bounded, the ts-family doctrine); corpus-sized work is
    the single daily aggregate."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d", x="v")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaks = daily.select(
        "event_type", "d", "v", F.max("v").over(w).alias("peak")
    ).withColumn("dd", F.col("peak") - F.col("v"))
    # the bounded (type, day) frame feeds two consumers — truncate once
    peaks = peaks.localCheckpoint(eager=False)
    mdd = peaks.groupBy("event_type").agg(
        F.max("dd").cast("long").alias("max_drawdown"),
        F.max("peak").cast("long").alias("peak_value"),
    )
    return (
        peaks.join(F.broadcast(mdd), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("max_drawdown").alias("max_drawdown"),
            F.date_format(
                F.min(
                    F.when(F.col("dd") == F.col("max_drawdown"), F.col("d"))
                ),
                "yyyy-MM-dd",
            ).alias("trough_day"),
            F.max("peak_value").alias("peak_value"),
        )
        .select("event_type", "max_drawdown", "trough_day", "peak_value")
    )


def _durbin_levinson_sql() -> str:
    """Generate the Durbin-Levinson CTE chain (lags 1..7) — one ak-CTE +
    one phi-CTE per step so every coefficient is a NAMED column and both
    engines evaluate the identical IEEE chain (no lambda, no lets)."""
    ctes = []
    prev = "base"
    # step 1 inline: phi_1_1 = r1, v_1 = 1 - r1*r1
    ctes.append(
        "step1 AS (SELECT *, r1 AS phi_1_1, 1 - r1 * r1 AS v_1 FROM base)"
    )
    prev = "step1"
    for k in range(2, 8):
        inner = " + ".join(
            f"phi_{k-1}_{j} * r{k-j}" for j in range(1, k)
        )
        # guard the division: a degenerate series with |a_j| = 1 drives
        # v_j to 0; emit NULL past that step (both engines propagate
        # NULL through the remaining arithmetic identically) instead of
        # inf/NaN, whose BIGINT casts DIVERGE across engines
        ctes.append(
            f"step{k}a AS (SELECT *, CASE WHEN v_{k-1} > 0 "
            f"THEN (r{k} - ({inner})) / v_{k-1} END AS a_{k} "
            f"FROM {prev})"
        )
        phis = ", ".join(
            f"phi_{k-1}_{j} - a_{k} * phi_{k-1}_{k-j} AS phi_{k}_{j}"
            for j in range(1, k)
        )
        ctes.append(
            f"step{k} AS (SELECT *, {phis}, a_{k} AS phi_{k}_{k}, "
            f"v_{k-1} * (1 - a_{k} * a_{k}) AS v_{k} FROM step{k}a)"
        )
        prev = f"step{k}"
    return ",\n    ".join(ctes)


def _durbin_levinson_spark(base: DataFrame) -> DataFrame:
    """Append the statically unrolled Durbin-Levinson chain (lags 1..7)
    to a frame carrying r1..r7 — the exact Spark mirror of
    `_durbin_levinson_sql`.  Factored out so the v_{k-1} > 0 degenerate
    gate can be driven by a literal frame in tests: the biased ACF
    estimator is strictly positive-definite, so NO events fixture can
    reach v = 0 through the registered query (r6 verdict item 4) —
    only a literal r1 = ±1 row exercises the NULL-past-degenerate
    branch."""
    cur = base.select(
        "*", F.col("r1").alias("phi_1_1"),
        (F.lit(1) - F.col("r1") * F.col("r1")).alias("v_1"),
    )
    for k in range(2, 8):
        inner = None
        for j in range(1, k):
            t = F.col(f"phi_{k-1}_{j}") * F.col(f"r{k-j}")
            inner = t if inner is None else inner + t
        # v_{k-1} > 0 gate mirrors _durbin_levinson_sql: NULL (not
        # inf/NaN) past a degenerate |a|=1 step, identical in DuckDB
        cur = cur.select(
            "*",
            F.when(
                F.col(f"v_{k-1}") > 0,
                (F.col(f"r{k}") - inner) / F.col(f"v_{k-1}"),
            ).alias(f"a_{k}"),
        )
        cur = cur.select(
            "*",
            *[
                (
                    F.col(f"phi_{k-1}_{j}")
                    - F.col(f"a_{k}") * F.col(f"phi_{k-1}_{k-j}")
                ).alias(f"phi_{k}_{j}")
                for j in range(1, k)
            ],
            F.col(f"a_{k}").alias(f"phi_{k}_{k}"),
            (
                F.col(f"v_{k-1}")
                * (F.lit(1) - F.col(f"a_{k}") * F.col(f"a_{k}"))
            ).alias(f"v_{k}"),
        )
    return cur


@query(
    "ts_partial_autocorrelation",
    oracle=f"""
    WITH {_LAGGED_SQL_CTES},
    base AS (
        SELECT event_type, MAX(nd) AS nd,
               CAST(SUM(y * y1) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r1,
               CAST(SUM(y * y2) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r2,
               CAST(SUM(y * y3) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r3,
               CAST(SUM(y * y4) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r4,
               CAST(SUM(y * y5) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r5,
               CAST(SUM(y * y6) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r6,
               CAST(SUM(y * y7) AS DOUBLE) / CAST(SUM(y * y) AS BIGINT) AS r7
        FROM lagged GROUP BY event_type
        HAVING SUM(y * y) > 0
    ),
    {_durbin_levinson_sql()},
    exploded AS (
        SELECT event_type, CAST(nd AS BIGINT) AS n_days,
               unnest([{", ".join(
                   "{'k': CAST(%d AS BIGINT), 'p': phi_%d_%d}" % (k, k, k)
                   for k in range(1, 8))}]) AS u
        FROM step7
    )
    SELECT event_type, n_days, u.k AS lag,
           CAST(floor(1000000.0 * u.p + 0.5) AS BIGINT) AS pacf_micro
    FROM exploded
    """,
)
def ts_partial_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1..7) of each type's daily series
    via the Durbin-Levinson recursion — the AR-order-selection companion
    to ts_autocorrelation (an AR(p) process's PACF cuts off after lag p,
    which is how the textbook picks p; the ACF alone cannot).

    The recursion is sequential in k but only 7 steps deep, so instead
    of a runtime fold it is STATICALLY UNROLLED — one generator
    (`_durbin_levinson_sql`) emits the identical named-column chain for
    both engines (the graph_pagerank unrolling idiom): each step's
    reflection coefficient a_k is a named column computed once, the
    phi vector updates reference it, and every inner product is written
    in the same fixed left-to-right order, so the IEEE chains match
    bit-for-bit.  Inputs are the exact-integer autocovariances from the
    ACF formulation (y = n·x − T centering; the scale factors cancel in
    the correlation ratios).  Corpus-sized work = the one daily
    aggregate; everything after runs on one row per type."""
    base = (
        _lag_products(load(spark, sf_dir, "events"))
        .filter(F.col("den") > 0)
        .select(
            "event_type",
            "nd",
            *[
                (F.col(f"n{k}").cast("double") / F.col("den")).alias(f"r{k}")
                for k in range(1, 8)
            ],
        )
    )
    # statically unrolled Durbin-Levinson, mirroring _durbin_levinson_sql.
    # r11: lazy checkpoint so the 13 stacked recursion projections
    # analyze against a 5-row leaf instead of the full daily-rollup
    # plan (the ts_lttb_downsample idiom; A/B 2.10 -> 1.75 s median)
    cur = _durbin_levinson_spark(base.localCheckpoint(eager=False))
    lags = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.col(f"phi_{k}_{k}").alias("p"),
            )
            for k in range(1, 8)
        ]
    )
    return (
        cur.select(
            "event_type",
            F.col("nd").cast("long").alias("n_days"),
            F.explode(lags).alias("u"),
        )
        .select(
            "event_type",
            "n_days",
            F.col("u.k").alias("lag"),
            round_long(F.lit(1000000.0) * F.col("u.p")).alias("pacf_micro"),
        )
    )


@query(
    "win_rolling_regression",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2, 3
    ),
    sums AS (
        SELECT event_type, d,
               COUNT(*) OVER w AS n,
               SUM(t) OVER w AS st,
               SUM(y) OVER w AS sy,
               SUM(t * y) OVER w AS sty,
               SUM(t * t) OVER w AS stt
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(floor(1000000.0
                      * CAST(n * sty - st * sy AS DOUBLE)
                      / (n * stt - st * st) + 0.5) AS BIGINT) AS slope_micro
    FROM sums WHERE n = 7
    """,
)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of each type's daily counts — the trend
    VELOCITY metric ("how fast is this source growing right now?") that
    a level-only moving average cannot see; the windowed sibling of
    agg_regr_exact.

    Exactness: the day index and counts are integers, so the four
    rolling sums (Σt, Σy, Σty, Σt²) are exact BIGINTs from ONE shared
    window frame, and the closed-form slope (nΣty − ΣtΣy)/(nΣt² − (Σt)²)
    performs its single division in doubles at the very end,
    micro-quantized.  Incomplete leading windows are EXCLUDED (n = 7
    gate) rather than emitting a partial-window slope — the
    ts_seasonal_decompose edge policy.  The window partitions per
    event_type over ~one row per day (calendar-bounded); corpus-sized
    work is the one daily aggregate."""
    sums = _full_frames(
        _daily_counts(load(spark, sf_dir, "events"), "d", "t", x="y"),
        7,
        [],
        st=F.sum("t"),
        sy=F.sum("y"),
        sty=F.sum(F.col("t") * F.col("y")),
        stt=F.sum(F.col("t") * F.col("t")),
    )
    slope = round_long(
        F.lit(1000000.0)
        * (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    )
    return sums.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        slope.alias("slope_micro"),
    )


@query(
    "ts_twa",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c,
               LEAD(epoch_us(ts)) OVER
                   (PARTITION BY event_type ORDER BY ts, event_id) AS t_next
        FROM events
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN t_next IS NOT NULL
                             THEN (t_next - t) * v_c END) AS BIGINT) AS num,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us
        FROM seq GROUP BY event_type
    )
    SELECT event_type, n_events,
           num AS weighted_centi_us, span_us,
           CAST(floor(1000000.0 * CAST(num AS DOUBLE) / span_us / 100 + 0.5)
                AS BIGINT) AS twa_micro
    FROM agg WHERE span_us > 0
    """,
)
def ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each type's metric value — the
    TimescaleDB ``time_weight('LOCF')`` hyperfunction re-expressed in
    Spark: irregularly-sampled observations where a plain AVG
    over-weights bursts; the honest level metric is the LOCF integral
    SUM(value_i * (t_{i+1} - t_i)) divided by the observed span.

    Exactness: timestamps become INTEGER epoch-microseconds and the
    2-decimal values integer centi-units, so the weighted numerator and
    the span are exact BIGINTs (numerator <= ~1.3e17 at sf0.1 — well
    inside int64), partitioning-invariant with ordinary map-side
    combine; the single double division happens once per group at the
    very end, micro-quantized with the identical expression shape on
    both engines.  The last observation per type carries no following
    interval and is excluded from the numerator (LOCF convention);
    groups with zero span are dropped on both sides.

    Scale shape: ONE per-key window (lead) = one shuffle on
    event_type, then the groupBy reuses the same partitioning (no
    second exchange).  At 100 TB with unbounded keys, range-partition
    by (key, time-bucket) and hand the bucket-boundary row to the next
    bucket — the numerator is a plain sum, so bucket partials add."""
    e = load(spark, sf_dir, "events")
    # ordering by integer t == ordering by ts (epoch-us is monotone)
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    seq = e.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t"),
        round_long(F.col("value") * 100).alias("v_c"),
    ).withColumn("t_next", F.lead("t").over(w))
    agg = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.col("t_next").isNotNull(),
                (F.col("t_next") - F.col("t")) * F.col("v_c"),
            )
        ).alias("num"),
        (F.max("t") - F.min("t")).alias("span_us"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "event_type",
        "n_events",
        F.col("num").cast("long").alias("weighted_centi_us"),
        F.col("span_us").cast("long").alias("span_us"),
        round_long(
            F.lit(1000000.0) * F.col("num").cast("double") / F.col("span_us")
            / 100
        )
        .alias("twa_micro"),
    )


_CROSTON_A = 0.1  # SES smoothing for both demand size and interval


@query(
    "ts_croston",
    oracle=f"""
    WITH pur AS (
        SELECT user_id,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS di,
               CAST(COUNT(*) AS BIGINT) AS z
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    gaps AS (
        SELECT user_id, di, z,
               di - COALESCE(LAG(di) OVER
                   (PARTITION BY user_id ORDER BY di), -1) AS g
        FROM pur
    ),
    arrs AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_demands,
               list([CAST(z AS DOUBLE), CAST(g AS DOUBLE)] ORDER BY di)
                   AS pts
        FROM gaps GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, n_demands,
               list_reduce(pts,
                   (a, x) -> [{_CROSTON_A} * x[1] + {1 - _CROSTON_A} * a[1],
                              {_CROSTON_A} * x[2] + {1 - _CROSTON_A} * a[2]])
                   AS s
        FROM arrs
    )
    SELECT user_id, n_demands,
           CAST(floor(1000000.0 * s[1] + 0.5) AS BIGINT) AS z_hat_micro,
           CAST(floor(1000000.0 * s[2] + 0.5) AS BIGINT) AS p_hat_micro,
           CAST(floor(1000000.0 * s[1] / s[2] + 0.5) AS BIGINT)
               AS forecast_micro
    FROM folded
    """,
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per user over their daily PURCHASE counts — the
    standard forecast for INTERMITTENT demand (sparse series with many
    zero days), where plain exponential smoothing collapses toward
    zero between events: demand size and inter-arrival interval are
    smoothed separately (SES, alpha=0.1) over the nonzero-demand
    occurrences only, and the demand-rate forecast is their ratio.

    Determinism: the per-user series folds LEFT in day order through
    one list_reduce with the first (size, gap) pair as the seed (both
    engines use the identical chain — the ts_holt_winters idiom);
    sizes and gaps are exact integers (first gap measured from the day
    before the window by convention), so every fold input is exact and
    the three outputs micro-quantize one double chain.

    Scale: one corpus-sized aggregate (user x day), one per-user lag
    window (naturally partitioned), then model-sized folds — the
    sparse encoding means state is per-DEMAND, not per-day, which is
    the point of Croston at 100 TB: a year of zeros costs nothing."""
    e = load(spark, sf_dir, "events")
    pur = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            _day_idx().cast("long").alias("di"),
        )
        .agg(F.count(F.lit(1)).alias("z"))
    )
    w = Window.partitionBy("user_id").orderBy("di")
    gaps = pur.withColumn(
        "g", F.col("di") - F.coalesce(F.lag("di").over(w), F.lit(-1))
    )
    arrs = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_demands"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("di"),
                    F.array(
                        F.col("z").cast("double"), F.col("g").cast("double")
                    ).alias("pt"),
                )
            )
        ).alias("pts"),
    )
    pairs = F.transform(F.col("pts"), lambda p: p["pt"])
    a = F.lit(_CROSTON_A)
    b = F.lit(1 - _CROSTON_A)
    s = F.aggregate(
        F.slice(pairs, 2, F.greatest(F.size(pairs) - 1, F.lit(0))),
        F.element_at(pairs, 1),
        lambda acc, x: F.array(
            a * x[0] + b * acc[0], a * x[1] + b * acc[1]
        ),
    )
    folded = arrs.select("user_id", "n_demands", s.alias("s"))
    return folded.select(
        "user_id",
        "n_demands",
        round_long(F.lit(1000000.0) * F.col("s")[0]).alias("z_hat_micro"),
        round_long(F.lit(1000000.0) * F.col("s")[1]).alias("p_hat_micro"),
        round_long(F.lit(1000000.0) * (F.col("s")[0] / F.col("s")[1])).alias(
            "forecast_micro"
        ),
    )


def _lttb_sql() -> str:
    """Generate the LTTB selection CTE chain (8 unrolled bucket steps,
    the _durbin_levinson_sql idiom) as plain relational SQL: no lambda
    folds.  ``pick{k}`` holds one row per series carrying the current
    anchor as plain columns ``at``/``av`` plus the picks so far; step k
    joins it to bucket k's points and keeps the largest triangle with
    ``max`` over an ``{area, -t, v}`` struct (ties keep the earliest
    point, as the Spark fold's strict ``>`` does).  An EMPTY bucket
    joins no point, so its pick is NULL, the anchor carries forward and
    the emission below drops the row.  All arithmetic is integer (areas
    cross-multiplied by the third point's cardinality), so engine
    agreement is exact.

    DuckDB 1.0.0 mis-evaluated the earlier form (a ``list_reduce`` fold
    per step whose captured anchor was a nested CASE over the previous
    folds): with several series in one vector some folds returned
    ``[0,0,0]`` or a wrong pick, and thread count changed which."""
    area = ("abs((s.at * p.cc - p.ct) * (p.v - s.av) "
            "- (s.at - p.t) * (p.cv - s.av * p.cc))")
    best = f"max({{'area': {area}, 'neg_t': -p.t, 'v': p.v}})"
    steps = []
    for k in range(8):
        picked = "".join(f"s.t{j}, s.v{j}, " for j in range(k))
        steps.append(
            f"best{k} AS (\n"
            f"        SELECT s.event_type, s.fp_t, s.fp_v, s.lp_t, s.lp_v,\n"
            f"               {picked}s.at, s.av, {best} AS m\n"
            f"        FROM pick{k} s LEFT JOIN pts p\n"
            f"          ON p.event_type = s.event_type AND p.b = {k}\n"
            f"        GROUP BY ALL\n"
            f"    ),\n"
            f"    pick{k + 1} AS (\n"
            f"        SELECT * EXCLUDE (m, at, av),\n"
            f"               -m.neg_t AS t{k}, m.v AS v{k},\n"
            f"               COALESCE(-m.neg_t, at) AS at,"
            f" COALESCE(m.v, av) AS av\n"
            f"        FROM best{k}\n"
            f"    )"
        )
    return ",\n    ".join(steps)


def _lttb_emit(col: str) -> str:
    """CASE over the output slot ``i``: first point, 8 picks, last."""
    picks = " ".join(f"WHEN {k + 1} THEN {col}{k}" for k in range(8))
    return f"CASE i WHEN 0 THEN fp_{col} {picks} WHEN 9 THEN lp_{col} END"


@query(
    "ts_lttb_downsample",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(t) AS t_lo, MAX(t) AS t_hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type
    ),
    mid AS (
        SELECT d.event_type, d.t, d.v,
               CAST((ROW_NUMBER() OVER (PARTITION BY d.event_type
                                        ORDER BY d.t) - 1) * 8
                    // (b.n - 2) AS BIGINT) AS b
        FROM daily d JOIN bounds b USING (event_type)
        WHERE d.t > b.t_lo AND d.t < b.t_hi
    ),
    ends AS (
        SELECT bo.event_type, fpd.t AS fp_t, fpd.v AS fp_v,
               lpd.t AS lp_t, lpd.v AS lp_v
        FROM bounds bo
        JOIN daily fpd ON fpd.event_type = bo.event_type
                      AND fpd.t = bo.t_lo
        JOIN daily lpd ON lpd.event_type = bo.event_type
                      AND lpd.t = bo.t_hi
    ),
    cents AS (
        SELECT event_type, b, CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(v) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS c
        FROM mid GROUP BY event_type, b
    ),
    -- the third point for bucket b: the NEXT NON-EMPTY bucket's
    -- centroid, falling back to the last point
    third AS (
        SELECT c.event_type, c.b,
               COALESCE(LEAD(c.st) OVER w, e.lp_t) AS ct,
               COALESCE(LEAD(c.sv) OVER w, e.lp_v) AS cv,
               COALESCE(LEAD(c.c) OVER w, 1) AS cc
        FROM cents c JOIN ends e USING (event_type)
        WINDOW w AS (PARTITION BY c.event_type ORDER BY c.b)
    ),
    pts AS (
        SELECT m.event_type, m.b, m.t, m.v, th.ct, th.cv, th.cc
        FROM mid m JOIN third th USING (event_type, b)
    ),
    pick0 AS (SELECT *, fp_t AS at, fp_v AS av FROM ends),
    {_lttb_sql()}
    SELECT event_type, CAST(i AS BIGINT) AS sel_idx,
           {_lttb_emit("t")} AS day_idx,
           {_lttb_emit("v")} AS day_value
    FROM pick8, range(10) r(i)
    WHERE day_idx IS NOT NULL
    """,
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each type's daily
    series to 10 points — the standard dashboard decimation (Steinarsson
    2013): first and last points always survive; each of 8 interior
    buckets keeps the point forming the largest triangle with the
    PREVIOUSLY SELECTED point and the NEXT bucket's centroid, so peaks
    and reversals survive where naive every-Nth sampling erases them.

    The selection is sequential across buckets (each pick depends on
    the previous), so it is STATICALLY UNROLLED into 8 steps (the
    Durbin-Levinson idiom) of one argmax-fold each; triangle areas are
    cross-multiplied by the next bucket's cardinality so every
    comparison is EXACT INTEGER arithmetic (t = day index, v = count —
    no IEEE anywhere), ties keep the earliest point (strict-> fold),
    and both engines run the identical selection chain over BIGINT
    3-lists.

    Scale: the one corpus-sized stage is the daily rollup; bucketing,
    centroids, and the 8 folds run on one ~30-element array per type
    (calendar-bounded, pinned).  At 100 TB with long series, bucket
    grain becomes (key, time-bucket) partitions and the same unrolled
    selection runs per segment with boundary handoff."""
    e = load(spark, sf_dir, "events")
    # daily (the only corpus-sized stage, ~150 rows out) feeds FOUR
    # consumers (bounds, mid, fp, lp) and mid feeds two (cents, pts);
    # truncate both so the rollup runs once and the downstream 5-row
    # algebra hangs off checkpoint leaves instead of replaying it (and
    # so the 15 stacked per-step projections analyze against a leaf,
    # not the full upstream plan) — r11, the graph-family idiom.
    daily = _daily_counts(e, x="v").localCheckpoint(eager=False)
    bounds = daily.groupBy("event_type").agg(
        F.min("t").alias("t_lo"),
        F.max("t").alias("t_hi"),
        F.count(F.lit(1)).alias("n"),
    )
    mid = (
        daily.join(bounds, "event_type")
        .filter((F.col("t") > F.col("t_lo")) & (F.col("t") < F.col("t_hi")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("t")
            ),
        )
        .withColumn(
            "b", F.floor((F.col("rk") - 1) * 8 / (F.col("n") - 2)).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    cents = (
        mid.groupBy("event_type", "b")
        .agg(
            F.sum("t").alias("st"),
            F.sum("v").alias("sv"),
            F.count(F.lit(1)).alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("b", F.array("b", "st", "sv", "c").alias("a"))
                )
            ).alias("cents_s")
        )
        .select(
            "event_type",
            F.transform(F.col("cents_s"), lambda s: s["a"]).alias("cents"),
        )
    )
    pts = mid.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("t", F.array("b", "t", "v").alias("a")))
        ).alias("pts_s")
    ).select(
        "event_type", F.transform(F.col("pts_s"), lambda s: s["a"]).alias("pts")
    )
    fp = daily.join(
        bounds.select("event_type", F.col("t_lo").alias("t")), ["event_type", "t"]
    ).select("event_type", F.col("t").alias("fp_t"), F.col("v").alias("fp_v"))
    lp = daily.join(
        bounds.select("event_type", F.col("t_hi").alias("t")), ["event_type", "t"]
    ).select("event_type", F.col("t").alias("lp_t"), F.col("v").alias("lp_v"))
    cur = pts.join(cents, "event_type").join(fp, "event_type").join(
        lp, "event_type"
    )
    # statically unrolled bucket picks, mirroring _lttb_sql
    neg1 = F.array(F.lit(-1).cast("long"), F.lit(0).cast("long"), F.lit(0).cast("long"))

    def cent_lookup(j):
        # bucket j's centroid [b, st, sv, c], NULL if empty — lookup by
        # BUCKET ID (positional element_at misaligns on sparse series).
        # NB: the predicate must take exactly ONE arg — a second arg
        # makes F.filter pass the array INDEX into it.
        def pred(cc):
            return cc[0] == F.lit(j)

        # try_element_at: empty bucket -> NULL (ANSI element_at throws)
        return F.try_element_at(F.filter(F.col("cents"), pred), F.lit(1))

    prev_t, prev_v = F.col("fp_t"), F.col("fp_v")
    for k in range(8):
        if k < 7:
            # third point = next NON-EMPTY bucket's centroid, falling
            # back to the last point (mirrors _lttb_sql's coalesce)
            third = F.coalesce(
                *[cent_lookup(j) for j in range(k + 1, 8)],
                F.array(
                    F.lit(-9).cast("long"),
                    F.col("lp_t"),
                    F.col("lp_v"),
                    F.lit(1).cast("long"),
                ),
            )
            cur = cur.withColumn(f"third{k}", third)
            t3 = F.col(f"third{k}")
            ct, cv, cc = t3[1], t3[2], t3[3]
        else:
            ct, cv, cc = F.col("lp_t"), F.col("lp_v"), F.lit(1).cast("long")
        bucket_pts = F.filter(F.col("pts"), lambda p: p[0] == F.lit(k))

        def area(p, _pt=prev_t, _pv=prev_v, _ct=ct, _cv=cv, _cc=cc):
            return F.abs(
                (_pt * _cc - _ct) * (p[2] - _pv) - (_pt - p[1]) * (_cv - _pv * _cc)
            )

        pick = F.aggregate(
            bucket_pts,
            neg1,
            lambda a, p: F.when(
                area(p) > a[0], F.array(area(p), p[1], p[2])
            ).otherwise(a),
        )
        cur = cur.withColumn(f"raw{k}", pick)
        # an EMPTY bucket leaves raw{k} at the [-1,0,0] seed: anchor
        # the next step on the previous REAL pick, never the
        # fabricated (0,0); the ok-filter below drops the seed row
        prev_t = F.when(F.col(f"raw{k}")[0] >= 0, F.col(f"raw{k}")[1]).otherwise(
            prev_t
        )
        prev_v = F.when(F.col(f"raw{k}")[0] >= 0, F.col(f"raw{k}")[2]).otherwise(
            prev_v
        )
    sels = F.array(
        F.struct(
            F.lit(0).cast("long").alias("sel_idx"),
            F.lit(0).cast("long").alias("ok"),
            F.col("fp_t").alias("t"),
            F.col("fp_v").alias("v"),
        ),
        *[
            F.struct(
                F.lit(k + 1).cast("long").alias("sel_idx"),
                F.col(f"raw{k}")[0].alias("ok"),
                F.col(f"raw{k}")[1].alias("t"),
                F.col(f"raw{k}")[2].alias("v"),
            )
            for k in range(8)
        ],
        F.struct(
            F.lit(9).cast("long").alias("sel_idx"),
            F.lit(0).cast("long").alias("ok"),
            F.col("lp_t").alias("t"),
            F.col("lp_v").alias("v"),
        ),
    )
    kept = F.filter(sels, lambda s: s["ok"] >= 0)
    return cur.select("event_type", F.explode(kept).alias("u")).select(
        "event_type",
        F.col("u.sel_idx").alias("sel_idx"),
        F.col("u.t").alias("day_idx"),
        F.col("u.v").alias("day_value"),
    )


_KMV_K = 16  # bottom-k sketch size


@query(
    "sample_bottomk_sketch",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type, user_id,
               (user_id * {KNUTH_MULT}) % {KNUTH_MOD} AS h
        FROM du
    ),
    ranked AS (
        SELECT event_type, user_id, h,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS rk
        FROM hashed
    ),
    bottom AS (SELECT * FROM ranked WHERE rk <= {_KMV_K}),
    kth AS (
        SELECT event_type, CAST(MAX(h) AS BIGINT) AS hk,
               CAST(COUNT(*) AS BIGINT) AS n_bottom
        FROM bottom GROUP BY event_type
    )
    -- textbook KMV exact mode: a group below sketch capacity IS the
    -- exact distinct count; the hk > 0 guard keeps DuckDB's // (which
    -- raises on 0) aligned with Spark's div (which NULLs) — reachable
    -- only via >= k distinct ids all hashing to 0, but guarded anyway
    SELECT b.event_type, CAST(b.rk AS BIGINT) AS rk, b.user_id,
           CASE WHEN k.n_bottom < {_KMV_K} THEN k.n_bottom
                WHEN k.hk > 0 THEN
               CAST(({(_KMV_K - 1)} * {KNUTH_MOD}::BIGINT) // k.hk AS BIGINT)
           END AS kmv_est
    FROM bottom b JOIN kth k USING (event_type)
    """,
)
def sample_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k sketch per event_type: the k users with the
    smallest deterministic Knuth-hash values — simultaneously a
    MERGEABLE uniform sample (union two shards' bottom-k, re-take
    bottom-k: exactly the whole's bottom-k) and a distinct-count
    estimator ((k-1) * M / h_k; EXACT n_bottom when the group holds
    fewer than k distinct users — textbook KMV exact mode), the
    hash-order dual of reservoir sampling that needs no randomness and
    no coordination.

    This is the 100 TB sampling architecture: every shard ships k
    (hash, id) pairs, merges are k-sized, and the same sketch answers
    "give me a stable uniform sample" and "roughly how many distinct"
    — deterministic, so BOTH outputs (including the estimate, computed
    with exact integer division on both engines) hash-check against
    the oracle rather than needing an accuracy band.  Ties on hash
    break by user_id; the rank window partitions per type over the
    deduplicated (type, user) set."""
    e = load(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type",
        "user_id",
        ((F.col("user_id") * KNUTH_MULT) % KNUTH_MOD).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    bottom = hashed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KMV_K
    )
    kth = bottom.groupBy("event_type").agg(
        F.max("h").cast("long").alias("hk"),
        F.count(F.lit(1)).cast("long").alias("n_bottom"),
    )
    # textbook KMV exact mode below capacity; hk > 0 guards the
    # division so DuckDB's //-raises-on-0 never diverges from Spark's
    # div-NULLs-on-0 (see oracle comment)
    est = F.when(F.col("n_bottom") < _KMV_K, F.col("n_bottom")).when(
        F.col("hk") > 0,
        F.expr(f"{(_KMV_K - 1) * KNUTH_MOD} div hk"),
    )
    return bottom.join(F.broadcast(kth), "event_type").select(
        "event_type",
        F.col("rk").cast("long").alias("rk"),
        "user_id",
        est.cast("long").alias("kmv_est"),
    )


@query(
    "ts_mann_kendall",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    pairs AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.t < b.t
        GROUP BY a.event_type
    ),
    stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(SUM(tg * (tg - 1) / 2) AS BIGINT) AS tv,
               CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tvar
        FROM (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS tg
            FROM daily GROUP BY event_type, x
        ) GROUP BY event_type
    )
    SELECT s.event_type, st.n AS n_days, s.s AS s_stat,
           CASE WHEN st.n >= 2
                 AND st.n * (st.n - 1) / 2 - ti.tv > 0 THEN
               CAST(floor(1000000.0 * CAST(s.s AS DOUBLE)
                    / sqrt(CAST((st.n * (st.n - 1) / 2 - ti.tv)
                                * (st.n * (st.n - 1) / 2) AS DOUBLE))
                    + 0.5) AS BIGINT)
           END AS tau_micro,
           CASE WHEN st.n * (st.n - 1) * (2 * st.n + 5) - ti.tvar > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(s.s AS DOUBLE)
                       - CASE WHEN s.s > 0 THEN 1.0
                              WHEN s.s < 0 THEN -1.0 ELSE 0.0 END)
                    / sqrt(CAST(st.n * (st.n - 1) * (2 * st.n + 5)
                                - ti.tvar AS DOUBLE) / 18.0)
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM pairs s
    JOIN stats st USING (event_type)
    JOIN ties ti USING (event_type)
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type's daily-count series —
    the standard non-parametric "is this series monotonically
    trending?" screen (Mann 1945, Kendall 1975): S = the number of
    increasing pairs minus decreasing pairs, tau-b = S normalized with
    the tie correction, and the continuity-corrected normal z so the
    alerting stack can threshold at |z| > 1.96 without assuming
    normality of the counts (the CUSUM/changepoint family's
    distribution-free sibling).

    ALL-INTEGER until two final operations: S, the tie terms
    Sum tg(tg-1)/2 and Sum tg(tg-1)(2tg+5), and n(n-1)/2 are exact
    BIGINT; tau and z each take ONE double division against ONE sqrt
    (IEEE-correctly-rounded on both engines), then micro-quantize —
    the ts_autocorrelation doctrine.  Degenerate gates mirror both
    engines: all-identical values (D0 = Tv) NULL tau; zero variance
    NULLs z.

    Scale: the corpus-sized stage is the one daily aggregate; the pair
    join is per-key quadratic in DAYS (calendar-bounded, ~n^2/2 rows
    per key for n<=366 — the LTTB/ACF bounded-domain argument), and at
    100 TB with per-entity keys the same shape shuffles once on the
    equi-key and never crosses keys."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tg = daily.groupBy("event_type", "x").agg(
        F.count(F.lit(1)).cast("long").alias("tg")
    )
    ties = tg.groupBy("event_type").agg(
        F.sum(F.col("tg") * (F.col("tg") - 1) / 2).cast("long").alias("tv"),
        F.sum(F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5))
        .cast("long")
        .alias("tvar"),
    )
    j = pairs.join(F.broadcast(stats), "event_type").join(
        F.broadcast(ties), "event_type"
    )
    n = F.col("n")
    # exact BIGINT, mirroring DuckDB's integer n*(n-1)/2
    d0 = F.expr("n * (n - 1) div 2")
    sd = F.col("s").cast("double")
    tau = F.when(
        (n >= 2) & (d0 - F.col("tv") > 0),
        round_long(
            F.lit(1000000.0) * (sd / F.sqrt(((d0 - F.col("tv")) * d0).cast("double")))
        ),
    )
    var18 = n * (n - 1) * (2 * n + 5) - F.col("tvar")
    cc = F.when(F.col("s") > 0, 1.0).when(F.col("s") < 0, -1.0).otherwise(0.0)
    z = F.when(
        var18 > 0,
        round_long(
            F.lit(1000000.0) * ((sd - cc) / F.sqrt(var18.cast("double") / F.lit(18.0)))
        ),
    )
    return j.select(
        "event_type",
        n.alias("n_days"),
        F.col("s").alias("s_stat"),
        tau.alias("tau_micro"),
        z.alias("z_micro"),
    )


@query(
    "ts_theil_sen",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    slopes AS (
        SELECT a.event_type,
               CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
                   AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.t < b.t
    ),
    ranked AS (
        SELECT event_type, slope,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM slopes
    )
    SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(floor(1000000.0 * SUM(slope) / COUNT(*) + 0.5) AS BIGINT)
               AS slope_micro
    FROM ranked
    WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
    GROUP BY event_type
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event type's daily-count series
    — the median of all pairwise slopes (Theil 1950, Sen 1968), the
    outlier-immune alternative to the least-squares slope in
    win_rolling_regression (a single corrupted day moves OLS
    arbitrarily; Theil-Sen tolerates ~29% contamination).

    Determinism: each pairwise slope is ONE double division of exact
    BIGINT differences (identical on both engines); the median is
    selected purely by POSITION in the sorted slope multiset (rows
    (np+1)//2 and np//2+1, averaged — equal when np is odd), so tied
    slopes are interchangeable and no tiebreak is needed; one final
    division + micro-quantization.

    Scale: same as ts_mann_kendall — the corpus-sized stage is the
    daily aggregate; the pair join is per-key quadratic in
    calendar-bounded DAYS, the median window partitions per key over
    ~n^2/2 slope rows (n <= 366), and nothing crosses keys."""
    slope = (F.col("b.x") - F.col("a.x")).cast("double") / (
        F.col("b.t") - F.col("a.t")
    ).cast("double")
    return _pairwise_median(
        _daily_counts(load(spark, sf_dir, "events")),
        F.col("a.t") < F.col("b.t"),
        slope.alias("slope"),
        "slope_micro",
    )


def _pairwise_median(
    daily: DataFrame, pair_pred: Column, value: Column, out: str, halve: bool = False
) -> DataFrame:
    """``(event_type, n_pairs, <out>)``: the median of the aliased
    ``value`` over the same-type day pairs ``a``/``b`` of ``daily`` that
    satisfy ``pair_pred``, micro-quantized (halved first when
    ``halve``).  The median is picked by POSITION, rows (np+1)//2 and
    np//2+1 of the per-type order averaged, so tied values need no
    tiebreak."""
    pairs = daily.alias("a").join(
        daily.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type")) & pair_pred,
    ).select(F.col("a.event_type").alias("event_type"), value)
    name = pairs.columns[1]
    w = Window.partitionBy("event_type").orderBy(name)
    wc = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        name,
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("np"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(np + 1) div 2"))
        | (F.col("rn") == F.expr("np div 2 + 1"))
    )
    micro = F.lit(1000000.0) * F.sum(name) / F.count(F.lit(1))
    if halve:
        micro = micro / F.lit(2.0)
    return mid.groupBy("event_type").agg(
        F.max("np").cast("long").alias("n_pairs"),
        round_long(micro).alias(out),
    )


def _ljung_terms_sql() -> str:
    """The 7 Ljung-Box terms r_k^2/(n-k) as one left-associated sum —
    generated so the Spark chain adds the identical doubles in the
    identical order."""
    return " + ".join(
        f"(CAST(n{k} AS DOUBLE) / den) * (CAST(n{k} AS DOUBLE) / den)"
        f" / (nd - {k})"
        for k in range(1, 8)
    )


@query(
    "ts_ljung_box",
    oracle=f"""
    WITH {_LAGGED_SQL_CTES},
    agg AS (
        SELECT event_type, MAX(nd) AS nd,
               CAST(SUM(y * y) AS DOUBLE) AS den,
               {_LAG_SUMS_SQL}
        FROM lagged GROUP BY event_type
        HAVING SUM(y * y) > 0
    )
    SELECT event_type, CAST(nd AS BIGINT) AS n_days,
           CASE WHEN nd > 7 THEN
               CAST(floor(1000000.0
                    * nd * (nd + 2) * ({_ljung_terms_sql()})
                    + 0.5) AS BIGINT)
           END AS q_micro
    FROM agg
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic (lags 1..7) per event type's
    daily-count series — Q = n(n+2) * Sum r_k^2/(n-k), the standard
    "is there ANY autocorrelation left?" test (Ljung & Box 1978) that
    summarizes what ts_autocorrelation itemizes per lag: threshold Q
    against chi-square(7) ~ 14.07 at 5% to flag non-white residuals.

    Built on the exact-integer ACF formulation (y = n*x - T centering;
    scale factors cancel in each r_k), so every r_k is one double
    division of exact BIGINTs; the 7 terms sum LEFT-ASSOCIATED in
    generated-identical order on both engines (`_ljung_terms_sql`, the
    Durbin-Levinson generator idiom), then one micro-quantization.
    Gates: zero-variance series are excluded (den > 0); n <= 7 (fewer
    points than lags) emits NULL on both engines.

    Scale: identical to ts_autocorrelation — one corpus-sized daily
    aggregate, per-type lag windows over calendar-bounded rows, 7 lag
    products in ONE window pass."""
    agg = _lag_products(load(spark, sf_dir, "events"), den_type="double").filter(
        F.col("den") > 0
    )
    term = lambda k: (
        (F.col(f"n{k}").cast("double") / F.col("den"))
        * (F.col(f"n{k}").cast("double") / F.col("den"))
        / (F.col("nd") - k)
    )
    tsum = term(1)
    for k in range(2, 8):
        tsum = tsum + term(k)
    q = F.when(
        F.col("nd") > 7,
        round_long(F.lit(1000000.0) * F.col("nd") * (F.col("nd") + 2) * tsum),
    )
    return agg.select(
        "event_type",
        F.col("nd").cast("long").alias("n_days"),
        q.alias("q_micro"),
    )


_RES_K = 5  # weighted-reservoir sample size per group


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH w AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS wt
        FROM events GROUP BY event_type, user_id
    ),
    keyed AS (
        SELECT event_type, user_id, wt,
               ln((((user_id + ascii(substr(event_type, 1, 1)) * 131)
                    * {KNUTH_MULT}) % {KNUTH_MOD} + 1)
                  / CAST({KNUTH_MOD} AS DOUBLE)) / wt AS k
        FROM w
    ),
    ranked AS (
        SELECT event_type, user_id, wt,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY k DESC, user_id) AS rk
        FROM keyed
    )
    SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id, wt
    FROM ranked WHERE rk <= {_RES_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis-Spirakis 2006 A-ES) of
    k=5 users per event type, weight = the user's event count —
    THE one-pass distributed weighted-sampling primitive: each item
    gets key u^(1/w) (here the monotone-equivalent ln(u)/w), the top-k
    keys ARE a weighted-without-replacement sample, and two shards'
    top-k merge by re-taking top-k (the bottom-k sketch's weighted
    dual).

    Deterministic by the no-rand() doctrine: u comes from the Knuth
    hash of (user_id, first-type-char), mapped to (0,1] — so the
    sample is reproducible and resumable at 100 TB, and BOTH engines
    rank the identical doubles (ln is used for ORDERING only; no float
    is emitted).  Ties (hash collisions) break by user_id.

    Scale: one shuffle for the (type, user) weight rollup with
    map-side combine; the rank window partitions per type over the
    deduplicated user set; at 100 TB the top-k per partition pre-prune
    (AQE or a manual mapPartitions top-k) bounds the window input —
    the topk_per_group shape."""
    e = load(spark, sf_dir, "events")
    w = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("wt")
    )
    u = (
        (
            (
                F.col("user_id")
                + F.ascii(F.substring("event_type", 1, 1)) * 131
            )
            * KNUTH_MULT
        )
        % KNUTH_MOD
        + 1
    ) / F.lit(float(KNUTH_MOD))
    keyed = w.select(
        "event_type", "user_id", "wt", (F.log(u) / F.col("wt")).alias("k")
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("k").desc(), "user_id"
    )
    return (
        keyed.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _RES_K)
        .select("event_type", F.col("rk").cast("long").alias("rk"),
                "user_id", "wt")
    )


@query(
    "analytics_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    tot AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n
        FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           CAST(floor(1000000.0 * t.n / o.row_n + 0.5) AS BIGINT)
               AS p_micro
    FROM trans t JOIN tot o USING (prev_type)
    """,
)
def analytics_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — P(next event type | previous event type), the
    sequence-mining summary behind "what do users do after an error?"
    funnels and the generative model for synthetic-session fixtures
    (a row whose diagonal dominates flags sticky states; an
    off-diagonal spike flags a forced path).

    Determinism: the per-user ordering tie-breaks on event_id (two
    events in the same second would otherwise make LAG
    non-deterministic — the windows.py doctrine); counts are exact and
    the row-normalized probability is one quantized division.

    Scale: ONE window pass partitioned by user (the sessionization
    shuffle, millions of small partitions — the win_sessionize shape),
    then a tiny (|types|^2-row) aggregate with map-side combine; the
    row-total join broadcasts."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("row_n")
    )
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        round_long(F.lit(1000000.0) * F.col("n") / F.col("row_n")).alias("p_micro"),
    )


@query(
    "agg_hodges_lehmann",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    walsh AS (
        SELECT a.event_type, a.x + b.x AS w2
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.t <= b.t
    ),
    ranked AS (
        SELECT event_type, w2,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY w2) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM walsh
    )
    SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(floor(1000000.0 * SUM(w2) / COUNT(*) / 2.0 + 0.5)
                AS BIGINT) AS hl_micro
    FROM ranked
    WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
    GROUP BY event_type
    """,
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of each type's daily counts — the
    median of all Walsh averages (x_i + x_j)/2 over pairs i <= j
    (Hodges & Lehmann 1963): the location estimator dual to the
    Wilcoxon signed-rank test, ~30% breakdown like the median but far
    more efficient at near-normal data — the robust "typical daily
    volume" the plain median and the outlier-poisoned mean both
    misreport.

    FULLY INTEGER ordering: Walsh averages are ranked by their exact
    BIGINT sums (x_i + x_j) — no float exists anywhere until the one
    final SUM/COUNT/2 division on the (at most two) positional middle
    values, micro-quantized.  The median-by-position doctrine from
    ts_theil_sen.

    Scale: per-key quadratic in calendar-bounded days (the
    ts_mann_kendall pair argument, here n(n+1)/2 pairs including
    i = j), one equi-key shuffle, per-key median window."""
    return _pairwise_median(
        _daily_counts(load(spark, sf_dir, "events")),
        F.col("a.t") <= F.col("b.t"),
        (F.col("a.x") + F.col("b.x")).alias("w2"),
        "hl_micro",
        halve=True,
    )


@query(
    "ts_runs_test",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    diffs AS (
        SELECT event_type, d,
               x - LAG(x) OVER (PARTITION BY event_type ORDER BY d)
                   AS diff
        FROM daily
    ),
    signs AS (
        SELECT event_type, d,
               CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
        FROM diffs WHERE diff IS NOT NULL AND diff <> 0
    ),
    runs AS (
        SELECT event_type, s,
               CASE WHEN LAG(s) OVER (PARTITION BY event_type ORDER BY d)
                         IS DISTINCT FROM s THEN 1 ELSE 0 END AS chg
        FROM signs
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(chg) AS BIGINT) AS r
        FROM runs GROUP BY event_type
    )
    SELECT event_type, n1 AS n_pos, n2 AS n_neg, r AS n_runs,
           CASE WHEN n1 > 0 AND n2 > 0
                 AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                     / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                        * (n1 + n2 - 1)) > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(r AS DOUBLE)
                       - (1.0 + 2.0 * n1 * n2 / CAST(n1 + n2 AS DOUBLE)))
                    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                           / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                              * (n1 + n2 - 1)))
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM agg
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the SIGNS of day-over-day changes per
    event type — "do ups and downs alternate like noise, or clump like
    a regime?": too few runs flags trending/sticky behavior, too many
    flags oscillation (the randomness screen complementing
    ts_mann_kendall's monotone-trend screen).  Zero diffs drop
    (standard practice); the run count R counts sign CHANGES + the
    first run via IS DISTINCT FROM over the lag (null-safe on row 1,
    identical both engines).

    ALL-INTEGER until z: n+, n-, R are exact; mean and variance of R
    under H0 are evaluated in ONE identical expression shape per
    engine against ONE sqrt, micro-quantized; one-signed series (n+ or
    n- zero) and zero-variance cases are NULL on both engines.

    Scale: two window passes sharing the (event_type, d) sort over the
    calendar-bounded daily rollup (the win_rsi shape), then a tiny
    per-type aggregate."""
    diffs = _day_diffs(load(spark, sf_dir, "events")).filter(F.col("diff") != 0)
    wl = Window.partitionBy("event_type").orderBy("d")
    signs = diffs.select(
        "event_type",
        "d",
        F.when(F.col("diff") > 0, 1).otherwise(-1).alias("s"),
    )
    runs = signs.select(
        "event_type",
        "s",
        F.when(
            ~F.lag("s").over(wl).eqNullSafe(F.col("s")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum("chg").cast("long").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    nn = (n1 + n2).cast("double")
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (((n1 + n2) * (n1 + n2)).cast("double") * (n1 + n2 - 1))
    )
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n2 / nn
    z = F.when(
        (n1 > 0) & (n2 > 0) & (var > 0),
        round_long(F.lit(1000000.0) * (r.cast("double") - mu) / F.sqrt(var)),
    )
    return agg.select(
        "event_type",
        n1.alias("n_pos"),
        n2.alias("n_neg"),
        r.alias("n_runs"),
        z.alias("z_micro"),
    )


# The SQL twins of _dow_cells (daily) and of _contingency (daily, rowt,
# colt, tot): the event_type x day-of-week contingency table.
_DOW_CELLS_SQL_CTE = """daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    )"""
_CONTINGENCY_SQL_CTES = f"""{_DOW_CELLS_SQL_CTE},
    rowt AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
        FROM daily GROUP BY event_type
    ),
    colt AS (
        SELECT dow, CAST(SUM(o) AS BIGINT) AS c
        FROM daily GROUP BY dow
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM daily)"""


@query(
    "analytics_chisq_cells",
    oracle=f"""
    WITH {_CONTINGENCY_SQL_CTES}
    SELECT d.event_type, d.dow, d.o,
           CAST(floor(1000000.0 * rt.r * ct.c / t.n + 0.5) AS BIGINT)
               AS e_micro,
           CAST(floor(1000000.0
                * (CAST(d.o * t.n - rt.r * ct.c AS DOUBLE)
                   * CAST(d.o * t.n - rt.r * ct.c AS DOUBLE))
                / (CAST(t.n AS DOUBLE) * rt.r * ct.c)
                + 0.5) AS BIGINT) AS chisq_contrib_micro
    FROM daily d
    JOIN rowt rt USING (event_type)
    JOIN colt ct USING (dow)
    CROSS JOIN tot t
    """,
)
def analytics_chisq_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for event_type x day-of-week — is
    traffic mix independent of weekday?  Emits each cell's observed
    count, expected count r*c/N, and its chi-square contribution
    (o - e)^2/e in the algebraically-cleared form
    (o*N - r*c)^2 / (N*r*c), so EVERYTHING stays exact BIGINT until
    one per-cell division (no aggregated floats, no chi-square sum —
    consumers threshold cells directly, which is what the anomaly
    dashboard wants anyway: WHICH cell broke, not just that one did).

    Day-of-week is (epoch-day delta) % 7 — pure integer arithmetic,
    identical on both engines (named-dow functions disagree on
    week-start conventions).  Cells exist only where o >= 1, so r, c,
    N >= 1 and no guard is needed.

    Scale: one corpus-sized aggregate to the |types| x 7 cell grid;
    row/col/grand totals are cell-grid-sized re-aggregations that
    BROADCAST back — at 100 TB nothing after the first groupBy touches
    corpus-sized data."""
    daily, rowt, colt, tot = _contingency(load(spark, sf_dir, "events"))
    j = (
        daily.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tot))
    )
    return j.select(
        "event_type",
        "dow",
        "o",
        round_long(F.lit(1000000.0) * F.col("r") * F.col("c") / F.col("n"))
        .alias("e_micro"),
        _chisq_contrib_micro().alias("chisq_contrib_micro"),
    )


def _dow_cells(e: DataFrame) -> DataFrame:
    """``(event_type, dow, o)``: the BIGINT event count of each observed
    event_type x day-of-week cell.  Day-of-week is the epoch-day delta
    % 7, integer arithmetic identical on both engines."""
    return e.groupBy(
        "event_type",
        (_day_idx().cast("long") % 7).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))


def _contingency(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The event_type x day-of-week contingency table of ``e``: the
    observed cells ``(event_type, dow, o)``, the row totals
    ``(event_type, r)``, the column totals ``(dow, c)`` and the one-row
    grand total ``(n)``, all BIGINT."""
    daily = _dow_cells(e)
    rowt = daily.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("r")
    )
    colt = daily.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tot = daily.agg(F.sum("o").cast("long").alias("n"))
    return daily, rowt, colt, tot


def _chisq_contrib_micro() -> Column:
    """A cell's chi-square contribution (o*N - r*c)^2 / (N*r*c),
    micro-quantized to BIGINT: exact integers until the one division."""
    num = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    return round_long(
        F.lit(1000000.0)
        * (num.cast("double") * num.cast("double"))
        / (F.col("n").cast("double") * F.col("r") * F.col("c"))
    )


def _midrank_x2(v: Column) -> Column:
    """``r2``: twice the midrank of ``v`` within its event type, ties
    sharing one value -- min rank + max rank of the tie group,
    ``2 * RANK + (tie size - 1)`` -- so the half ranks stay an exact
    BIGINT."""
    w = Window.partitionBy("event_type").orderBy(v)
    wt = Window.partitionBy("event_type", v)
    return (
        (F.rank().over(w) + (F.count(F.lit(1)).over(wt) - 1) + F.rank().over(w))
        .cast("long")
        .alias("r2")
    )


@query(
    "agg_mannwhitney_u",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    grp AS (
        SELECT event_type, x,
               CASE WHEN t % 7 IN (5, 6) THEN 1 ELSE 0 END AS is_wkend
        FROM daily
    ),
    ranked AS (
        SELECT event_type, x, is_wkend,
               -- mid-ranks doubled to stay integer: 2*avg rank of the
               -- tie group = (min_rank + max_rank) within ORDER BY x
               CAST(RANK() OVER w
                    + (COUNT(*) OVER (PARTITION BY event_type, x) - 1)
                    + RANK() OVER w AS BIGINT) AS r2
        FROM grp
        WINDOW w AS (PARTITION BY event_type ORDER BY x)
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN is_wkend = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN is_wkend = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN is_wkend = 1 THEN r2 ELSE 0 END)
                    AS BIGINT) AS r1_2
        FROM ranked GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(SUM(tg * tg * tg - tg) AS BIGINT) AS t3
        FROM (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS tg
            FROM grp GROUP BY event_type, x
        ) GROUP BY event_type
    )
    SELECT a.event_type, a.n1 AS n_weekend, a.n2 AS n_weekday,
           -- U1 doubled stays integer: 2*U1 = R1_2 - n1(n1+1)
           CAST((a.r1_2 - a.n1 * (a.n1 + 1)) AS BIGINT) AS u1_x2,
           CASE WHEN a.n1 > 0 AND a.n2 > 0
                 AND a.n1 * a.n2
                     * (CAST((a.n1 + a.n2 + 1) AS DOUBLE)
                        - CAST(t.t3 AS DOUBLE)
                          / ((a.n1 + a.n2) * (a.n1 + a.n2 - 1))) / 12.0
                     > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(a.r1_2 - a.n1 * (a.n1 + 1) AS DOUBLE) / 2.0
                       - CAST(a.n1 * a.n2 AS DOUBLE) / 2.0)
                    / sqrt(a.n1 * a.n2
                           * (CAST((a.n1 + a.n2 + 1) AS DOUBLE)
                              - CAST(t.t3 AS DOUBLE)
                                / ((a.n1 + a.n2) * (a.n1 + a.n2 - 1)))
                           / 12.0)
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM agg a JOIN ties t USING (event_type)
    """,
)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test per event type: are WEEKEND daily counts
    drawn from the same distribution as WEEKDAY ones?  The standard
    nonparametric two-sample location test (Mann & Whitney 1947),
    completing the distribution-free family (ts_mann_kendall = trend,
    ts_runs_test = randomness, this = group shift) — the weekday/
    weekend split is the canonical traffic-mix question and dow comes
    from epoch-day % 7 (engine-identical integer arithmetic; day 0 =
    2024-01-01 is a Monday, so % 7 in (5,6) = weekend).

    INTEGER rank trick: tie mid-ranks are halves, so DOUBLED ranks
    (min_rank + max_rank of the tie group = 2*RANK + (tie_size - 1))
    stay exact BIGINT; 2*U1 = 2*R1 - n1(n1+1) is exact; the normal z
    with the tie-corrected variance evaluates ONE identical expression
    shape per engine against ONE sqrt, micro-quantized.  One-sided
    groups or zero variance emit NULL on both engines.

    Scale: one corpus-sized daily aggregate; the rank window partitions
    per type over calendar-bounded rows; tie terms re-aggregate the
    same tiny table."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    grp = daily.select(
        "event_type",
        "x",
        F.when((F.col("t") % 7).isin(5, 6), 1).otherwise(0).alias("is_wkend"),
    )
    ranked = grp.select("event_type", "x", "is_wkend", _midrank_x2(F.col("x")))
    agg = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_wkend") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("is_wkend") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("is_wkend") == 1, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r1_2"),
    )
    tg = grp.groupBy("event_type", "x").agg(
        F.count(F.lit(1)).cast("long").alias("tg")
    )
    ties = tg.groupBy("event_type").agg(
        F.sum(F.col("tg") * F.col("tg") * F.col("tg") - F.col("tg"))
        .cast("long")
        .alias("t3")
    )
    j = agg.join(F.broadcast(ties), "event_type")
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2 = (F.col("r1_2") - n1 * (n1 + 1)).cast("long")
    var = (
        n1 * n2
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("t3").cast("double") / ((n1 + n2) * (n1 + n2 - 1))
        )
        / F.lit(12.0)
    )
    z = F.when(
        (n1 > 0) & (n2 > 0) & (var > 0),
        round_long(
            F.lit(1000000.0)
            * (
                u1x2.cast("double") / F.lit(2.0)
                - (n1 * n2).cast("double") / F.lit(2.0)
            )
            / F.sqrt(var)
        ),
    )
    return j.select(
        "event_type",
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        u1x2.alias("u1_x2"),
        z.alias("z_micro"),
    )


@query(
    "analytics_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 1000
                    - LAG(epoch_us(ts) // 1000)
                          OVER (PARTITION BY event_type
                                ORDER BY ts, event_id)
                    AS BIGINT) AS g
        FROM events
    ),
    agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s1,
               CAST(SUM(g * g) AS BIGINT) AS s2
        FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           CAST(floor(1000000.0 * s1 / n + 0.5) AS BIGINT) AS mean_ms_micro,
           CASE WHEN sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(n AS DOUBLE) * n))
                     + CAST(s1 AS DOUBLE) / n > 0 THEN
               CAST(floor(1000000.0
                    * (sqrt((CAST(s2 AS DOUBLE) * n
                             - CAST(s1 AS DOUBLE) * s1)
                            / (CAST(n AS DOUBLE) * n))
                       - CAST(s1 AS DOUBLE) / n)
                    / (sqrt((CAST(s2 AS DOUBLE) * n
                             - CAST(s1 AS DOUBLE) * s1)
                            / (CAST(n AS DOUBLE) * n))
                       + CAST(s1 AS DOUBLE) / n)
                    + 0.5) AS BIGINT)
           END AS burstiness_micro
    FROM agg
    """,
)
def analytics_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of the
    inter-event gaps per event type — the single number separating
    Poisson-like arrivals (B ~ 0) from bursty machine traffic (B -> 1)
    and metronome-regular heartbeats (B -> -1); the arrival-process
    companion to the volume-side anomaly ops.

    Gaps are exact BIGINT milliseconds (floored epoch-ms differences —
    microsecond gap-squares overflow int64 at month-long gaps, measured;
    ordered by (ts, event_id) so same-timestamp events can't flip the
    lag);
    sigma comes from the exact power sums (n*S2 - S1^2)/n^2 — the
    win_bollinger_exact identity — so both engines evaluate ONE
    identical chain of two divisions and one sqrt, micro-quantized.
    The sigma + mu = 0 edge (single repeated timestamp) is NULL on
    both engines.

    Scale: ONE window pass partitioned per type (same-key lag) over
    raw events, then a 3-sum aggregate with map-side combine; at
    100 TB the per-entity variant partitions by (entity) exactly like
    win_sessionize.  Overflow bound: ms gaps keep Sum g^2 < 2^63 up
    to ~10^9 gaps of a day each; the us formulation measurably
    overflowed at fixture scale, which is why this is ms."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ms = F.expr("unix_micros(ts) div 1000")
    gaps = e.select(
        "event_type", (ms - F.lag(ms).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mu = s1.cast("double") / n
    sigma = F.sqrt(
        (s2.cast("double") * n - s1.cast("double") * s1)
        / (n.cast("double") * n)
    )
    b = F.when(
        sigma + mu > 0,
        round_long(F.lit(1000000.0) * (sigma - mu) / (sigma + mu)),
    )
    return agg.select(
        "event_type",
        n.alias("n_gaps"),
        round_long(F.lit(1000000.0) * s1 / n).alias("mean_ms_micro"),
        b.alias("burstiness_micro"),
    )


@query(
    "analytics_new_vs_returning",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id
    )
    SELECT strftime(ud.d, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN ud.d = f.d0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_returning
    FROM ud JOIN firsts f USING (user_id)
    GROUP BY ud.d
    """,
)
def analytics_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the first growth chart every
    product dashboard draws: per day, how many active users are seen
    for the FIRST time ever vs coming back (acquisition vs retention,
    the summary row of win_retention_cohort's full matrix).

    Exact and shuffle-lean: one (user, day) dedup, one per-user
    min(day) (map-side combinable), one broadcast-joinable re-join
    keyed on user, one daily rollup — all integer counts, no floats
    at all.

    Scale: the dedup and the first-day aggregate share the user_id
    shuffle (AQE reuses the exchange); at 100 TB the first-day table
    is incrementally maintainable (MERGE least(seen_min, new_min) —
    the pipeline_rollup_merge pattern), so the daily job never
    rescans history."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    j = ud.join(firsts, "user_id")
    is_new = F.when(F.col("d") == F.col("d0"), 1).otherwise(0)
    return j.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(is_new).cast("long").alias("n_new"),
        F.sum(1 - is_new).cast("long").alias("n_returning"),
    )


@query(
    "analytics_dau_mau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    daily AS (
        SELECT strftime(d, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS dau
        FROM ud GROUP BY d
    ),
    dsum AS (
        SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(dau) AS BIGINT) AS dau_sum
        FROM daily GROUP BY month
    ),
    mau AS (
        SELECT strftime(d, '%Y-%m') AS month,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM ud GROUP BY 1
    )
    SELECT d.month, d.n_days, d.dau_sum, m.mau,
           CAST(floor(1000000.0 * d.dau_sum / (d.n_days * m.mau) + 0.5)
                AS BIGINT) AS stickiness_micro
    FROM dsum d JOIN mau m USING (month)
    """,
)
def analytics_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily actives over monthly
    actives, THE engagement ratio every growth team reports (a
    stickiness near 1 means users show up every day; near 1/30 means
    once-a-month drive-bys), complementing analytics_new_vs_returning's
    acquisition split.

    ALL-INTEGER: the (user, day) dedup feeds both the daily distinct
    counts (summed exactly per month) and the monthly distinct; one
    quantized division at the end.

    Scale: one dedup shuffle keyed (user, day); the daily and monthly
    rollups are day- and month-grain re-aggregations of it.  The
    monthly COUNT(DISTINCT user) re-shuffles the dedup by user — at
    100 TB swap in the bitmap partials (stream_bitmap_partials'
    architecture) to make both grains one-pass mergeable."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    daily = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    dsum_m = daily.groupBy(
        F.date_format("d", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
    )
    mau = ud.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    j = dsum_m.join(F.broadcast(mau), "month")
    return j.select(
        "month",
        "n_days",
        "dau_sum",
        "mau",
        round_long(
            F.lit(1000000.0)
            * F.col("dau_sum")
            / (F.col("n_days") * F.col("mau"))
        )
        .alias("stickiness_micro"),
    )


@query(
    "agg_ks_test",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    grp AS (
        SELECT event_type, x,
               CASE WHEN t % 7 IN (5, 6) THEN 1 ELSE 0 END AS is_wkend
        FROM daily
    ),
    vals AS (
        SELECT event_type, x,
               CAST(SUM(is_wkend) AS BIGINT) AS a,
               CAST(SUM(1 - is_wkend) AS BIGINT) AS b
        FROM grp GROUP BY event_type, x
    ),
    cum AS (
        SELECT event_type,
               CAST(SUM(a) OVER w AS BIGINT) AS ca,
               CAST(SUM(b) OVER w AS BIGINT) AS cb,
               CAST(SUM(a) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
               CAST(SUM(b) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        FROM vals
        WINDOW w AS (PARTITION BY event_type ORDER BY x)
    )
    SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
           CAST(MAX(abs(ca * n2 - cb * n1)) AS BIGINT) AS d_num,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(floor(1000000.0
                    * CAST(MAX(abs(ca * n2 - cb * n1)) AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * n2) + 0.5) AS BIGINT)
           END AS d_micro,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(MAX(abs(ca * n2 - cb * n1)) AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * n2))
                    * sqrt(CAST(n1 * n2 AS DOUBLE) / (n1 + n2))
                    + 0.5) AS BIGINT)
           END AS lambda_micro
    FROM cum GROUP BY event_type, n1, n2
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type: weekend vs
    weekday daily-count DISTRIBUTIONS (Mann-Whitney asks about location
    shift; KS asks about ANY distributional difference — shape, spread,
    or location).  D = max_x |F1(x) - F2(x)| over the pooled support.

    INTEGER statistic: the ECDF gap at value x is |c1(x)*n2 - c2(x)*n1|
    / (n1*n2) where c_i are cumulative counts <= x — the numerator is
    exact BIGINT, so the max is order-free and partitioning-invariant;
    only the final normalization and the asymptotic lambda
    D*sqrt(n1*n2/(n1+n2)) touch doubles, one identical expression shape
    per engine, micro-quantized.  Empty sides emit NULL on both engines.

    Scale: one corpus-sized daily aggregate, then value-grain windows
    over calendar-bounded rows (<= 366 per type-year); the cumulative
    window partitions per type.  At 100 TB the daily table is still
    tiny — the pattern holds unchanged."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    grp = daily.select(
        "event_type",
        "x",
        F.when((F.col("t") % 7).isin(5, 6), 1).otherwise(0).alias("is_wkend"),
    )
    vals = grp.groupBy("event_type", "x").agg(
        F.sum("is_wkend").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("is_wkend")).cast("long").alias("b"),
    )
    w = Window.partitionBy("event_type").orderBy("x")
    wp = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type",
        F.sum("a").over(w).cast("long").alias("ca"),
        F.sum("b").over(w).cast("long").alias("cb"),
        F.sum("a").over(wp).cast("long").alias("n1"),
        F.sum("b").over(wp).cast("long").alias("n2"),
    )
    gap = F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
    agg = cum.groupBy("event_type", "n1", "n2").agg(
        F.max(gap).cast("long").alias("d_num")
    )
    n1d = F.col("n1").cast("double")
    d = F.col("d_num").cast("double") / (n1d * F.col("n2"))
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return agg.select(
        "event_type",
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        "d_num",
        F.when(ok, round_long(F.lit(1000000.0) * d)).alias("d_micro"),
        F.when(
            ok,
            round_long(
                F.lit(1000000.0)
                * (
                    d
                    * F.sqrt(
                        (F.col("n1") * F.col("n2")).cast("double")
                        / (F.col("n1") + F.col("n2"))
                    )
                )
            ),
        ).alias("lambda_micro"),
    )


@query(
    "agg_spearman_rho",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    ranked AS (
        SELECT event_type,
               -- doubled mid-ranks stay exact BIGINT under ties
               CAST(RANK() OVER wx
                    + (COUNT(*) OVER (PARTITION BY event_type, x) - 1)
                    + RANK() OVER wx AS BIGINT) AS rx2,
               CAST(2 * RANK() OVER wt AS BIGINT) AS rt2
        FROM daily
        WINDOW wx AS (PARTITION BY event_type ORDER BY x),
               wt AS (PARTITION BY event_type ORDER BY t)
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx2) AS BIGINT) AS sx,
               CAST(SUM(rt2) AS BIGINT) AS st,
               CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
               CAST(SUM(rt2 * rt2) AS BIGINT) AS stt,
               CAST(SUM(rx2 * rt2) AS BIGINT) AS sxt
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * stt - st * st > 0 THEN
               CAST(floor(1000000.0
                    * CAST(n * sxt - sx * st AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * stt - st * st AS DOUBLE))
                    + 0.5) AS BIGINT)
           END AS rho_micro
    FROM sums
    """,
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per event type between calendar day and
    daily count — the monotone-association twin of ts_mann_kendall's
    trend TEST (Kendall counts concordant pairs; Spearman is Pearson on
    ranks, the cheaper one-pass-after-ranking statistic analysts reach
    for first).

    Tie-safe via the same DOUBLED-mid-rank trick as agg_mannwhitney_u:
    rank sums, squares, and cross products are exact BIGINT (the 2x
    scale cancels between numerator and denominator), so everything is
    order-free until ONE final division against ONE sqrt, micro-
    quantized.  Constant series (zero rank variance) emit NULL on both
    engines.

    Scale: ranking windows partition per type over calendar-bounded
    daily rows; the moment sums are additive partials — per-shard
    (n, sx, st, sxx, stt, sxt) tuples ADD, so rollups to coarser grains
    never re-rank (within a fixed ranking grain)."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    wx = Window.partitionBy("event_type").orderBy("x")
    wtie = Window.partitionBy("event_type", "x")
    wt = Window.partitionBy("event_type").orderBy("t")
    ranked = daily.select(
        "event_type",
        (
            F.rank().over(wx)
            + (F.count(F.lit(1)).over(wtie) - 1)
            + F.rank().over(wx)
        )
        .cast("long")
        .alias("rx2"),
        (F.lit(2) * F.rank().over(wt)).cast("long").alias("rt2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("rt2").cast("long").alias("st"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("rt2") * F.col("rt2")).cast("long").alias("stt"),
        F.sum(F.col("rx2") * F.col("rt2")).cast("long").alias("sxt"),
    )
    n, sx, st = F.col("n"), F.col("sx"), F.col("st")
    vx = n * F.col("sxx") - sx * sx
    vt = n * F.col("stt") - st * st
    return sums.select(
        "event_type",
        "n",
        F.when(
            (vx > 0) & (vt > 0),
            round_long(
                F.lit(1000000.0)
                * (n * F.col("sxt") - sx * st).cast("double")
                / F.sqrt(vx.cast("double") * vt.cast("double"))
            ),
        ).alias("rho_micro"),
    )


@query(
    "agg_welch_ttest",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    sums AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN x ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN x * x ELSE 0 END)
                    AS BIGINT) AS ss1,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 0 ELSE 1 END)
                    AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 0 ELSE x END)
                    AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 0 ELSE x * x END)
                    AS BIGINT) AS ss2
        FROM daily GROUP BY event_type
    ),
    mv AS (
        SELECT event_type, n1, n2,
               {_SIDE_MOMENTS_SQL}
        FROM sums WHERE n1 >= 2 AND n2 >= 2
    )
    SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
           {_welch_t_df_sql("(m1 - m2)")},
           CASE WHEN ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2) > 0
           THEN
               CAST(floor(1000000.0 * (m1 - m2)
                    / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
                    + 0.5) AS BIGINT)
           END AS cohens_d_micro
    FROM mv
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type (weekend vs
    weekday daily means), with the Welch-Satterthwaite degrees of
    freedom and Cohen's d effect size — the PARAMETRIC member of the
    two-sample family (agg_mannwhitney_u is its rank-based twin; report
    both and let the analyst pick their assumptions).

    Exact integer side sums (n, sum x, sum x^2 per side in ONE grouped
    pass — no per-side shuffle), sample variances from the raw->central
    identity, then t, df, and d each evaluate one identical IEEE
    expression shape per engine against one sqrt, micro-quantized.
    Sides smaller than 2 are filtered; zero-variance denominators emit
    NULL on both engines.

    Scale: the six integers per (group, side) are additive partials —
    shards merge by adding, the test statistic is O(groups) driver-free
    arithmetic.  x <= ~1e5/day keeps x^2 sums int64-safe past 1000x
    this fixture; beyond that, shard the power sums by month first."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    wk = (F.col("t") % 7).isin(5, 6)
    x = F.col("x")
    sums = daily.groupBy("event_type").agg(
        F.sum(F.when(wk, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(wk, x).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(wk, x * x).otherwise(0)).cast("long").alias("ss1"),
        F.sum(F.when(wk, 0).otherwise(1)).cast("long").alias("n2"),
        F.sum(F.when(wk, 0).otherwise(x)).cast("long").alias("s2"),
        F.sum(F.when(wk, 0).otherwise(x * x)).cast("long").alias("ss2"),
    )
    n1, n2, v1, v2 = F.col("n1"), F.col("n2"), F.col("v1"), F.col("v2")
    diff = F.col("m1") - F.col("m2")
    pooled = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    return _side_moments(sums, "event_type").select(
        "event_type",
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        *_welch_t_df(diff),
        F.when(
            pooled > 0, round_long(F.lit(1000000.0) * (diff / F.sqrt(pooled)))
        ).alias("cohens_d_micro"),
    )


@query(
    "agg_jarque_bera",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2,
               CAST(SUM(x * x * x) AS BIGINT) AS s3,
               CAST(SUM(x * x * x * x) AS BIGINT) AS s4
        FROM daily GROUP BY event_type
    ),
    mom AS (
        SELECT event_type, n,
               {_CENTRAL_MOMENTS_SQL}
        FROM sums
    )
    SELECT event_type, n,
           CAST(floor(1000000.0 * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                      + 0.5) AS BIGINT) AS skew_micro,
           CAST(floor(1000000.0 * (m4 / (m2 * m2) - 3) + 0.5) AS BIGINT)
               AS kurt_micro,
           CAST(floor(1000000.0 * (CAST(n AS DOUBLE) / 6.0)
                * ((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                       * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                   + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                + 0.5) AS BIGINT) AS jb_micro
    FROM mom WHERE m2 > 0
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type over daily counts —
    the goodness-of-fit rollup built on agg_moments_exact's mergeable
    integer power sums: JB = n/6 * (skew^2 + kurt^2/4), where skew and
    excess kurtosis come from the raw->central moment identities.  The
    monitoring question it answers: has this series' distribution
    stopped looking Gaussian (regime change), even when mean and
    variance alarms stay quiet?

    Population moments from exact BIGINT s1..s4 (x <= ~1e3/day here;
    int64-safe through ~50k/day/type, beyond which shard the partials
    by month and merge), then ONE identical IEEE chain per engine for
    skew, kurtosis, and JB, each micro-quantized; zero-variance groups
    are filtered identically on both engines.

    Scale: additive partials — per-shard (n, s1..s4) tuples ADD, so the
    normality score of any rollup grain is five-integer arithmetic."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d")
    x = F.col("x")
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
        F.sum(x * x * x).cast("long").alias("s3"),
        F.sum(x * x * x * x).cast("long").alias("s4"),
    )
    _, moments = _central_moments()
    mom = sums.select("event_type", "n", *moments)
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    skew = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - F.lit(3)
    return mom.filter(m2 > 0).select(
        "event_type",
        "n",
        round_long(F.lit(1000000.0) * skew).alias("skew_micro"),
        round_long(F.lit(1000000.0) * kurt).alias("kurt_micro"),
        round_long(
            F.lit(1000000.0)
            * (
                (F.col("n").cast("double") / F.lit(6.0))
                * (skew * skew + kurt * kurt / F.lit(4.0))
            )
        ).alias("jb_micro"),
    )


@query(
    "agg_anova_oneway",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    per_group AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(x) AS BIGINT) AS s_i,
               CAST(SUM(x * x) AS BIGINT) AS ss_i
        FROM daily GROUP BY event_type
    ),
    terms AS (
        SELECT n_i, s_i,
               -- micro-quantized per-group terms -> order-free BIGINT sums
               CAST(floor(1000000.0
                    * (CAST(ss_i AS DOUBLE)
                       - CAST(s_i * s_i AS DOUBLE) / n_i) + 0.5)
                    AS BIGINT) AS within_micro,
               CAST(floor(1000000.0 * CAST(s_i * s_i AS DOUBLE) / n_i
                    + 0.5) AS BIGINT) AS meansq_micro
        FROM per_group
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_i) AS BIGINT) AS n_total,
               CAST(SUM(s_i) AS BIGINT) AS s_all,
               CAST(SUM(within_micro) AS BIGINT) AS ssw_micro,
               CAST(SUM(meansq_micro) AS BIGINT) AS sum_meansq_micro
        FROM terms
    )
    SELECT k, n_total, ssw_micro,
           CAST(sum_meansq_micro
                - CAST(floor(1000000.0
                       * CAST(s_all * s_all AS DOUBLE) / n_total + 0.5)
                       AS BIGINT) AS BIGINT) AS ssb_micro,
           CASE WHEN ssw_micro > 0 AND k > 1 AND n_total > k THEN
               CAST(floor(1000000.0
                    * ((CAST(sum_meansq_micro
                             - CAST(floor(1000000.0
                                    * CAST(s_all * s_all AS DOUBLE)
                                    / n_total + 0.5) AS BIGINT)
                             AS DOUBLE) / (k - 1))
                       / (CAST(ssw_micro AS DOUBLE) / (n_total - k)))
                    + 0.5) AS BIGINT)
           END AS f_micro
    FROM tot
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types on daily counts: do
    the five traffic streams share a mean daily volume?  Completes the
    k-group layer above the two-sample tests (Welch t = 2 groups,
    this = k groups).

    Order-free by the house micro-quantization doctrine: each group's
    within-SS and s_i^2/n_i terms are exact-integer-derived doubles
    micro-quantized to BIGINT BEFORE the cross-group sum (a raw double
    sum over groups would be partitioning-ordered), so SSB = sum
    s_i^2/n_i - S^2/N and SSW land as exact integers and the final
    F = (SSB/(k-1)) / (SSW/(N-k)) is one identical expression per
    engine.  Degenerate shapes (one group, zero within-variance) emit
    NULL on both engines.

    Scale: one corpus-sized daily aggregate, then O(groups) arithmetic;
    the (n_i, s_i, ss_i) tuples are additive partials that merge across
    shards without re-scanning."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d")
    x = F.col("x")
    per_group = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(x).cast("long").alias("s_i"),
        F.sum(x * x).cast("long").alias("ss_i"),
    )
    terms = per_group.select(
        "n_i",
        "s_i",
        round_long(
            F.lit(1000000.0)
            * (
                F.col("ss_i").cast("double")
                - (F.col("s_i") * F.col("s_i")).cast("double") / F.col("n_i")
            )
        ).alias("within_micro"),
        round_long(
            F.lit(1000000.0)
            * ((F.col("s_i") * F.col("s_i")).cast("double") / F.col("n_i"))
        ).alias("meansq_micro"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.sum("s_i").cast("long").alias("s_all"),
        F.sum("within_micro").cast("long").alias("ssw_micro"),
        F.sum("meansq_micro").cast("long").alias("sum_meansq_micro"),
    )
    k, n_total = F.col("k"), F.col("n_total")
    grand_micro = round_long(
        F.lit(1000000.0) * ((F.col("s_all") * F.col("s_all")).cast("double") / n_total)
    )
    ssb_micro = (F.col("sum_meansq_micro") - grand_micro).cast("long")
    return tot.select(
        "k",
        "n_total",
        "ssw_micro",
        ssb_micro.alias("ssb_micro"),
        F.when(
            (F.col("ssw_micro") > 0) & (k > 1) & (n_total > k),
            round_long(
                F.lit(1000000.0)
                * (
                    (ssb_micro.cast("double") / (k - 1))
                    / (F.col("ssw_micro").cast("double") / (n_total - k))
                )
            ),
        ).alias("f_micro"),
    )


@query(
    "agg_cramers_v",
    oracle=f"""
    WITH {_CONTINGENCY_SQL_CTES},
    grid AS (
        SELECT rt.event_type, rt.r, ct.dow, ct.c,
               COALESCE(d.o, CAST(0 AS BIGINT)) AS o
        FROM rowt rt
        CROSS JOIN colt ct
        LEFT JOIN daily d
               ON d.event_type = rt.event_type AND d.dow = ct.dow
    ),
    cells AS (
        SELECT CAST(floor(1000000.0
                    * (CAST(g.o * t.n - g.r * g.c AS DOUBLE)
                       * CAST(g.o * t.n - g.r * g.c AS DOUBLE))
                    / (CAST(t.n AS DOUBLE) * g.r * g.c)
                    + 0.5) AS BIGINT) AS contrib_micro
        FROM grid g
        CROSS JOIN tot t
    ),
    dims AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rowt) AS n_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM colt) AS n_cols,
               (SELECT n FROM tot) AS n,
               (SELECT CAST(SUM(contrib_micro) AS BIGINT) FROM cells)
                   AS chisq_micro
    )
    SELECT n, n_rows, n_cols,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df,
           chisq_micro,
           CASE WHEN n_rows > 1 AND n_cols > 1 THEN
               CAST(floor(1000000.0
                    * sqrt((CAST(chisq_micro AS DOUBLE) / 1000000.0)
                           / (CAST(n AS DOUBLE)
                              * least(n_rows - 1, n_cols - 1)))
                    + 0.5) AS BIGINT)
           END AS cramers_v_micro
    FROM dims
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the event_type x day-of-week
    contingency — the single-number rollup of analytics_chisq_cells:
    that operator tells you WHICH cell broke; this one tells you HOW
    STRONGLY the two factors associate overall (V in [0,1], comparable
    across tables of different size — chi-square alone is not).

    Per-cell contributions are micro-quantized to BIGINT in the exact
    algebraically-cleared form (o*N - r*c)^2 / (N*r*c) before the
    cross-cell sum (the chisq_cells doctrine: no aggregated floats),
    then V = sqrt(chisq / (N * min(r-1, c-1))) evaluates once per
    engine.  The contingency table is the FULL row-total x col-total
    grid (rowt CROSS JOIN colt, observed counts left-joined with o
    coalesced to 0), so zero-observed cells contribute their expected
    count r*c/N to chi-square exactly as the textbook statistic
    requires — on sparse data a present-cells-only sum would
    understate chi2 and V (round-7 advisor fix).  Single-row output;
    degenerate 1xC / Rx1 tables emit NULL V on both engines.

    Scale: one corpus-sized aggregate to the |types| x 7 grid, then
    grid-sized arithmetic; row/col/grand totals broadcast back."""
    daily, rowt, colt, tot = _contingency(load(spark, sf_dir, "events"))
    grid = (
        rowt.crossJoin(F.broadcast(colt))
        .join(F.broadcast(daily), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    j = grid.crossJoin(F.broadcast(tot))
    cells = j.select(_chisq_contrib_micro().alias("contrib_micro"))
    chisq = cells.agg(
        F.sum("contrib_micro").cast("long").alias("chisq_micro")
    )
    dims = (
        rowt.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .crossJoin(colt.agg(F.count(F.lit(1)).cast("long").alias("n_cols")))
        .crossJoin(tot)
        .crossJoin(chisq)
    )
    nr, nc = F.col("n_rows"), F.col("n_cols")
    return dims.select(
        "n",
        "n_rows",
        "n_cols",
        ((nr - 1) * (nc - 1)).cast("long").alias("df"),
        "chisq_micro",
        F.when(
            (nr > 1) & (nc > 1),
            round_long(
                F.lit(1000000.0)
                * F.sqrt(
                    (F.col("chisq_micro").cast("double") / F.lit(1000000.0))
                    / (
                        F.col("n").cast("double")
                        * F.least(nr - 1, nc - 1)
                    )
                )
            ),
        ).alias("cramers_v_micro"),
    )


@query(
    "ts_cross_correlation",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    lags(lag) AS (VALUES (-3), (-2), (-1), (0), (1), (2), (3)),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
               a.x AS xa, b.x AS xb
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.event_type > a.event_type
                    AND b.t = a.t + l.lag
    ),
    sums AS (
        SELECT type_a, type_b, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xa) AS BIGINT) AS sx,
               CAST(SUM(xb) AS BIGINT) AS sy,
               CAST(SUM(xa * xb) AS BIGINT) AS sxy,
               CAST(SUM(xa * xa) AS BIGINT) AS sxx,
               CAST(SUM(xb * xb) AS BIGINT) AS syy
        FROM pairs GROUP BY type_a, type_b, lag
    )
    SELECT type_a, type_b, lag, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               CAST(floor(1000000.0
                    * CAST(n * sxy - sx * sy AS DOUBLE)
                    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                    + 0.5) AS BIGINT)
           END AS r_micro
    FROM sums
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between every pair of event-type daily
    series (lags -3..+3) — the lead-lag detector ts_autocorrelation
    can't see: does the click series LEAD the purchase series by two
    days?  The peak-lag row per pair is the input to any
    Granger-style causal screen or marketing-attribution window.

    One daily aggregate feeds a per-lag shifted equi-join on (day+lag)
    — never a windowed re-scan per lag — and every Pearson moment is
    an exact BIGINT sum; r evaluates one closed form per engine
    against two sqrts, micro-quantized, with zero-variance windows
    NULL on both engines.  type_a < type_b plus signed lags covers
    every ordered pair exactly once.

    Scale: the join input is the calendar-bounded daily table (|types|
    x |days|); the 7-lag fan-out multiplies THAT, not the corpus.
    Moment tuples are additive partials per (pair, lag)."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("t").alias("ta"),
        F.col("x").alias("xa"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("t").alias("tb"),
        F.col("x").alias("xb"),
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_b") > F.col("type_a"))
            & (F.col("tb") == F.col("ta") + F.col("lag")),
        )
    )
    sums = pairs.groupBy("type_a", "type_b", "lag").agg(*_power_sums("xa", "xb"))
    return sums.select(
        "type_a", "type_b", "lag", "n", _pearson_micro().alias("r_micro")
    )


@query(
    "profile_key_skew",
    oracle="""
    WITH freqs AS (
        SELECT 'lineitem.l_orderkey' AS key_col, l_orderkey AS k,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem GROUP BY l_orderkey
        UNION ALL
        SELECT 'lineitem.l_partkey', l_partkey, CAST(COUNT(*) AS BIGINT)
        FROM lineitem GROUP BY l_partkey
        UNION ALL
        SELECT 'lineitem.l_suppkey', l_suppkey, CAST(COUNT(*) AS BIGINT)
        FROM lineitem GROUP BY l_suppkey
        UNION ALL
        SELECT 'orders.o_custkey', o_custkey, CAST(COUNT(*) AS BIGINT)
        FROM orders GROUP BY o_custkey
        UNION ALL
        SELECT 'events.user_id', user_id, CAST(COUNT(*) AS BIGINT)
        FROM events GROUP BY user_id
    )
    SELECT key_col,
           CAST(SUM(f) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(f) AS BIGINT) AS max_freq,
           CAST(floor(1000000.0 * CAST(MAX(f) AS DOUBLE) / SUM(f) + 0.5)
                AS BIGINT) AS top1_share_micro,
           CAST(floor(1000000.0 * CAST(MAX(f) AS DOUBLE) * COUNT(*)
                      / SUM(f) + 0.5)
                AS BIGINT) AS skew_ratio_micro
    FROM freqs GROUP BY key_col
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler over the five hot join/group keys — the
    operational report that DECIDES the physical strategy the join
    family implements: skew_ratio = max_freq / mean_freq tells you
    whether a key needs salting (join_skew_salted), a hot-key broadcast
    carve-out, or nothing; top1_share bounds the worst single-task
    shuffle partition.  Run it before the 100 TB job, not after the
    straggler page.

    Each profile is one exact integer frequency aggregate (the
    groupBy's own cost — nothing new is scanned twice); max/mean land
    as two quantized divisions.  UNION ALL keeps per-key-column
    lineage in one result for the dashboard.

    Scale: five independent map-side-combined aggregates; the
    frequency tables are key-cardinality-sized.  The profiler is
    O(distinct keys) memory per column — at 100 TB profile per
    partition and MERGE the (n, max, sum) partials, which are
    additive."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    parts = [
        (li, "l_orderkey", "lineitem.l_orderkey"),
        (li, "l_partkey", "lineitem.l_partkey"),
        (li, "l_suppkey", "lineitem.l_suppkey"),
        (o, "o_custkey", "orders.o_custkey"),
        (e, "user_id", "events.user_id"),
    ]
    freqs = None
    for df, col, name in parts:
        p = df.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("f")
        ).select(F.lit(name).alias("key_col"), "k", "f")
        freqs = p if freqs is None else freqs.unionByName(p)
    return freqs.groupBy("key_col").agg(
        F.sum("f").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("f").cast("long").alias("max_freq"),
        round_long(F.lit(1000000.0) * F.max("f").cast("double") / F.sum("f"))
        .alias("top1_share_micro"),
        round_long(
            F.lit(1000000.0)
            * F.max("f").cast("double")
            * F.count(F.lit(1))
            / F.sum("f")
        )
        .alias("skew_ratio_micro"),
    )


def _milli_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The additive weekly decomposition of each event type's daily
    counts, milli-quantized: the interior days (a full 7-day centered
    window) with ``det_milli`` (1000x minus the window's mean) and the
    day-of-week's seasonal component ``s_milli`` (the mean of its
    ``det_milli``), keyed (event_type, dow) with ``t`` and ``x``."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("t").rowsBetween(-3, 3)
    trended = daily.select(
        "event_type",
        "t",
        "x",
        F.count(F.lit(1)).over(w).alias("nw"),
        F.sum("x").over(w).cast("long").alias("s7"),
    )
    interior = trended.filter(F.col("nw") == 7).select(
        "event_type",
        "t",
        "x",
        (
            F.lit(1000) * F.col("x")
            - round_long(F.lit(1000.0) * F.col("s7") / F.lit(7.0))
        )
        .cast("long")
        .alias("det_milli"),
    )
    seasonal = interior.groupBy("event_type", (F.col("t") % 7).alias("dow")).agg(
        round_long(F.sum("det_milli").cast("double") / F.count(F.lit(1))).alias(
            "s_milli"
        )
    )
    return interior.withColumn("dow", F.col("t") % 7).join(
        F.broadcast(seasonal), ["event_type", "dow"]
    )


# The SQL twins of _milli_decomposition's stages: the 7-day centered
# window sums (CTEs daily, trended) and the per-dow seasonal component
# of an interior(event_type, t, det_milli) CTE (seasonal).
_MILLI_TRENDED_SQL_CTES = f"""{DAILY_SQL_CTE},
    trended AS (
        SELECT event_type, t, x,
               COUNT(*) OVER w AS nw,
               CAST(SUM(x) OVER w AS BIGINT) AS s7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY t
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )"""
_MILLI_SEASONAL_SQL_CTE = """seasonal AS (
        SELECT event_type, t % 7 AS dow,
               CAST(floor(CAST(SUM(det_milli) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS s_milli
        FROM interior GROUP BY event_type, t % 7
    )"""


@query(
    "ts_seasonality_strength",
    oracle=f"""
    WITH {_MILLI_TRENDED_SQL_CTES},
    interior AS (
        SELECT event_type, t, x,
               -- milli-quantized detrended value (micro overflows the
               -- BIGINT square-sum bound at 1e3-scale daily counts)
               CAST(1000 * x - CAST(floor(1000.0 * s7 / 7.0 + 0.5)
                                    AS BIGINT) AS BIGINT) AS det_milli
        FROM trended WHERE nw = 7
    ),
    {_MILLI_SEASONAL_SQL_CTE},
    parts AS (
        SELECT i.event_type,
               i.det_milli,
               CAST(i.det_milli - s.s_milli AS BIGINT) AS res_milli,
               CAST(1000 * i.x - s.s_milli AS BIGINT) AS des_milli
        FROM interior i
        JOIN seasonal s ON i.event_type = s.event_type
                       AND i.t % 7 = s.dow
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(res_milli) AS BIGINT) AS sr,
               CAST(SUM(res_milli * res_milli) AS BIGINT) AS srr,
               CAST(SUM(det_milli) AS BIGINT) AS sd,
               CAST(SUM(det_milli * det_milli) AS BIGINT) AS sdd,
               CAST(SUM(des_milli) AS BIGINT) AS se,
               CAST(SUM(des_milli * des_milli) AS BIGINT) AS see
        FROM parts GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n * sdd - sd * sd > 0 THEN
               CAST(floor(1000000.0
                    * (CASE WHEN 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                  / (n * sdd - sd * sd) > 0.0
                            THEN 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                  / (n * sdd - sd * sd)
                            ELSE 0.0 END)
                    + 0.5) AS BIGINT)
           END AS f_seasonal_micro,
           CASE WHEN n * see - se * se > 0 THEN
               CAST(floor(1000000.0
                    * (CASE WHEN 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                  / (n * see - se * se) > 0.0
                            THEN 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                  / (n * see - se * se)
                            ELSE 0.0 END)
                    + 0.5) AS BIGINT)
           END AS f_trend_micro
    FROM sums
    """,
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style strength-of-seasonality and strength-of-trend per
    event type (Hyndman's F_s = max(0, 1 - Var(R)/Var(S+R)) and
    F_t = max(0, 1 - Var(R)/Var(T+R)) recast on the additive
    decomposition) — the single-number answer to "is this series'
    weekly rhythm real, and is there a trend under it?" that decides
    whether forecasting operators (ts_holt_winters, ts_croston,
    analytics_forecast_revenue) should bother with seasonal terms.

    Decomposition mirrors ts_seasonal_decompose: 7-day centered moving
    average for trend (interior days only, nw = 7), per-dow mean of the
    detrended values for the seasonal component.  Values are
    MILLI-quantized (1e3) before the variance moment sums — the micro
    quantum's squares overflow int64 at 1e3-scale daily counts
    (bound stated; at larger scales re-center per group first) — and
    both strength ratios evaluate one guarded expression per engine.

    Scale: one daily rollup, one per-type window, one dow-grain
    broadcast-back; moment tuples are additive partials."""
    parts = _milli_decomposition(spark, sf_dir).select(
        "event_type",
        "det_milli",
        (F.col("det_milli") - F.col("s_milli")).cast("long").alias("res_milli"),
        (F.lit(1000) * F.col("x") - F.col("s_milli")).cast("long").alias("des_milli"),
    )
    sums = parts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("res_milli").cast("long").alias("sr"),
        F.sum(F.col("res_milli") * F.col("res_milli")).cast("long").alias("srr"),
        F.sum("det_milli").cast("long").alias("sd"),
        F.sum(F.col("det_milli") * F.col("det_milli")).cast("long").alias("sdd"),
        F.sum("des_milli").cast("long").alias("se"),
        F.sum(F.col("des_milli") * F.col("des_milli")).cast("long").alias("see"),
    )
    n = F.col("n")
    vres = n * F.col("srr") - F.col("sr") * F.col("sr")
    vdet = n * F.col("sdd") - F.col("sd") * F.col("sd")
    vdes = n * F.col("see") - F.col("se") * F.col("se")
    strength = lambda vden: round_long(
        F.lit(1000000.0)
        * F.when(
            F.lit(1.0) - vres.cast("double") / vden > 0.0,
            F.lit(1.0) - vres.cast("double") / vden,
        ).otherwise(F.lit(0.0))
    )
    return sums.select(
        "event_type",
        n.alias("n_days"),
        F.when(vdet > 0, strength(vdet)).alias("f_seasonal_micro"),
        F.when(vdes > 0, strength(vdes)).alias("f_trend_micro"),
    )


@query(
    "agg_survival_kaplan_meier",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
    ranked AS (
        SELECT event_type, user_id, CAST(ts AS DATE) AS d,
               ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    users AS (
        SELECT r1.event_type, r1.user_id,
               CASE WHEN r2.d IS NOT NULL
                    THEN CAST(datediff('day', r1.d, r2.d) AS BIGINT)
               END AS dur,
               CAST(datediff('day', r1.d, a.mx) AS BIGINT) AS cens
        FROM (SELECT * FROM ranked WHERE rn = 1) r1
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 2) r2
               ON r1.event_type = r2.event_type
              AND r1.user_id = r2.user_id
        CROSS JOIN anchor a
    ),
    leaves AS (
        SELECT event_type,
               COALESCE(dur, cens) AS day,
               CASE WHEN dur IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM users
    ),
    risk AS (
        SELECT event_type, day,
               CAST(SUM(observed) AS BIGINT) AS d_i,
               CAST(SUM(1 - observed) AS BIGINT) AS w_i
        FROM leaves GROUP BY event_type, day
    ),
    atrisk AS (
        SELECT event_type, day, d_i, w_i,
               CAST(SUM(d_i + w_i) OVER (PARTITION BY event_type
                                         ORDER BY day DESC) AS BIGINT) AS n_i
        FROM risk
    ),
    terms AS (
        SELECT event_type, day, d_i, w_i, n_i,
               CASE WHEN d_i < n_i THEN
                   CAST(floor(1000000.0
                        * ln(1.0 - CAST(d_i AS DOUBLE) / n_i) + 0.5)
                        AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS q_micro,
               CASE WHEN d_i = n_i THEN 1 ELSE 0 END AS killed
        FROM atrisk
    )
    SELECT event_type, day, n_i AS at_risk, d_i AS n_events,
           w_i AS n_censored,
           CASE WHEN MAX(killed) OVER wc = 1 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(1000000.0
                     * exp(CAST(SUM(q_micro) OVER wc AS DOUBLE)
                           / 1000000.0) + 0.5) AS BIGINT)
           END AS survival_micro
    FROM terms
    WINDOW wc AS (PARTITION BY event_type ORDER BY day)
    """,
)
def agg_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-SECOND-event per event
    type, right-censored at the corpus horizon — the product-limit
    retention estimator ("what share of users who did X once have not
    yet done it again by day t?"), the statistically honest version of
    naive repeat-rate metrics that silently drop users who haven't had
    time to return.

    The product FORM is the float hazard: a windowed product of
    (1 - d/n) is an ordered float reduction that can never hash-match —
    so each hazard term's ln is micro-quantized to BIGINT, the
    cumulative window SUMS integers, and one exp per row lands back on
    the micro scale (the adamic-adar doctrine applied to products).
    At-risk counts come from a DESCENDING cumulative window (everyone
    leaves at a recorded day, so suffix sums ARE the risk set — no
    second pass), and the d = n boundary (risk set extinguished) pins
    survival to exactly 0 from that day via a cumulative-max flag
    instead of evaluating ln(0), identically on both engines.

    Scale: one rank window per (type, user) over the corpus, then
    calendar-bounded arithmetic; the risk table is |types| x |days|."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    wr = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    ranked = e.select(
        "event_type",
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.row_number().over(wr).alias("rn"),
    )
    r1 = ranked.filter(F.col("rn") == 1).select(
        "event_type", "user_id", F.col("d").alias("d1")
    )
    r2 = ranked.filter(F.col("rn") == 2).select(
        "event_type", "user_id", F.col("d").alias("d2")
    )
    users = (
        r1.join(r2, ["event_type", "user_id"], "left")
        .crossJoin(F.broadcast(anchor))
        .select(
            "event_type",
            F.when(
                F.col("d2").isNotNull(),
                F.datediff("d2", "d1").cast("long"),
            ).alias("dur"),
            F.datediff("mx", "d1").cast("long").alias("cens"),
        )
    )
    leaves = users.select(
        "event_type",
        F.coalesce(F.col("dur"), F.col("cens")).alias("day"),
        F.when(F.col("dur").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    risk = leaves.groupBy("event_type", "day").agg(
        F.sum("observed").cast("long").alias("d_i"),
        F.sum(F.lit(1) - F.col("observed")).cast("long").alias("w_i"),
    )
    wdesc = Window.partitionBy("event_type").orderBy(F.col("day").desc())
    atrisk = risk.select(
        "event_type",
        "day",
        "d_i",
        "w_i",
        F.sum(F.col("d_i") + F.col("w_i")).over(wdesc).cast("long").alias(
            "n_i"
        ),
    )
    terms = atrisk.select(
        "event_type",
        "day",
        "d_i",
        "w_i",
        "n_i",
        F.when(
            F.col("d_i") < F.col("n_i"),
            round_long(
                F.lit(1000000.0)
                * F.log(
                    F.lit(1.0) - F.col("d_i").cast("double") / F.col("n_i")
                )
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("q_micro"),
        F.when(F.col("d_i") == F.col("n_i"), 1).otherwise(0).alias("killed"),
    )
    wc = Window.partitionBy("event_type").orderBy("day")
    return terms.select(
        "event_type",
        "day",
        F.col("n_i").alias("at_risk"),
        F.col("d_i").alias("n_events"),
        F.col("w_i").alias("n_censored"),
        F.when(F.max("killed").over(wc) == 1, F.lit(0).cast("long"))
        .otherwise(
            round_long(
                F.lit(1000000.0)
                * F.exp(
                    F.sum("q_micro").over(wc).cast("double")
                    / F.lit(1000000.0)
                )
            )
        )
        .alias("survival_micro"),
    )


_MIX_EDGES = (500, 1000, 2000, 4000)  # n_chars bucket edges
_MIX_TARGET_PCT = {0: 10, 1: 25, 2: 30, 3: 25, 4: 10}  # target mix


@query(
    "corpus_length_bucket_mix",
    oracle=f"""
    WITH bucketed AS (
        SELECT source,
               CASE WHEN n_chars < {_MIX_EDGES[0]} THEN 0
                    WHEN n_chars < {_MIX_EDGES[1]} THEN 1
                    WHEN n_chars < {_MIX_EDGES[2]} THEN 2
                    WHEN n_chars < {_MIX_EDGES[3]} THEN 3
                    ELSE 4 END AS bucket
        FROM documents
    ),
    per AS (
        SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM bucketed GROUP BY source, bucket
    ),
    bucket_tot AS (
        SELECT bucket,
               CAST(SUM(n_docs) AS BIGINT) AS bucket_total,
               CAST(SUM(SUM(n_docs)) OVER () AS BIGINT) AS corpus_total
        FROM per GROUP BY bucket
    ),
    tgt(bucket, pct) AS (VALUES
        {", ".join(f"({k}, {v})" for k, v in sorted(_MIX_TARGET_PCT.items()))}),
    weights AS (
        SELECT g.bucket,
               CAST(floor(1000000.0 * CAST(g.bucket_total AS DOUBLE)
                    / g.corpus_total + 0.5) AS BIGINT) AS actual_share_micro,
               CAST(floor(1000000.0
                    * (CAST(t.pct AS DOUBLE) / 100.0)
                    / (CAST(g.bucket_total AS DOUBLE) / g.corpus_total)
                    + 0.5) AS BIGINT) AS weight_micro
        FROM bucket_tot g JOIN tgt t ON g.bucket = t.bucket
    )
    SELECT p.source, p.bucket, p.n_docs,
           w.actual_share_micro, w.weight_micro
    FROM per p JOIN weights w ON p.bucket = w.bucket
    """,
)
def corpus_length_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket mixing table: document counts per (source, length
    bucket), each bucket's actual corpus share, and the RESAMPLING
    WEIGHT (target share / actual share) that reweights the corpus to a
    declared length mix — the executable form of the data-mixture
    recipe every pretraining run writes down (short-doc floods are the
    classic quality failure this weight table corrects at ingest time,
    next to corpus_temperature_mix's per-source temperature).

    Integer counts end-to-end; the two divisions (share, weight) are
    quantized once per BUCKET (a closed 5-value domain), never per
    document; the bucket-grain weight table broadcasts back onto the
    (source, bucket) breakdown.  Buckets with zero docs simply don't
    appear — a missing target bucket is a corpus bug the dashboard
    should show as absence, not as NULL arithmetic.

    Scale: one map-side-combined aggregate to (source, bucket); the
    weight computation is bucket-grain arithmetic.  Applying the
    weights is a broadcast join + deterministic-hash thinning
    (sample_stratified_hash's discipline), never a shuffle."""
    d = load(spark, sf_dir, "documents")
    nc = F.col("n_chars")
    bucket = (
        F.when(nc < _MIX_EDGES[0], 0)
        .when(nc < _MIX_EDGES[1], 1)
        .when(nc < _MIX_EDGES[2], 2)
        .when(nc < _MIX_EDGES[3], 3)
        .otherwise(4)
    )
    per = d.select("source", bucket.alias("bucket")).groupBy(
        "source", "bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    glob = per.groupBy("bucket").agg(
        F.sum("n_docs").cast("long").alias("bucket_total")
    )
    wall = Window.partitionBy()
    glob = glob.select(
        "bucket",
        "bucket_total",
        F.sum("bucket_total").over(wall).cast("long").alias("corpus_total"),
    )
    tgt = spark.createDataFrame(
        sorted(_MIX_TARGET_PCT.items()), "bucket int, pct int"
    )
    share = F.col("bucket_total").cast("double") / F.col("corpus_total")
    weights = glob.join(F.broadcast(tgt), "bucket").select(
        "bucket",
        round_long(F.lit(1000000.0) * share).alias("actual_share_micro"),
        round_long(
            F.lit(1000000.0)
            * (F.col("pct").cast("double") / F.lit(100.0))
            / share
        )
        .alias("weight_micro"),
    )
    return per.join(F.broadcast(weights), "bucket").select(
        "source", "bucket", "n_docs", "actual_share_micro", "weight_micro"
    )


@query(
    "ts_local_peaks",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    framed AS (
        SELECT event_type, t, x,
               COUNT(*) OVER wl AS nl,
               CAST(MAX(x) OVER wl AS BIGINT) AS lmax,
               COUNT(*) OVER wr AS nr,
               CAST(MAX(x) OVER wr AS BIGINT) AS rmax,
               CAST(MIN(x) OVER wb AS BIGINT) AS wmin
        FROM daily
        WINDOW wl AS (PARTITION BY event_type ORDER BY t
                      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
               wr AS (PARTITION BY event_type ORDER BY t
                      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
               wb AS (PARTITION BY event_type ORDER BY t
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT event_type, t AS day_idx, x, wmin,
           CAST(floor(1000000.0 * CAST(x - wmin AS DOUBLE) / x + 0.5)
                AS BIGINT) AS prominence_micro
    FROM framed
    WHERE nl = 3 AND nr = 3 AND x > lmax AND x > rmax
    """,
)
def ts_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection over each type's daily series: a day is a
    peak when it STRICTLY exceeds every neighbor within +/-3 days
    (full frames only), reported with a prominence score
    (x - window_min)/x — the alert-shaping primitive between raw
    thresholds (win_anomaly_zscore fires on level) and changepoints
    (ts_cusum_changepoint fires on regime): peaks fire on local shape,
    which is what "did the campaign spike traffic?" actually asks.

    Strict > against integer MAXes means plateau days never double-
    fire (a two-day tie yields NO peak — the conservative convention,
    stated); all comparisons are exact integers and the single
    division is quantized per emitted peak.

    Scale: three frames over one per-type sort of the calendar-bounded
    daily rollup — fused by Spark into a single window stage."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    wl = Window.partitionBy("event_type").orderBy("t").rowsBetween(-3, -1)
    wr = Window.partitionBy("event_type").orderBy("t").rowsBetween(1, 3)
    wb = Window.partitionBy("event_type").orderBy("t").rowsBetween(-3, 3)
    framed = daily.select(
        "event_type",
        "t",
        "x",
        F.count(F.lit(1)).over(wl).alias("nl"),
        F.max("x").over(wl).cast("long").alias("lmax"),
        F.count(F.lit(1)).over(wr).alias("nr"),
        F.max("x").over(wr).cast("long").alias("rmax"),
        F.min("x").over(wb).cast("long").alias("wmin"),
    )
    return framed.filter(
        (F.col("nl") == 3)
        & (F.col("nr") == 3)
        & (F.col("x") > F.col("lmax"))
        & (F.col("x") > F.col("rmax"))
    ).select(
        "event_type",
        F.col("t").alias("day_idx"),
        "x",
        "wmin",
        round_long(
            F.lit(1000000.0)
            * (F.col("x") - F.col("wmin")).cast("double")
            / F.col("x")
        )
        .alias("prominence_micro"),
    )


@query(
    "sample_stratified_neyman",
    oracle="""
    WITH m AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS s1,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_docs,
               CAST(floor(1000000.0
                    * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n_docs)
                           / (n_docs - 1)) + 0.5) AS BIGINT) AS sd_micro,
               CAST(floor(1000000.0 * n_docs
                    * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n_docs)
                           / (n_docs - 1)) + 0.5) AS BIGINT) AS w_micro
        FROM m WHERE n_docs >= 2
    ),
    tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
    SELECT lang, n_docs, sd_micro,
           CAST(floor(1000.0 * CAST(w_micro AS DOUBLE) / t.tw + 0.5)
                AS BIGINT) AS alloc_n,
           CAST(floor(1000000.0 * CAST(w_micro AS DOUBLE) / t.tw + 0.5)
                AS BIGINT) AS alloc_share_micro
    FROM w CROSS JOIN tot t
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation over languages for a
    1000-document budget: n_h proportional to N_h * S_h (stratum size
    times stratum standard deviation of document length) — the survey-
    statistics upgrade over sample_stratified_hash's FIXED per-stratum
    rates: high-variance strata earn more budget, which minimizes the
    estimator's variance at equal cost (Neyman 1934).

    The stratum sd comes from exact integer (n, s1, s2) moments; each
    stratum's weight N_h*S_h is micro-quantized to BIGINT before the
    cross-stratum sum (a double sum over strata would be partitioning-
    ordered), and the allocation is one quantized division per
    stratum.  Rounded allocations may sum to 999-1001 of the 1000
    budget — documented; largest-remainder reconciliation is a driver-
    side O(strata) step when exactness matters.  Single-doc strata are
    excluded (sd undefined) identically on both engines.

    Scale: one map-side-combined moment aggregate; everything after is
    strata-grain arithmetic.  EXECUTING the allocation is the
    deterministic-hash filter with per-stratum thresholds — no
    shuffle."""
    d = load(spark, sf_dir, "documents")
    x = F.col("n_chars")
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
    )
    n = F.col("n_docs")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / n)
        / (n - 1)
    )
    w = m.filter(n >= 2).select(
        "lang",
        "n_docs",
        round_long(F.lit(1000000.0) * sd).alias("sd_micro"),
        round_long(F.lit(1000000.0) * n * sd).alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").cast("long").alias("tw"))
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "sd_micro",
        round_long(F.lit(1000.0) * F.col("w_micro").cast("double") / F.col("tw"))
        .alias("alloc_n"),
        round_long(F.lit(1000000.0) * F.col("w_micro").cast("double") / F.col("tw"))
        .alias("alloc_share_micro"),
    )


@query(
    "analytics_dow_hour_heatmap",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) % 7 AS dow,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
        FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.hour, c.n,
           CAST(floor(1000000.0 * CAST(c.n AS DOUBLE) / t.t + 0.5)
                AS BIGINT) AS share_micro
    FROM cells c JOIN tot t ON c.event_type = t.event_type
    """,
)
def analytics_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day traffic heatmap per event type (the
    7x24 matrix every on-call dashboard opens with) — each cell's
    count and its share of the type's traffic.  The 2-D seasonality
    picture that agg_circular_mean_hour summarizes to one angle and
    win_seasonal_zscore alarms on: heatmap for the human, scalar for
    the alert, same integer grain for all three.

    Day-of-week is epoch-day % 7 (the chisq_cells convention — named
    dow functions disagree on week starts), hour is integer EXTRACT;
    one corpus-sized aggregate to the bounded 7x24 grid, per-type
    totals broadcast back, one quantized share division per cell.

    Scale: grid cardinality is |types| x 168 forever; the single
    groupBy map-side combines."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (_day_idx().cast("long") % 7).alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("t")
    )
    return cells.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "hour",
        "n",
        round_long(F.lit(1000000.0) * F.col("n").cast("double") / F.col("t"))
        .alias("share_micro"),
    )


@query(
    "sample_balanced_classes",
    oracle=f"""
    WITH sized AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ),
    k AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM sized),
    ranked AS (
        SELECT label, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY label
                   ORDER BY (vec_id * {KNUTH_MULT}) % {KNUTH_MOD},
                            vec_id) AS rn
        FROM embeddings
    )
    SELECT r.label, r.vec_id
    FROM ranked r CROSS JOIN k
    WHERE r.rn <= k.k
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: every label keeps exactly
    min-class-count members, chosen by a DETERMINISTIC hash-order
    pseudo-shuffle (Knuth multiplicative on vec_id, vec_id tiebreak) —
    the standard prep before training a classifier on skewed labels,
    done the reproducible way: re-running on the same corpus keeps the
    SAME members, and adding documents to one class never reshuffles
    another class's picks (hash order is stable under insertion,
    unlike rand() or global shuffles).

    All-integer: class sizes, the global min, hash ranks; no floats
    anywhere.  The balanced-output invariant (every label emits
    exactly k rows) is asserted in tests.

    Scale: one rank window per label over the embeddings table plus a
    broadcast scalar; at unbounded class sizes swap the exact rank for
    a hash-threshold filter (keep if hash < k/n * MOD — the
    sample_stratified_hash shape) and accept +-sqrt noise in k."""
    e = load(spark, sf_dir, "embeddings").select("label", "vec_id")
    sized = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    k = sized.agg(F.min("n").cast("long").alias("k"))
    w = Window.partitionBy("label").orderBy(
        (F.col("vec_id") * KNUTH_MULT) % KNUTH_MOD, "vec_id"
    )
    ranked = e.select(
        "label", "vec_id", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("label", "vec_id")
    )


@query(
    "ts_stl_anomalies",
    oracle=f"""
    WITH {_MILLI_TRENDED_SQL_CTES},
    interior AS (
        SELECT event_type, t, x,
               CAST(1000 * x - CAST(floor(1000.0 * s7 / 7.0 + 0.5)
                                    AS BIGINT) AS BIGINT) AS det_milli
        FROM trended WHERE nw = 7
    ),
    {_MILLI_SEASONAL_SQL_CTE},
    resid AS (
        SELECT i.event_type, i.t, i.x,
               CAST(i.det_milli - s.s_milli AS BIGINT) AS res_milli
        FROM interior i
        JOIN seasonal s ON i.event_type = s.event_type
                       AND i.t % 7 = s.dow
    ),
    ranked AS (
        SELECT event_type, t, x, res_milli,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY abs(res_milli)) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM resid
    ),
    mad AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN abs(res_milli) END) AS BIGINT) AS mad_milli
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type, r.t AS day_idx, r.x, r.res_milli, m.mad_milli,
           CASE WHEN m.mad_milli > 0
                 AND 10000 * abs(r.res_milli) > 44478 * m.mad_milli
                THEN 1 ELSE 0 END AS is_anomaly,
           CASE WHEN m.mad_milli > 0 THEN
               CAST(floor(1000000.0 * abs(r.res_milli)
                    / (1.4826 * m.mad_milli) + 0.5) AS BIGINT)
           END AS score_micro
    FROM resid r JOIN mad m ON r.event_type = m.event_type
    """,
)
def ts_stl_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition-aware robust anomaly detection: remove trend
    (7-day centered MA) and weekly seasonality (per-dow means of the
    detrended series), then flag days whose RESIDUAL exceeds 3 robust
    sigmas (1.4826 * MAD) — the best-practice alarm that neither fires
    on every Sunday (win_anomaly_zscore's failure on rhythmic traffic)
    nor misses a weekday outage hidden inside normal weekly swing.
    Every interior day is emitted with its flag and a robust z score,
    so the detector is auditable, not just its positives.

    The milli-quantized decomposition is ts_seasonality_strength's;
    MAD is a positional median of |residual| (tie-order-invariant);
    and the 3-sigma fence is EXACT INTEGER: 1e4*|res| > 44478*MAD
    encodes 3*1.4826 with no float comparison, so both engines flag
    identical days by construction (the XmR discipline).

    Scale: one daily rollup, one per-type trend window, a dow-grain
    broadcast-back, and one per-type rank window over <= 24 interior
    days — calendar-bounded throughout."""
    resid = _milli_decomposition(spark, sf_dir).select(
        "event_type",
        "t",
        "x",
        (F.col("det_milli") - F.col("s_milli")).cast("long").alias("res_milli"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs(F.col("res_milli")))
    wp = Window.partitionBy("event_type")
    ranked = resid.select(
        "event_type",
        F.abs(F.col("res_milli")).alias("ares"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mad = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                F.col("ares"),
            )
        )
        .cast("long")
        .alias("mad_milli")
    )
    j = resid.join(F.broadcast(mad), "event_type")
    ares = F.abs(F.col("res_milli"))
    return j.select(
        "event_type",
        F.col("t").alias("day_idx"),
        "x",
        "res_milli",
        "mad_milli",
        F.when(
            (F.col("mad_milli") > 0)
            & (F.lit(10000) * ares > F.lit(44478) * F.col("mad_milli")),
            1,
        )
        .otherwise(0)
        .alias("is_anomaly"),
        F.when(
            F.col("mad_milli") > 0,
            round_long(F.lit(1000000.0) * ares / (F.lit(1.4826) * F.col("mad_milli"))),
        ).alias("score_micro"),
    )


@query(
    "agg_wilcoxon_signed",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    pairs AS (
        SELECT cur.event_type, cur.x - prv.x AS d
        FROM daily cur JOIN daily prv
          ON prv.event_type = cur.event_type AND prv.t = cur.t - 7
        WHERE cur.x - prv.x <> 0
    ),
    ranked AS (
        SELECT event_type, d,
               CAST(RANK() OVER w
                    + (COUNT(*) OVER (PARTITION BY event_type, abs(d)) - 1)
                    + RANK() OVER w AS BIGINT) AS r2
        FROM pairs
        WINDOW w AS (PARTITION BY event_type ORDER BY abs(d))
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
                   AS w_plus_x2
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_pairs, w_plus_x2,
           CASE WHEN n_pairs > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(w_plus_x2 AS DOUBLE) / 2.0
                       - CAST(n_pairs * (n_pairs + 1) AS DOUBLE) / 4.0)
                    / sqrt(CAST(n_pairs * (n_pairs + 1)
                                * (2 * n_pairs + 1) AS DOUBLE) / 24.0)
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM agg
    """,
)
def agg_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test per event type on WEEK-OVER-WEEK
    paired daily counts (day t vs day t-7) — the PAIRED twin of
    agg_mannwhitney_u, completing the nonparametric battery: is this
    week's traffic shifted vs the same weekday last week, without
    assuming normality?  Pairing on the same weekday removes the dow
    seasonality that would swamp an unpaired test.

    The agg_mannwhitney_u integer doctrine: zero differences are
    dropped (the standard Wilcoxon convention), |d| tie mid-ranks are
    DOUBLED (2*RANK + tie_size - 1) to stay exact BIGINT, W+ doubled is
    an exact integer sum, and the normal approximation
    z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24) evaluates ONE identical
    IEEE expression shape per engine, micro-quantized.  No tie
    correction in the variance (the textbook basic form — stated
    convention, matched in both engines).  Empty pair sets emit NULL z.

    Scale: one corpus-sized daily aggregate; the 7-day self-join and
    rank window live on the calendar-bounded daily table."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    prv = daily.select(
        "event_type", (F.col("t") + 7).alias("t"), F.col("x").alias("px")
    )
    pairs = (
        daily.join(prv, ["event_type", "t"])
        .select("event_type", (F.col("x") - F.col("px")).alias("d"))
        .filter(F.col("d") != 0)
    )
    ranked = pairs.select("event_type", "d", _midrank_x2(F.abs("d")))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w_plus_x2"),
    )
    n = F.col("n_pairs")
    z = F.when(
        n > 0,
        round_long(
            F.lit(1000000.0)
            * (
                F.col("w_plus_x2").cast("double") / F.lit(2.0)
                - (n * (n + 1)).cast("double") / F.lit(4.0)
            )
            / F.sqrt((n * (n + 1) * (2 * n + 1)).cast("double") / F.lit(24.0))
        ),
    )
    return agg.select("event_type", "n_pairs", "w_plus_x2", z.alias("z_micro"))


@query(
    "agg_chi2_gof",
    oracle=f"""
    WITH {_DOW_CELLS_SQL_CTE},
    tot AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS n FROM daily
        GROUP BY event_type
    ),
    grid AS (
        SELECT t.event_type, t.n, g.dow, COALESCE(d.o, CAST(0 AS BIGINT)) AS o
        FROM tot t
        CROSS JOIN (SELECT unnest(range(7)) AS dow) g
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.dow = g.dow
    )
    SELECT event_type, ANY_VALUE(n) AS n, CAST(6 AS BIGINT) AS dof,
           CAST(SUM(CAST(floor(1000000.0
                * CAST((7 * o - n) * (7 * o - n) AS DOUBLE) / (7.0 * n)
                + 0.5) AS BIGINT)) AS BIGINT) AS chisq_micro
    FROM grid GROUP BY event_type
    """,
)
def agg_chi2_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square GOODNESS-OF-FIT per event type: is traffic uniform
    across the seven days of week?  The one-sample sibling of
    agg_cramers_v (which tests type x dow INDEPENDENCE) — this tests
    each type's dow profile against the uniform null, the standard
    'is there any weekly seasonality at all' gate before fitting
    seasonal models.

    The full 7-dow grid is generated so absent cells contribute their
    expected n/7 (the agg_cramers_v round-7 convention); each cell's
    contribution uses the algebraically-cleared exact-integer form
    (o - n/7)^2 / (n/7) = (7o - n)^2 / (7n), micro-quantized BEFORE
    the cross-cell sum.  df = 7 - 1 = 6 always (the grid pins it).

    Scale: one corpus aggregate to |types| x 7 cells, then grid-sized
    arithmetic."""
    daily = _dow_cells(load(spark, sf_dir, "events"))
    tot = daily.groupBy("event_type").agg(F.sum("o").cast("long").alias("n"))
    dows = spark.range(7).select(F.col("id").cast("long").alias("dow"))
    grid = (
        tot.crossJoin(F.broadcast(dows))
        .join(F.broadcast(daily), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "n",
            "dow",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    num = 7 * F.col("o") - F.col("n")
    contrib = round_long(
        F.lit(1000000.0) * (num * num).cast("double") / (F.lit(7.0) * F.col("n"))
    )
    return grid.groupBy("event_type").agg(
        F.any_value("n").alias("n"),
        F.lit(6).cast("long").alias("dof"),
        F.sum(contrib).cast("long").alias("chisq_micro"),
    )


@query(
    "agg_binomial_ztest",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN CAST(datediff('day', DATE '2024-01-01',
                        CAST(ts AS DATE)) AS BIGINT) % 7 IN (5, 6)
                    THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, k AS k_weekend,
           CASE WHEN n > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(k AS DOUBLE) - n * (2.0 / 7.0))
                    / sqrt(n * (2.0 / 7.0) * (5.0 / 7.0))
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM c
    """,
)
def agg_binomial_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample binomial PROPORTION z-test per event type: is the
    weekend share of events consistent with the null p0 = 2/7 (uniform
    traffic across days)?  The parametric fast-path companion to
    agg_chi2_gof — one proportion instead of the full dow profile,
    which is the form product dashboards actually alarm on.

    z = (k - n*p0) / sqrt(n*p0*(1-p0)) with p0 spelled 2.0/7.0 in BOTH
    engines (one identical IEEE expression shape), micro-quantized;
    empty types emit NULL.  Exact integer inputs (k, n) make the only
    float work the final expression.

    Scale: one map-side-combined aggregate per type; the z arithmetic
    runs on |types| rows."""
    e = load(spark, sf_dir, "events")
    dow = _day_idx().cast("long") % 7
    c = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(dow.isin(5, 6), 1).otherwise(0)).cast("long").alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    p0 = F.lit(2.0) / F.lit(7.0)
    q0 = F.lit(5.0) / F.lit(7.0)
    z = F.when(
        n > 0,
        round_long(
            F.lit(1000000.0)
            * (k.cast("double") - n * p0)
            / F.sqrt(n * p0 * q0)
        ),
    )
    return c.select("event_type", "n", k.alias("k_weekend"), z.alias("z_micro"))


@query(
    "agg_poisson_rate_ratio",
    oracle="""
    WITH tagged AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t
        FROM events
    ),
    days AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN t % 7 IN (5, 6) THEN t END)
                    AS BIGINT) AS d1,
               CAST(COUNT(DISTINCT CASE WHEN t % 7 NOT IN (5, 6) THEN t END)
                    AS BIGINT) AS d2
        FROM tagged
    ),
    k AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN t % 7 NOT IN (5, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS k2
        FROM tagged GROUP BY event_type
    )
    SELECT event_type, k1 AS k_weekend, k2 AS k_weekday,
           d1 AS days_weekend, d2 AS days_weekday,
           CASE WHEN k2 > 0 AND d1 > 0 AND d2 > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(k1 AS DOUBLE) / d1) / (CAST(k2 AS DOUBLE) / d2)
                    + 0.5) AS BIGINT)
           END AS rate_ratio_micro,
           CASE WHEN k1 + k2 > 0 AND d1 > 0 AND d2 > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(k1 AS DOUBLE) / d1 - CAST(k2 AS DOUBLE) / d2)
                    / sqrt(CAST(k1 AS DOUBLE) / (d1 * d1)
                           + CAST(k2 AS DOUBLE) / (d2 * d2))
                    + 0.5) AS BIGINT)
           END AS z_micro
    FROM k CROSS JOIN days
    """,
)
def agg_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson RATE comparison per event type: weekend vs
    weekday events-per-day, exposure-corrected — the test
    agg_binomial_ztest can't do, because it compares COUNTS while this
    compares RATES under unequal exposure (8 weekend days vs 22
    weekday days in the fixture span).  The delta-method z on the rate
    difference, var(k/d) = k/d^2 (Poisson), is the standard
    incident-rate comparison in ops monitoring.

    Exposures are the GLOBAL distinct observed days per bucket (the
    quality_calendar_coverage global-span convention — a type silent
    all weekend still has weekend exposure).  All inputs exact BIGINT;
    the rate ratio and z each evaluate one identical IEEE expression
    shape per engine, micro-quantized; degenerate denominators emit
    NULL on both.

    Scale: two corpus-sized aggregates (per-type counts + one global
    day census, broadcast back); arithmetic on |types| rows."""
    e = load(spark, sf_dir, "events")
    t = _day_idx().cast("long")
    tagged = e.select("event_type", t.alias("t"))
    is_wk = (F.col("t") % 7).isin(5, 6)
    days = tagged.agg(
        F.count_distinct(F.when(is_wk, F.col("t"))).cast("long").alias("d1"),
        F.count_distinct(F.when(~is_wk, F.col("t"))).cast("long").alias("d2"),
    )
    k = tagged.groupBy("event_type").agg(
        F.sum(F.when(is_wk, 1).otherwise(0)).cast("long").alias("k1"),
        F.sum(F.when(~is_wk, 1).otherwise(0)).cast("long").alias("k2"),
    )
    j = k.crossJoin(F.broadcast(days))
    k1, k2, d1, d2 = F.col("k1"), F.col("k2"), F.col("d1"), F.col("d2")
    rr = F.when(
        (k2 > 0) & (d1 > 0) & (d2 > 0),
        round_long(
            F.lit(1000000.0)
            * (k1.cast("double") / d1)
            / (k2.cast("double") / d2)
        ),
    )
    z = F.when(
        (k1 + k2 > 0) & (d1 > 0) & (d2 > 0),
        round_long(
            F.lit(1000000.0)
            * (k1.cast("double") / d1 - k2.cast("double") / d2)
            / F.sqrt(
                k1.cast("double") / (d1 * d1) + k2.cast("double") / (d2 * d2)
            )
        ),
    )
    return j.select(
        "event_type",
        k1.alias("k_weekend"),
        k2.alias("k_weekday"),
        d1.alias("days_weekend"),
        d2.alias("days_weekday"),
        rr.alias("rate_ratio_micro"),
        z.alias("z_micro"),
    )


@query(
    "analytics_ab_srm",
    oracle=f"""
    WITH arms AS (
        SELECT CASE WHEN (user_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 < 50
                    THEN 'a' ELSE 'b' END AS arm
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM arms
    )
    SELECT a + b AS n_users, a AS n_arm_a, b AS n_arm_b,
           CASE WHEN a + b > 0 THEN
               CAST(floor(1000000.0
                    * CAST((a - b) * (a - b) AS DOUBLE) / (a + b)
                    + 0.5) AS BIGINT)
           END AS chisq_micro,
           CAST(CASE WHEN 1000000 * (a - b) * (a - b) > 3841459 * (a + b)
                THEN 1 ELSE 0 END AS INT) AS srm_flag
    FROM c
    """,
)
def analytics_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test SAMPLE-RATIO-MISMATCH check — the first gate every
    experimentation platform runs before reading a metric: users are
    assigned to arms by the deterministic Knuth bucket (the
    corpus_split_hash assignment, 50/50 here), and the observed split
    is tested against the designed ratio with the 1-df chi-square
    (a-b)^2/(a+b).  An SRM means the assignment or logging is broken
    and every downstream metric is untrustworthy.

    The flag is EXACT INTEGER arithmetic: chi2 > 3.841459 (the 5%
    critical value) is cross-multiplied to
    1e6*(a-b)^2 > 3841459*(a+b) in BIGINT — no float boundary can flip
    it on either engine; the reported statistic is micro-quantized
    from exact integer inputs.

    Scale: one distinct-user dedup (the analytics_dau_mau shuffle),
    then a single 2-cell aggregate — the check is free next to any
    experiment readout."""
    e = load(spark, sf_dir, "events")
    arm = F.when(
        (F.col("user_id") * KNUTH_MULT) % KNUTH_MOD % 100 < 50, "a"
    ).otherwise("b")
    arms = e.select("user_id").distinct().select(arm.alias("arm"))
    c = arms.agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    chisq = F.when(
        a + b > 0,
        round_long(F.lit(1000000.0) * ((a - b) * (a - b)).cast("double") / (a + b)),
    )
    flag = (
        F.when(
            F.lit(1000000) * (a - b) * (a - b) > F.lit(3841459) * (a + b), 1
        )
        .otherwise(0)
        .cast("int")
    )
    return c.select(
        (a + b).alias("n_users"),
        a.alias("n_arm_a"),
        b.alias("n_arm_b"),
        chisq.alias("chisq_micro"),
        flag.alias("srm_flag"),
    )


@query(
    "corpus_curriculum_order",
    oracle=f"""
    WITH staged AS (
        SELECT doc_id, lang,
               CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS tokens,
               CASE WHEN n_chars < 200 THEN 1
                    WHEN n_chars < 500 THEN 2 ELSE 3 END AS phase_idx,
               CASE WHEN n_chars < 200 THEN 'short'
                    WHEN n_chars < 500 THEN 'medium' ELSE 'long' END AS phase,
               (doc_id * {KNUTH_MULT}) % {KNUTH_MOD} AS h
        FROM documents
    )
    SELECT CAST(phase_idx AS BIGINT) AS phase_idx, phase, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS n_tokens,
           CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc_id,
           CAST(arg_max(doc_id, h) AS BIGINT) AS last_doc_id
    FROM staged GROUP BY phase_idx, phase, lang
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM scheduling audit — length-staged training order
    (short documents first, long-context last: the standard curriculum
    for context-window ramping) with a DETERMINISTIC shuffle inside
    each phase: the global training order is the sort key (phase_idx,
    knuth_hash(doc_id)), so the schedule is reproducible row-for-row
    on any engine and any partitioning, resumable mid-epoch, and
    append-stable — exactly why corpus_split_hash banned rand() for
    splits, applied to ORDERING.

    The operator emits the per-(phase, lang) audit a training run logs
    before starting: doc and token volumes per phase plus the first
    and last document each (phase, lang) stream will see (arg_min /
    min_by over the hash — the hash is a bijection mod 2^32 for odd
    multipliers, so first/last are unique and the tie question never
    arises).

    Scale: map-side phase/hash computation + one skinny aggregate —
    the schedule itself is never materialized, only its contract; the
    trainer re-derives any shard's order locally from (phase_idx,
    hash) without coordination."""
    d = load(spark, sf_dir, "documents")
    phase_idx = (
        F.when(F.col("n_chars") < 200, 1)
        .when(F.col("n_chars") < 500, 2)
        .otherwise(3)
    )
    phase = (
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 500, "medium")
        .otherwise("long")
    )
    staged = d.select(
        "doc_id",
        "lang",
        F.ceil(F.col("n_chars").cast("double") / 4).cast("long").alias("tokens"),
        phase_idx.cast("long").alias("phase_idx"),
        phase.alias("phase"),
        ((F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD).alias("h"),
    )
    return staged.groupBy("phase_idx", "phase", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("n_tokens"),
        F.min_by("doc_id", "h").cast("long").alias("first_doc_id"),
        F.max_by("doc_id", "h").cast("long").alias("last_doc_id"),
    )


@query(
    "agg_fisher_exact",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM daily GROUP BY event_type
    ),
    cells AS (
        SELECT d.event_type, t.n,
               CAST(SUM(CASE WHEN d.t % 7 IN (5, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN d.x * t.n > t.s THEN 1 ELSE 0 END)
                    AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN d.t % 7 IN (5, 6) AND d.x * t.n > t.s
                        THEN 1 ELSE 0 END) AS BIGINT) AS a
        FROM daily d JOIN tot t USING (event_type)
        GROUP BY d.event_type, t.n
    ),
    ks AS (
        SELECT event_type, n, c1, r1, a, k
        FROM cells,
             LATERAL (SELECT unnest(generate_series(
                 greatest(CAST(0 AS BIGINT), c1 - (n - r1)),
                 least(r1, c1))) AS k)
    ),
    nums AS (
        SELECT event_type, n, c1, r1, a, k,
               list_reduce(list_prepend(CAST(1 AS BIGINT),
                   [CAST(i AS BIGINT) FOR i IN generate_series(1, k)
                    IF k > 0]),
                   (acc, i) -> (acc * (r1 - k + i)) // i)
               * list_reduce(list_prepend(CAST(1 AS BIGINT),
                   [CAST(i AS BIGINT) FOR i IN generate_series(1, c1 - k)
                    IF c1 - k > 0]),
                   (acc, i) -> (acc * ((n - r1) - (c1 - k) + i)) // i)
                   AS num
        FROM ks
    ),
    obs AS (
        SELECT event_type, MAX(CASE WHEN k = a THEN num END) AS a_num,
               CAST(SUM(num) AS BIGINT) AS denom
        FROM nums GROUP BY event_type
    )
    SELECT n.event_type,
           ANY_VALUE(n.n) AS n_days,
           ANY_VALUE(n.c1) AS n_weekend_days,
           ANY_VALUE(n.r1) AS n_above_avg_days,
           ANY_VALUE(n.a) AS a_obs,
           CAST(floor(1000000.0
                * CAST(SUM(CASE WHEN n.num <= o.a_num THEN n.num ELSE 0 END)
                       AS DOUBLE)
                / o.denom + 0.5) AS BIGINT) AS p_two_sided_micro
    FROM nums n JOIN obs o USING (event_type)
    GROUP BY n.event_type, o.denom
    """,
)
def agg_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test per event type on the 2x2 table
    (weekend day?) x (above-average-traffic day?) — the test you reach
    for when chi-square's large-count approximation is invalid, which
    at DAY grain (n = 30 cells) it always is.  Completes the
    independence ladder: agg_cramers_v (effect size),
    analytics_chisq_cells (which cell), agg_chi2_gof (vs uniform),
    this (exact small-n inference).

    The showcase property: the ENTIRE hypergeometric computation is
    EXACT 64-bit INTEGER arithmetic.  Day counts classify by the
    exact-integer above-mean test (x*n > S — no float mean); each
    C(m, k) evaluates by the multiplicative formula folded LEFT with
    stepwise integer division (acc*(m-k+i)) div i, exact at every step
    because each prefix is itself a binomial coefficient — both
    engines fold ordered lists (F.aggregate / list_reduce), so there
    is no order ambiguity and nothing to quantize; margins <= 30 keep
    every intermediate below C(30,15)*30 << 2^63.  pmf comparisons for
    the two-sided 'as or more extreme' sum are integer numerator
    comparisons (shared denominator); the ONLY float is the final
    p = extreme_sum / total_sum ratio, micro-quantized.

    Scale: one corpus-sized daily aggregate; the combinatorics run on
    |types| x <=9 candidate tables — constant work at any corpus size
    (the margins are calendar days, not rows)."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    is_wk = (F.col("t") % 7).isin(5, 6)
    above = F.col("x") * F.col("n") > F.col("s")
    cells = (
        daily.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(F.when(is_wk, 1).otherwise(0)).cast("long").alias("c1"),
            F.sum(F.when(above, 1).otherwise(0)).cast("long").alias("r1"),
            F.sum(F.when(is_wk & above, 1).otherwise(0))
            .cast("long")
            .alias("a"),
        )
    )
    ks = cells.select(
        "event_type",
        "n",
        "c1",
        "r1",
        "a",
        F.explode(
            F.expr(
                "sequence(greatest(CAST(0 AS BIGINT), c1 - (n - r1)),"
                " least(r1, c1))"
            )
        ).alias("k"),
    )
    # C(m, j) by the stepwise-exact multiplicative fold; j = 0 -> 1
    nums = ks.withColumn(
        "num",
        F.expr(
            """
            aggregate(CASE WHEN k > 0 THEN sequence(CAST(1 AS BIGINT), k)
                           ELSE array() END,
                      CAST(1 AS BIGINT),
                      (acc, i) -> (acc * (r1 - k + i)) DIV i)
            * aggregate(CASE WHEN c1 - k > 0
                             THEN sequence(CAST(1 AS BIGINT), c1 - k)
                             ELSE array() END,
                        CAST(1 AS BIGINT),
                        (acc, i) -> (acc * ((n - r1) - (c1 - k) + i)) DIV i)
            """
        ).cast("long"),
    )
    obs = nums.groupBy("event_type").agg(
        F.max(F.when(F.col("k") == F.col("a"), F.col("num"))).alias("a_num"),
        F.sum("num").cast("long").alias("denom"),
    )
    j = nums.join(F.broadcast(obs), "event_type")
    return j.groupBy("event_type", "denom").agg(
        F.any_value("n").alias("n_days"),
        F.any_value("c1").alias("n_weekend_days"),
        F.any_value("r1").alias("n_above_avg_days"),
        F.any_value("a").alias("a_obs"),
        round_long(
            F.lit(1000000.0)
            * F.sum(
                F.when(F.col("num") <= F.col("a_num"), F.col("num")).otherwise(
                    0
                )
            ).cast("double")
            / F.col("denom")
        )
        .alias("p_two_sided_micro"),
    ).drop("denom")


_PERM_REPS = 199  # standard K for a 0.005-resolution permutation p-value


@query(
    "agg_permutation_test",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    obs AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN t % 7 IN (5, 6) THEN x ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN t % 7 NOT IN (5, 6) THEN x ELSE 0 END)
                    AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    ),
    perms AS (
        SELECT d.event_type, d.t, d.x, r.rep,
               ((d.t * {KNUTH_MULT} + r.rep * 40503) % 2147483648)
                   * {KNUTH_MULT} % {KNUTH_MOD} AS h
        FROM daily d
        CROSS JOIN (SELECT unnest(range(1, {_PERM_REPS} + 1)) AS rep) r
    ),
    labeled AS (
        SELECT p.event_type, p.rep, p.x,
               ROW_NUMBER() OVER (PARTITION BY p.event_type, p.rep
                                  ORDER BY p.h, p.t) <= o.n1 AS pseudo_wk
        FROM perms p JOIN obs o USING (event_type)
    ),
    rep_stats AS (
        SELECT l.event_type, l.rep,
               CAST(SUM(CASE WHEN l.pseudo_wk THEN l.x ELSE 0 END)
                    AS BIGINT) AS s1r,
               CAST(SUM(CASE WHEN l.pseudo_wk THEN 0 ELSE l.x END)
                    AS BIGINT) AS s2r
        FROM labeled l GROUP BY l.event_type, l.rep
    ),
    scored AS (
        SELECT r.event_type,
               CASE WHEN abs(CAST(floor(1000000.0
                        * (CAST(r.s1r AS DOUBLE) / o.n1
                           - CAST(r.s2r AS DOUBLE) / (o.n - o.n1))
                        + 0.5) AS BIGINT))
                    >= abs(CAST(floor(1000000.0
                        * (CAST(o.s1 AS DOUBLE) / o.n1
                           - CAST(o.s2 AS DOUBLE) / (o.n - o.n1))
                        + 0.5) AS BIGINT))
                    THEN 1 ELSE 0 END AS extreme
        FROM rep_stats r JOIN obs o USING (event_type)
        WHERE o.n1 > 0 AND o.n - o.n1 > 0
    )
    SELECT o.event_type, o.n AS n_days, o.n1 AS n_weekend_days,
           CAST(floor(1000000.0
                * (CAST(o.s1 AS DOUBLE) / o.n1
                   - CAST(o.s2 AS DOUBLE) / (o.n - o.n1))
                + 0.5) AS BIGINT) AS d_obs_micro,
           CAST({_PERM_REPS} AS BIGINT) AS k_reps,
           CAST(SUM(s.extreme) AS BIGINT) AS n_extreme,
           CAST(floor(1000000.0
                * CAST(1 + SUM(s.extreme) AS DOUBLE) / (1 + {_PERM_REPS})
                + 0.5) AS BIGINT) AS p_micro
    FROM obs o JOIN scored s USING (event_type)
    WHERE o.n1 > 0 AND o.n - o.n1 > 0
    GROUP BY o.event_type, o.n, o.n1, o.s1, o.s2
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION (randomization) test per event type on the
    weekend-vs-weekday daily-mean difference — the RESAMPLING member
    completing the inference family (agg_welch_ttest assumes
    normal-ish; agg_mannwhitney_u assumes exchangeable ranks;
    agg_fisher_exact needs a 2x2; this assumes ONLY exchangeability of
    the raw values).  K = 199 label permutations; p = (1 + #extreme) /
    (1 + K), the standard add-one randomization p-value (Davison &
    Hinkley 1997).

    DETERMINISTIC permutations with EXACT group sizes: rep r's
    pseudo-weekend is the n1 days with the smallest Knuth-style hash
    h(t, r) (rank window per (type, rep), h then t tiebreak) — never
    rand(), so every engine, partitioning, and re-run draws the SAME
    199 permutations; the hash arithmetic is kept inside int64 by a
    2^31 pre-mod.  Both the observed and each permuted difference
    micro-quantize BEFORE the |.| >= |.| comparison, so 'extreme' is
    an exact integer predicate on both engines.

    Scale: the permutation table is |types| x n_days x K rows —
    calendar x constant, NOT corpus-sized (30 x 199 x 5 ~ 30k rows
    here), built AFTER the one corpus-sized daily rollup; the rank
    windows partition per (type, rep).  Raising K to 9999 scales the
    small table linearly and the corpus cost not at all."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    is_wk = (F.col("t") % 7).isin(5, 6)
    obs = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(is_wk, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(is_wk, F.col("x")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(~is_wk, F.col("x")).otherwise(0)).cast("long").alias("s2"),
    )
    reps = spark.range(1, _PERM_REPS + 1).select(
        F.col("id").cast("long").alias("rep")
    )
    h = (
        (F.col("t") * KNUTH_MULT + F.col("rep") * 40503) % 2147483648
    ) * KNUTH_MULT % KNUTH_MOD
    perms = daily.crossJoin(F.broadcast(reps)).select(
        "event_type", "t", "x", "rep", h.alias("h")
    )
    w = Window.partitionBy("event_type", "rep").orderBy("h", "t")
    labeled = perms.join(
        F.broadcast(obs.select("event_type", "n", "n1", "s1", "s2")),
        "event_type",
    ).select(
        "event_type",
        "rep",
        "x",
        "n",
        "n1",
        "s1",
        "s2",
        (F.row_number().over(w) <= F.col("n1")).alias("pseudo_wk"),
    )
    rep_stats = labeled.groupBy(
        "event_type", "rep", "n", "n1", "s1", "s2"
    ).agg(
        F.sum(F.when(F.col("pseudo_wk"), F.col("x")).otherwise(0))
        .cast("long")
        .alias("s1r"),
        F.sum(F.when(F.col("pseudo_wk"), 0).otherwise(F.col("x")))
        .cast("long")
        .alias("s2r"),
    )
    n, n1, s1, s2 = F.col("n"), F.col("n1"), F.col("s1"), F.col("s2")

    def dmicro(sa, sb):
        return round_long(
            F.lit(1000000.0)
            * (sa.cast("double") / n1 - sb.cast("double") / (n - n1))
        )

    scored = rep_stats.filter((n1 > 0) & (n - n1 > 0)).select(
        "event_type",
        "n",
        "n1",
        "s1",
        "s2",
        F.when(
            F.abs(dmicro(F.col("s1r"), F.col("s2r")))
            >= F.abs(dmicro(s1, s2)),
            1,
        )
        .otherwise(0)
        .alias("extreme"),
    )
    return scored.groupBy("event_type", "n", "n1", "s1", "s2").agg(
        F.sum("extreme").cast("long").alias("n_extreme")
    ).select(
        "event_type",
        n.alias("n_days"),
        n1.alias("n_weekend_days"),
        dmicro(s1, s2).alias("d_obs_micro"),
        F.lit(_PERM_REPS).cast("long").alias("k_reps"),
        "n_extreme",
        round_long(
            F.lit(1000000.0)
            * (1 + F.col("n_extreme")).cast("double")
            / (1 + _PERM_REPS)
        )
        .alias("p_micro"),
    )
