"""§2.5 Window functions (SURVEY.md).

Reference analogue: the heart of the pipeline — per-source snapshot
sequences.  ``win_lag_change_detect`` IS the reference's core loop
(hash the cleaned content, compare to the previous version, flag
changes); latest-N-versions, first/last-seen and time-to-next-scan are
the other window shapes it computes imperatively.

Every window ORDER BY carries a unique tiebreaker (primary key) so tie
order — and therefore lag/lead/row_number output — is deterministic on
both engines.  Scale note: windows shuffle once on the partition key
and sort within; a window WITHOUT a partition key funnels everything
into one task, so the only global windows below run on already-
aggregated (tiny) inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from ._helpers import (
    DAILY_D_SQL_CTE,
    DAILY_SQL_CTE,
    DEC,
    _daily_counts,
    _day_diffs,
    _full_frames,
    round_long,
)


@query(
    "win_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (reference: latest-N versions per
    source).  row_number + filter — the canonical per-group top-k that
    never materializes the full sort."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "win_rank_dense",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS drnk
    FROM supplier
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank of suppliers by balance within nation — tie
    handling is value-based, so no tiebreaker is needed for
    determinism of the rank values themselves."""
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "win_lag_change_detect",
    oracle="""
    SELECT event_id, user_id, content_hash,
           (prev_hash IS NULL OR prev_hash <> content_hash) AS changed
    FROM (
        SELECT event_id, user_id,
               sha256(props) AS content_hash,
               LAG(sha256(props)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_hash
        FROM events
    )
    """,
)
def win_lag_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DETECTION — the reference's core loop, declaratively: per
    source (user_id) order snapshots by scan time, hash the content
    (props), and flag rows whose hash differs from the previous
    snapshot's.  First snapshot counts as changed (new source).  One
    shuffle on the source key; scales linearly in snapshots."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = F.sha2("props", 256)
    prev = F.lag(h).over(w)
    return ev.select(
        "event_id",
        "user_id",
        h.alias("content_hash"),
        (prev.isNull() | (prev != h)).alias("changed"),
    )


@query(
    "win_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS gap_us
    FROM events
    """,
)
def win_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-next-event per user (reference: time-to-next-scan)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        nxt.alias("next_ts"),
        (F.unix_micros(nxt) - F.unix_micros("ts")).alias("gap_us"),
    )


@query(
    "win_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over order time (reference:
    cumulative change counts).  Decimal-summed so every prefix is exact
    and engine-order-independent."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
    return o.select("o_custkey", "o_orderkey", "o_orderdate", running.alias("running_total"))


@query(
    "win_moving_avg",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1
    )
    SELECT day, day_value,
           CAST(SUM(CAST(day_value AS DECIMAL(28,6)))
                    OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE)
           / COUNT(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS ma7
    FROM daily
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily event value (reference: smoothing
    scan metrics).  The global (partition-less) window runs on the
    already-aggregated daily table — ~30 rows here, one row per day at
    any scale — so the single-task sort is safe by construction."""
    ev = load(spark, sf_dir, "events")
    # day emitted as an ISO string: Spark DATE and DuckDB DATE round-trip
    # through pandas differently (date object vs midnight timestamp), so
    # a string column is the representation both engines agree on.
    daily = ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("day_value"))
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    ma = F.sum(F.col("day_value").cast(DEC)).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return daily.select("day", "day_value", ma.alias("ma7"))


@query(
    "win_range_frame",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                          RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS sum_30d
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per customer, total order value in the 30 days up to
    each order.  RANGE includes all peers of the current value, so ties
    need no tiebreaker — frame bounds are expressed in epoch-µs on both
    engines."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_micros("o_orderdate"))
        .rangeBetween(-2_592_000_000_000, Window.currentRow)
    )
    s = F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
    return o.select("o_custkey", "o_orderkey", "o_orderdate", s.alias("sum_30d"))


@query(
    "win_ntile_cume",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles / percent_rank / cume_dist of balances within segment.
    NTILE assigns ties by position, so the unique c_custkey tiebreaker
    is REQUIRED for cross-engine determinism."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value,
           FIRST_VALUE(value) OVER w AS day_first,
           LAST_VALUE(value)  OVER w AS day_last
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event value per user-day (reference: first-seen /
    last-seen snapshot per source per day).  Explicit full frame —
    LAST_VALUE over the default frame is a classic wrong-answer trap."""
    ev = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = (
        Window.partitionBy("user_id", day)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        "value",
        F.first("value").over(w).alias("day_first"),
        F.last("value").over(w).alias("day_last"),
    )


@query(
    "win_funnel_conversion",
    oracle="""
    WITH vp AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS next_purchase_ts
        FROM events
        WHERE event_type IN ('view', 'purchase')
    )
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) AS n_views,
           COUNT(CASE WHEN next_purchase_ts <= ts + INTERVAL 1 HOUR
                      THEN 1 END) AS n_converted,
           CAST(COUNT(CASE WHEN next_purchase_ts <= ts + INTERVAL 1 HOUR
                           THEN 1 END) AS DOUBLE) / COUNT(*) AS conv_rate
    FROM vp
    WHERE event_type = 'view'
    GROUP BY date_trunc('day', ts)
    """,
)
def win_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per view, does the same user purchase within the
    next hour?  Daily view->purchase conversion rates (reference
    analogue: did a page change lead to a capture within the cycle).

    One window per user (forward-min of purchase timestamps over a
    FOLLOWING frame) — a single shuffle on user_id, no self-join, no
    interval explosion; the sequence scan composes with any number of
    extra funnel stages by adding one forward-min per stage.  At 100 TB
    this beats the join formulation (which pairs every view with every
    candidate purchase before aggregating)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    views = ev.withColumn("next_purchase_ts", next_p).filter(
        F.col("event_type") == "view"
    )
    converted = F.when(
        F.col("next_purchase_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"), 1
    )
    return views.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_views"),
        F.count(converted).alias("n_converted"),
        (F.count(converted).cast("double") / F.count(F.lit(1))).alias("conv_rate"),
    )


@query(
    "scd2_intervals",
    oracle="""
    WITH hashed AS (
        SELECT user_id AS source_key, ts, event_id,
               sha256(props) AS content_hash
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN content_hash IS DISTINCT FROM
                            LAG(content_hash) OVER w THEN 1 ELSE 0 END AS changed
        FROM hashed WINDOW w AS (PARTITION BY source_key ORDER BY ts, event_id)
    ),
    versions AS (SELECT * FROM flagged WHERE changed = 1)
    SELECT source_key, content_hash, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY source_key
                          ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY source_key
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM versions
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build: collapse each source's snapshot stream
    into validity intervals — one row per distinct content version with
    [valid_from, valid_to) and an is_current flag.  This is the
    reference's directory-cache-of-versions expressed as a table: the
    change list tells you WHAT changed, this tells you WHEN each version
    was live.

    Two windows over the same (source_key, ts) partitioning — Catalyst
    plans ONE shuffle and one sort for both lag and lead.  At 100 TB
    this is the standard one-pass history derivation; the alternative
    (join each snapshot to its successor) pays a second shuffle for
    nothing."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("source_key").orderBy("ts", "event_id")
    hashed = e.select(
        F.col("user_id").alias("source_key"),
        "ts",
        "event_id",
        F.sha2("props", 256).alias("content_hash"),
    )
    versions = hashed.withColumn(
        "changed",
        F.when(
            ~F.col("content_hash").eqNullSafe(F.lag("content_hash").over(w)), 1
        ).otherwise(0),
    ).filter(F.col("changed") == 1)
    lead_ts = F.lead("ts").over(w)
    return versions.select(
        "source_key",
        "content_hash",
        F.col("ts").alias("valid_from"),
        lead_ts.alias("valid_to"),
        lead_ts.isNull().alias("is_current"),
    )


@query(
    "win_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INT) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, COUNT(*) AS streak_len,
               MIN(d) AS streak_start
        FROM islands GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(streak_len) AS BIGINT) AS max_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(streak_len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    HAVING MAX(streak_len) >= 3
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gaps-and-islands
    idiom on DATES: distinct active days, then `day - row_number()` is
    constant within a run of consecutive days (the island anchor), group
    by anchor for streak lengths, then per-user maxima.  The reference
    analogue is "how many days in a row did this source change?" — the
    volatility profile behind its daily change list.

    One shuffle for distinct, one sort for the window, two skinny
    aggregations — all partitioned by user_id, so the chain reuses one
    partitioning end-to-end at any scale.  The date-minus-int anchor is
    exact integer arithmetic: no float, no tz, identical in both
    engines."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak_len").alias("max_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("streak_len").alias("active_days"),
        )
        .filter(F.col("max_streak") >= 3)
    )


@query(
    "win_lag_change_rate",
    oracle="""
    SELECT event_id, user_id,
           value - LAG(value) OVER w AS delta,
           ROUND((value - LAG(value) OVER w)
                 / (CAST(NULLIF(epoch_us(ts) - epoch_us(LAG(ts) OVER w), 0) AS DOUBLE)
                    / 1000000.0), 6) + 0.0 AS rate_per_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete derivative per entity stream: value delta and
    per-second rate against the previous observation — the numeric twin
    of win_lag_change_detect (there: did content change; here: how fast
    is the metric moving).  First observation per user yields NULLs, as
    a derivative should.

    One window, one shuffle on user_id.  The gap is NULLIF-guarded on
    BOTH engines: (ts, event_id) ordering makes ties unlikely but a
    duplicate (user_id, ts) pair in a regenerated fixture would hit
    0/0 — Spark (non-ANSI) yields NULL while DuckDB (IEEE) yields inf,
    breaking the hash; NULLIF degrades both to NULL identically.
    Rounded(6) because the µs->s division is engine-identical IEEE but
    the display canon isn't worth risking on 12-significant-digit
    ratios."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    gap_s = F.nullif(gap_us, F.lit(0)).cast("double") / 1_000_000.0
    return ev.select(
        "event_id",
        "user_id",
        delta.alias("delta"),
        # + 0.0 folds IEEE -0.0 to +0.0 (the engines round tiny
        # negatives to different zero signs)
        (F.round(delta / gap_s, 6) + 0.0).alias("rate_per_s"),
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@query(
    "win_sessionize",
    oracle=f"""
    WITH marks AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               CAST(SUM(is_start) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_seq
        FROM marks
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization — the gaps-and-islands twin of
    ``stream_session``: a session starts wherever the inactivity gap
    exceeds 30 minutes, the running count of starts IS the per-user
    session sequence number, and the report is one row per session.
    This is how historical event logs are sessionized for retention /
    funnel analysis when the stream has already landed in parquet.

    Two windows and one aggregate, ALL partitioned by user_id — the
    chain reuses a single hash partitioning end-to-end (one shuffle at
    any scale); ties on ts break on event_id so session boundaries are
    deterministic cross-engine."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_start = F.when(
        gap_us.isNull() | (gap_us > _SESSION_GAP_US), 1
    ).otherwise(0)
    marked = ev.select("user_id", "event_id", "ts", is_start.alias("is_start"))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = marked.withColumn("session_seq", F.sum("is_start").over(run))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


_Z_LOOKBACK = 20   # trailing observations the baseline is fit on
_Z_MIN_N = 5       # below this the baseline is too thin to score


@query(
    "win_anomaly_zscore",
    oracle=f"""
    WITH stats AS (
        SELECT event_id, user_id, ts, value,
               COUNT(value) OVER w AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
               CAST(SUM(CAST(value * value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                   AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CASE WHEN n >= {_Z_MIN_N}
                THEN ROUND((value - s1 / n)
                           / NULLIF(sqrt((s2 - s1 * s1 / n) / (n - 1)), 0), 6)
                     + 0.0
           END AS zscore,
           CAST(CASE WHEN n >= {_Z_MIN_N}
                     THEN abs((value - s1 / n)
                              / NULLIF(sqrt((s2 - s1 * s1 / n) / (n - 1)), 0)) > 3
                END AS INTEGER) AS is_anomaly
    FROM stats
    """,
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection — the monitoring verb over every
    metric stream: each observation scored against the mean/std of its
    user's previous {20} observations (current row EXCLUDED from its own
    baseline), |z| > 3 flagged.

    Determinism discipline: rolling mean and variance come from EXACT
    decimal window sums of value and value² (bit-identical at any
    partitioning), combined in a fixed double-expression order — the
    built-in stddev-over-window is an order-sensitive float reduction
    both engines would disagree on.  NULLIF guards the constant-baseline
    (zero variance) case, and windows thinner than {5} observations
    score NULL rather than pretending confidence.  One window, one
    shuffle on user_id — the same scale shape as every entity-stream
    operator here."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_LOOKBACK, -1)
    )
    n = F.count("value").over(w)
    s1 = F.sum(F.col("value").cast(DEC)).over(w).cast("double")
    s2 = F.sum((F.col("value") * F.col("value")).cast(DEC)).over(w).cast("double")
    mean = s1 / n
    sd = F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    z = (F.col("value") - mean) / F.nullif(sd, F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        F.when(n >= _Z_MIN_N, F.round(z, 6) + 0.0).alias("zscore"),
        # int, not boolean: a NULL boolean canonicalizes differently per
        # engine through pandas (object None vs float NaN) — as a nullable
        # int both sides degrade identically to NaN
        F.when(n >= _Z_MIN_N, (F.abs(z) > 3).cast("int")).alias("is_anomaly"),
    )


@query(
    "win_retention_cohort",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_wk
        FROM events GROUP BY user_id
    )
    SELECT strftime(CAST(f.cohort_wk AS DATE), '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', CAST(f.cohort_wk AS DATE),
                          CAST(date_trunc('week', e.ts) AS DATE)) // 7
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION — the product-analytics staple: users grouped by
    their first-activity week, then counted as active per week offset
    from that cohort — the matrix behind every retention curve
    (reference analogue: how long sources keep changing after first
    being scanned).

    Shape: the per-user cohort is a whole-partition MIN window (not an
    aggregate + self-join, which costs a second user_id exchange for
    the probe side — measured 3 shuffles vs this form's 2), then one
    distinct-count aggregate — two shuffles total, both on uniform
    keys.  The cohort week is emitted as an ISO date STRING (Spark
    DATE and DuckDB DATE canonicalize differently through pandas —
    same trick as win_moving_avg); week truncation is ISO Monday on
    both engines and the offset is exact integer day arithmetic."""
    ev = load(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    wu = Window.partitionBy("user_id")
    j = ev.withColumn("cohort_wk", F.min(wk).over(wu))
    offset = F.floor(
        F.datediff(wk.cast("date"), F.col("cohort_wk").cast("date")) / 7
    )
    return j.groupBy(
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
        offset.alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_active"))


@query(
    "win_conversion_lag",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(epoch_us(first_purchase) - epoch_us(first_view) AS BIGINT)
               AS lag_us,
           CAST(CASE WHEN first_purchase IS NOT NULL
                      AND first_view IS NOT NULL
                      AND first_purchase >= first_view
                THEN 1 ELSE 0 END AS INTEGER) AS converted
    FROM per_user
    WHERE first_view IS NOT NULL
    """,
)
def win_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion per user — the survival-analysis input every
    growth team computes: lag from the FIRST view to the FIRST purchase
    (NULL lag when the user never purchased; converted only when the
    purchase followed the view).  Together with win_retention_cohort
    and win_funnel_conversion this completes the product-metrics trio.

    ONE conditional-MIN aggregate — no window, no join, no explode;
    both firsts come out of the same map-side-combinable pass, so the
    operator costs a single shuffle of two timestamps per user at any
    scale."""
    ev = load(spark, sf_dir, "events")
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    per_user = ev.groupBy("user_id").agg(
        first_view.alias("first_view"), first_purchase.alias("first_purchase")
    )
    converted = (
        F.col("first_purchase").isNotNull()
        & F.col("first_view").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    )
    return per_user.filter(F.col("first_view").isNotNull()).select(
        "user_id",
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ).alias("lag_us"),
        converted.cast("int").alias("converted"),
    )


@query(
    "win_moving_median",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           median(CAST(l_quantity AS DOUBLE)) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_qty7
    FROM lineitem
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of shipment quantity per supplier over the
    last 7 line items — the robust-statistics sibling of
    win_moving_avg: a median-based rolling baseline is what anomaly
    monitors use when spikes would drag a mean.  Spark's percentile()
    as a WINDOW aggregate recomputes the order statistic per frame —
    fine for a bounded ROWS frame (7 values); for wide frames at
    100 TB switch to the two-heap streaming median inside
    applyInPandas per entity.

    Partitioned by supplier (naturally high cardinality — no global
    window), deterministic total order via the (shipdate, orderkey,
    linenumber) tiebreak.  Cross-engine float discipline: l_quantity
    is integer-valued, so the even-frame midpoint lerp (a+(b-a)*0.5
    here, quantile_cont in DuckDB) is exact in BOTH engines — no
    ROUND needed; verified bit-identical over all 6000 sf0.001 rows
    before this landed."""
    li = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-6, Window.currentRow)
    )
    med = F.percentile(F.col("l_quantity").cast("double"), F.lit(0.5)).over(w)
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber", med.alias("med_qty7")
    )


def _rolling_bitmap_lazy(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build (persisted daily-bitmap partials, lazy result) for
    win_rolling_bitmap_distinct from an events-shaped frame — shared
    with the A/B in SCALE.md "Measured: rolling-distinct bitmap window vs
    naive range join" (ea6ce32:experiments/rolling_distinct_ab.py) so it
    always measures the shipped formulation.  Caller owns unpersisting the first
    element after consuming the second."""
    epoch = F.lit("1992-01-01").cast("date")
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("day_d"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("day_d", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .withColumn("di", F.datediff("day_d", epoch))
    ).persist()
    days = daily.select("day_d", "di").distinct()
    buckets = daily.select("bucket").distinct()
    grid = days.crossJoin(F.broadcast(buckets)).join(
        daily, ["day_d", "di", "bucket"], "left"
    )
    w = Window.partitionBy("bucket").orderBy("di").rangeBetween(-6, 0)
    rolled = grid.select(
        "day_d",
        F.bitmap_count(F.expr("bitmap_or_agg(bm)").over(w)).alias("cnt"),
    )
    out = rolled.groupBy(
        F.date_format("day_d", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.coalesce("cnt", F.lit(0))).alias("users_7d"))
    return daily, out


@query(
    "win_rolling_bitmap_distinct",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    idx AS (
        SELECT day, user_id,
               datediff('day', DATE '1992-01-01', day) AS di
        FROM du
    )
    SELECT DISTINCT strftime(day, '%Y-%m-%d') AS day,
           count(distinct user_id) OVER (
               ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS users_7d
    FROM idx
    """,
)
def win_rolling_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 7-day distinct users per day — the hard windowed
    metric (distinct does not decompose over sliding frames, so the
    naive answer re-scans 7 days of raw events per output day).  The
    bitmap partials from the agg_bitmap_distinct family make it cheap:
    one (day, bucket) bitmap per ingest day, a windowed bitmap_or_agg
    over a RANGE frame per bucket, popcount, and a per-day sum across
    buckets (buckets partition the id space, so the sum is exact).

    Calendar-gap correctness: the OR-window runs over a (day x bucket)
    SPINE (distinct days cross-joined with active buckets, bitmaps
    left-joined on), so a bucket silent on day d still contributes its
    six-day-old users to d's frame — a ROWS frame over present-only
    rows would misalign.  The RANGE frame keys on an integer day index,
    which also handles missing calendar days.

    Single-scan discipline: the spine's days/buckets derive from the
    SAME daily-partials DataFrame, which is PERSISTED — without the
    persist, Catalyst rewrites distinct-of-grouping-key straight onto
    the base table and plans three independent event scans (caught by
    the round-4 diff review; test_plans.py now pins one scan).  The
    persisted partials are exactly the (day, bucket, bitmap) table the
    100 TB design stores at ingest: days x buckets rows, 4 KB each.
    The day-grain result (one row per calendar day at any scale) is
    localized eagerly so the cache can be released — the udf_suite
    pattern.  The DuckDB oracle computes the same metric as a windowed
    COUNT(DISTINCT) over (day, user) pairs — same numbers from a
    completely different mechanism."""
    daily, out = _rolling_bitmap_lazy(load(spark, sf_dir, "events"))
    try:
        rows = out.collect()
    finally:
        daily.unpersist()
    return spark.createDataFrame(rows, out.schema)


@query(
    "win_hampel_outliers",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_day
        FROM events GROUP BY 1, 2
    ),
    frame AS (
        SELECT a.event_type, a.d, b.n_day AS member
        FROM daily a
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.d BETWEEN a.d - 3 AND a.d + 3
    ),
    med AS (
        SELECT event_type, d,
               median(CAST(member AS DOUBLE)) AS med7
        FROM frame GROUP BY event_type, d
    ),
    mad AS (
        SELECT f.event_type, f.d,
               median(abs(CAST(f.member AS DOUBLE) - m.med7)) AS mad7
        FROM frame f JOIN med m
          ON m.event_type = f.event_type AND m.d = f.d
        GROUP BY f.event_type, f.d
    )
    SELECT daily.event_type, strftime(daily.d, '%Y-%m-%d') AS day,
           daily.n_day, m.med7, a.mad7,
           CAST(CASE WHEN abs(CAST(daily.n_day AS DOUBLE) - m.med7)
                          > 3 * a.mad7
                     THEN 1 ELSE 0 END AS INT) AS outlier
    FROM daily
    JOIN med m ON m.event_type = daily.event_type AND m.d = daily.d
    JOIN mad a ON a.event_type = daily.event_type AND a.d = daily.d
    """,
)
def win_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over each type's daily event counts: a +/-3-day
    rolling MEDIAN baseline with a rolling MAD spread, flagging days
    where |count - median| > 3*MAD — the robust outlier detector
    monitors prefer over z-scores (win_anomaly_zscore's sibling)
    because one spike can't drag its own baseline.

    The MAD is frame-relative (each day's deviations are measured
    against THAT frame's median), which no window function can nest —
    so the frame is materialized as a bounded equi-join on
    (event_type, day within +/-3): fan-out <= 7 rows per day,
    calendar-bounded input (the daily rollup), two skinny group-bys.
    That shape survives 100 TB unchanged: the corpus-sized stage is
    the one daily count; everything after moves ~7x one-row-per-day.

    Exactness: counts are integers, so both medians land on .5
    granularity and the 3*MAD comparison is decided far from any
    float boundary; Spark percentile() and DuckDB median() both
    linear-interpolate.  Flag emitted as INT (nullable-boolean
    doctrine)."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d", x="n_day")
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("d").alias("bd"),
        F.col("n_day").alias("member"),
    )
    frame = daily.select("event_type", "d").join(
        b,
        (F.col("bt") == F.col("event_type"))
        & (F.col("bd") >= F.date_sub("d", 3))
        & (F.col("bd") <= F.date_add("d", 3)),
    )
    med = frame.groupBy("event_type", "d").agg(
        F.percentile(F.col("member").cast("double"), F.lit(0.5)).alias("med7")
    )
    mad = (
        frame.join(med, ["event_type", "d"])
        .groupBy("event_type", "d")
        .agg(
            F.percentile(
                F.abs(F.col("member").cast("double") - F.col("med7")),
                F.lit(0.5),
            ).alias("mad7")
        )
    )
    return (
        daily.join(med, ["event_type", "d"])
        .join(mad, ["event_type", "d"])
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_day",
            "med7",
            "mad7",
            (
                F.abs(F.col("n_day").cast("double") - F.col("med7"))
                > F.lit(3) * F.col("mad7")
            )
            .cast("int")
            .alias("outlier"),
        )
    )


@query(
    "win_week_over_week",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT cur.event_type, strftime(cur.d, '%Y-%m-%d') AS day,
           cur.n, prev.n AS n_prev,
           cur.n - prev.n AS delta,
           CAST(floor(1000000.0 * (cur.n - prev.n) / prev.n + 0.5) AS BIGINT)
               AS wow_micro
    FROM daily cur
    JOIN daily prev
      ON prev.event_type = cur.event_type AND prev.d = cur.d - 7
    """,
)
def win_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change of daily counts per type via a CALENDAR
    self-join (same weekday, exactly 7 days apart) — deliberately NOT
    `lag(7)`: lag counts ROWS, so one missing day silently compares
    Tuesday to Wednesday; the calendar join compares dates or emits
    nothing, which is the correct semantics for sparse series (the
    reason real dashboards join a date spine).

    All-integer counts with one trailing micro-quantized division.
    Scale: the join runs on the DAILY rollup (calendar-bounded per
    key) as an equi-join on (type, date) — co-partitioned, no
    window, no global sort; at 100 TB the corpus-sized stage is the
    one daily aggregate."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d", x="n")
    prev = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("n").alias("n_prev"),
    )
    j = daily.join(prev, ["event_type", "d"])
    return j.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        "n_prev",
        (F.col("n") - F.col("n_prev")).alias("delta"),
        round_long(F.lit(1000000.0) * (F.col("n") - F.col("n_prev")) / F.col("n_prev"))
        .alias("wow_micro"),
    )


@query(
    "win_bollinger_exact",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    sums AS (
        SELECT event_type, d, x,
               COUNT(*) OVER w AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS s1,
               CAST(SUM(x * x) OVER w AS BIGINT) AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
           CAST(floor(1000000.0 * s1 / n + 0.5) AS BIGINT) AS mid_micro,
           CAST(floor(1000000.0
                * (CAST(s1 AS DOUBLE) / n
                   + 2 * sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
                              / (CAST(n AS DOUBLE) * n)))
                + 0.5) AS BIGINT) AS upper_micro,
           CAST(floor(1000000.0
                * (CAST(s1 AS DOUBLE) / n
                   - 2 * sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
                              / (CAST(n AS DOUBLE) * n)))
                + 0.5) AS BIGINT) AS lower_micro
    FROM sums WHERE n = 7
    """,
)
def win_bollinger_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day rolling mean +/- 2 population sigmas) over
    each type's daily counts — the volatility envelope, computed the
    partitioning-invariant way: the two rolling sums (Sx, Sx^2) are
    exact BIGINTs from ONE shared frame (built-in windowed stddev is an
    order-dependent double reduction that cannot hash-match — the
    agg_moments_exact argument applied to windows), and mean/sigma fall
    out of one identical IEEE chain per engine, micro-quantized.
    Incomplete leading frames are excluded (n = 7, the
    win_rolling_regression edge policy).  Per-type windows over the
    calendar-bounded daily rollup — no global sort, corpus-sized work
    is the one daily aggregate."""
    e = load(spark, sf_dir, "events")
    sums = _full_frames(
        _daily_counts(e, "d"),
        7,
        ["x"],
        s1=F.sum("x"),
        s2=F.sum(F.col("x") * F.col("x")),
    )
    nD = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("s2").cast("double") * F.col("n")
         - F.col("s1").cast("double") * F.col("s1"))
        / (nD * F.col("n"))
    )
    return sums.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        round_long(F.lit(1000000.0) * F.col("s1") / F.col("n")).alias("mid_micro"),
        round_long(F.lit(1000000.0) * (mean + F.lit(2) * sigma)).alias("upper_micro"),
        round_long(F.lit(1000000.0) * (mean - F.lit(2) * sigma)).alias("lower_micro"),
    )


@query(
    "win_rsi",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    diffs AS (
        SELECT event_type, d,
               x - LAG(x) OVER (PARTITION BY event_type ORDER BY d)
                   AS diff
        FROM daily
    ),
    sums AS (
        SELECT event_type, d,
               COUNT(*) OVER w AS n,
               CAST(SUM(greatest(diff, 0)) OVER w AS BIGINT) AS g,
               CAST(SUM(greatest(-diff, 0)) OVER w AS BIGINT) AS l
        FROM diffs WHERE diff IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, g AS gain_sum,
           l AS loss_sum,
           CASE WHEN g + l > 0 THEN
               CAST(floor(1000000.0 * 100.0 * CAST(g AS DOUBLE)
                          / CAST(g + l AS DOUBLE) + 0.5) AS BIGINT)
           END AS rsi_micro
    FROM sums WHERE n = 14
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Relative Strength Index (Wilder 1978, SMA variant) over
    each type's daily counts — the bounded momentum oscillator
    (RSI > 70 = overextended growth, < 30 = collapse) that pairs with
    win_bollinger_exact in the volatility/momentum alerting stack.

    Integer-exact by the bollinger doctrine: day-over-day diffs are
    exact BIGINTs, the 14-day gain and loss sums ride ONE shared frame
    (RSI = 100*G/(G+L), algebraically 100 - 100/(1+RS) without the
    divide-by-zero-on-no-loss hole), and the single double division is
    micro-quantized.  A flat 14-day window (G + L = 0) is NULL on both
    engines; incomplete leading frames are excluded (n = 14).

    Scale: per-type windows over the calendar-bounded daily rollup —
    corpus-sized work is the one daily aggregate, both window passes
    (lag + rolling sums) share the (event_type, d) sort order so
    Catalyst fuses them into sequential Window nodes over ONE
    exchange."""
    e = load(spark, sf_dir, "events")
    sums = _full_frames(
        _day_diffs(e),
        14,
        [],
        g=F.sum(F.greatest("diff", F.lit(0))),
        l=F.sum(F.greatest(-F.col("diff"), F.lit(0))),
    )
    rsi = F.when(
        F.col("g") + F.col("l") > 0,
        round_long(
            F.lit(1000000.0)
            * F.lit(100.0)
            * F.col("g").cast("double")
            / (F.col("g") + F.col("l")).cast("double")
        ),
    )
    return sums.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("g").alias("gain_sum"),
        F.col("l").alias("loss_sum"),
        rsi.alias("rsi_micro"),
    )


@query(
    "win_seasonal_naive_error",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    fc AS (
        SELECT event_type, x,
               LAG(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS xhat
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(abs(x - xhat)) AS BIGINT) AS abs_err_sum,
           CAST(floor(1000000.0 * SUM(abs(x - xhat)) / COUNT(*) + 0.5)
                AS BIGINT) AS mae_micro,
           CASE WHEN SUM(x) > 0 THEN
               CAST(floor(1000000.0 * SUM(abs(x - xhat)) / SUM(x) + 0.5)
                    AS BIGINT)
           END AS wape_micro
    FROM fc WHERE xhat IS NOT NULL
    GROUP BY event_type
    """,
)
def win_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error per type — predict today = same
    weekday last week (the baseline every real forecaster must beat;
    M-competition doctrine: report skill RELATIVE to this, not raw
    error).  Emits MAE and WAPE (Sum|err|/Sum actual — the
    industry-preferred 'percentage' error: unlike MAPE it has no
    per-row division, so zero-count days can't blow it up, and
    rationally it stays ALL-INTEGER until one quantized division).

    Pairs with ts_holt_winters/ts_croston: those produce forecasts,
    this scores the benchmark they must beat.  All sums are exact
    BIGINT; the lag-7 window is the win_week_over_week frame.

    Scale: one corpus-sized daily aggregate, one per-type lag window
    over calendar-bounded rows, one tiny final aggregate."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d")
    w = Window.partitionBy("event_type").orderBy("d")
    fc = daily.select(
        "event_type", "x", F.lag("x", 7).over(w).alias("xhat")
    ).filter(F.col("xhat").isNotNull())
    err = F.abs(F.col("x") - F.col("xhat"))
    return fc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(err).cast("long").alias("abs_err_sum"),
        round_long(F.lit(1000000.0) * F.sum(err) / F.count(F.lit(1)))
        .alias("mae_micro"),
        F.when(
            F.sum("x") > 0,
            round_long(F.lit(1000000.0) * F.sum(err) / F.sum("x")),
        ).alias("wape_micro"),
    )


@query(
    "win_stochastic_oscillator",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    framed AS (
        SELECT event_type, d, x,
               COUNT(*) OVER w AS n,
               CAST(MAX(x) OVER w AS BIGINT) AS hi,
               CAST(MIN(x) OVER w AS BIGINT) AS lo
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT event_type, d, x, hi, lo,
               CASE WHEN hi > lo THEN
                   CAST(floor(1000000.0 * CAST(x - lo AS DOUBLE)
                        / (hi - lo) + 0.5) AS BIGINT)
               END AS k_micro
        FROM framed WHERE n = 7
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x, hi, lo, k_micro,
           CAST(floor((CAST(k_micro AS DOUBLE)
                       + LAG(k_micro, 1) OVER wk
                       + LAG(k_micro, 2) OVER wk) / 3.0 + 0.5) AS BIGINT)
               AS d_micro
    FROM k
    WINDOW wk AS (PARTITION BY event_type ORDER BY d)
    """,
)
def win_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator over each type's daily counts: %K = where
    today sits inside the 7-day high-low channel (0 = at the low,
    1e6 = at the high), %D = 3-day smoothing of %K — the momentum
    indicator pair, and with hi/lo emitted it doubles as Donchian
    channels.  The ops question it answers: is today's traffic pressing
    the top of its recent range (breakout) or the bottom (decay)?

    Channel bounds are exact integer MIN/MAX over the bollinger frame
    (no float reduction at all); %K quantizes one guarded division;
    %D averages the three QUANTIZED %K integers (NULL-propagating: a
    flat channel or a too-early row yields NULL on both engines, and
    the leading 2 rows of each type have no 2-lag — NULL there too).
    Incomplete frames are excluded (n = 7, the house edge policy).

    Scale: per-type windows over the calendar-bounded daily rollup —
    the win_bollinger_exact cost class exactly."""
    e = load(spark, sf_dir, "events")
    framed = _full_frames(
        _daily_counts(e, "d"), 7, ["x"], hi=F.max("x"), lo=F.min("x")
    )
    hi, lo = F.col("hi"), F.col("lo")
    k = framed.select(
        "event_type",
        "d",
        "x",
        "hi",
        "lo",
        F.when(
            hi > lo,
            round_long(F.lit(1000000.0) * (F.col("x") - lo).cast("double") / (hi - lo)),
        ).alias("k_micro"),
    )
    wk = Window.partitionBy("event_type").orderBy("d")
    return k.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        "hi",
        "lo",
        "k_micro",
        round_long(
            (
                F.col("k_micro").cast("double")
                + F.lag("k_micro", 1).over(wk)
                + F.lag("k_micro", 2).over(wk)
            )
            / F.lit(3.0)
        )
        .alias("d_micro"),
    )


@query(
    "win_ulcer_index",
    oracle=f"""
    WITH {DAILY_D_SQL_CTE},
    dd AS (
        SELECT event_type, d, x,
               CAST(floor(1000000.0
                    * CAST(x - MAX(x) OVER wrun AS DOUBLE)
                    / MAX(x) OVER wrun + 0.5) AS BIGINT) AS dd_micro
        FROM daily
        WINDOW wrun AS (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    rolled AS (
        SELECT event_type, d, x, dd_micro,
               COUNT(*) OVER w AS n,
               CAST(SUM(dd_micro * dd_micro) OVER w AS BIGINT) AS sum_sq
        FROM dd
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x, dd_micro,
           CAST(floor(sqrt(CAST(sum_sq AS DOUBLE) / 7.0) + 0.5) AS BIGINT)
               AS ulcer_micro
    FROM rolled WHERE n = 7
    """,
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index over each type's daily counts: RMS of the percentage
    drawdown from the running peak, over a 7-day frame — the risk
    metric that punishes DEPTH x DURATION of slumps (win_drawdown
    reports the worst single dip; the ulcer index hurts more the longer
    traffic stays down, which is what an SLO review actually wants).

    Per-row drawdown (x - runmax)/runmax quantizes to BIGINT micro
    (runmax >= x >= 1 so the division is always defined), its SQUARE is
    an exact 1e12-scaled BIGINT, the rolling sum is integer, and one
    final sqrt lands back on the micro scale.  Incomplete frames
    excluded (n = 7).

    Scale: two per-type windows (running max + rolling sum) over the
    calendar-bounded daily rollup, fused into the same sort order —
    one partition-local sort, no extra shuffle."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runmax = F.max("x").over(wrun)
    dd = daily.select(
        "event_type",
        "d",
        "x",
        round_long(F.lit(1000000.0) * (F.col("x") - runmax).cast("double") / runmax)
        .alias("dd_micro"),
    )
    rolled = _full_frames(
        dd,
        7,
        ["x", "dd_micro"],
        sum_sq=F.sum(F.col("dd_micro") * F.col("dd_micro")),
    )
    return rolled.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        "dd_micro",
        round_long(F.sqrt(F.col("sum_sq").cast("double") / F.lit(7.0)))
        .alias("ulcer_micro"),
    )


@query(
    "win_seasonal_zscore",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    framed AS (
        SELECT event_type, t, x,
               COUNT(*) OVER w AS nh,
               CAST(SUM(x) OVER w AS BIGINT) AS s1,
               CAST(SUM(x * x) OVER w AS BIGINT) AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type, t % 7 ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, t AS day_idx, x, nh AS n_history,
           CASE WHEN nh >= 2
                 AND CAST(s2 AS DOUBLE) * nh - CAST(s1 AS DOUBLE) * s1 > 0
           THEN
               CAST(floor(1000000.0
                    * (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / nh)
                    / sqrt((CAST(s2 AS DOUBLE) * nh
                            - CAST(s1 AS DOUBLE) * s1)
                           / (CAST(nh AS DOUBLE) * nh))
                    + 0.5) AS BIGINT)
           END AS seasonal_z_micro
    FROM framed
    """,
)
def win_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly score: each day's count z-scored
    against PRIOR SAME-WEEKDAY history only — the alert
    win_anomaly_zscore should have been on weekly-rhythmed traffic
    (a quiet Sunday is normal FOR SUNDAYS; the global z calls every
    weekend an anomaly and every weekday-outage normal).  Partitioning
    the history window by (type, dow) is the entire fix.

    Exact integer rolling (s1, s2) over the expanding same-dow frame
    (strictly PRIOR rows — no self-inclusion bias), population sigma in
    one identical IEEE chain per engine, micro-quantized; days with
    under 2 prior observations or zero variance emit NULL identically.

    Scale: one per-(type, dow) window over the calendar-bounded daily
    rollup — seven interleaved expanding windows per type, one sort."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("event_type", F.col("t") % 7)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    framed = daily.select(
        "event_type",
        "t",
        "x",
        F.count(F.lit(1)).over(w).alias("nh"),
        F.sum("x").over(w).cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("s2"),
    )
    nh = F.col("nh")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var_num = s2d * nh - s1d * F.col("s1")
    return framed.select(
        "event_type",
        F.col("t").alias("day_idx"),
        "x",
        nh.alias("n_history"),
        F.when(
            (nh >= 2) & (var_num > 0),
            round_long(
                F.lit(1000000.0)
                * (F.col("x").cast("double") - s1d / nh)
                / F.sqrt(var_num / (nh.cast("double") * nh))
            ),
        ).alias("seasonal_z_micro"),
    )


@query(
    "win_xmr_control_chart",
    oracle=f"""
    WITH {DAILY_SQL_CTE},
    mr AS (
        SELECT event_type, t, x,
               abs(x - LAG(x) OVER (PARTITION BY event_type ORDER BY t))
                   AS mr
        FROM daily
    ),
    lims AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(mr) AS BIGINT) AS smr,
               CAST(COUNT(mr) AS BIGINT) AS nmr
        FROM mr GROUP BY event_type
    )
    SELECT m.event_type, m.t AS day_idx, m.x,
           CAST(floor(1000000.0 * (CAST(l.sx AS DOUBLE) / l.n_days
                + 2.66 * CAST(l.smr AS DOUBLE) / l.nmr) + 0.5) AS BIGINT)
               AS ucl_micro,
           CAST(floor(1000000.0 * (CAST(l.sx AS DOUBLE) / l.n_days
                - 2.66 * CAST(l.smr AS DOUBLE) / l.nmr) + 0.5) AS BIGINT)
               AS lcl_micro,
           CASE WHEN 1000000 * m.x
                     > CAST(floor(1000000.0 * (CAST(l.sx AS DOUBLE)
                            / l.n_days + 2.66 * CAST(l.smr AS DOUBLE)
                            / l.nmr) + 0.5) AS BIGINT)
                  OR 1000000 * m.x
                     < CAST(floor(1000000.0 * (CAST(l.sx AS DOUBLE)
                            / l.n_days - 2.66 * CAST(l.smr AS DOUBLE)
                            / l.nmr) + 0.5) AS BIGINT)
                THEN 1 ELSE 0 END AS violation
    FROM mr m JOIN lims l ON m.event_type = l.event_type
    WHERE l.nmr >= 1
    """,
)
def win_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals / moving-range) control chart per event type —
    the SPC classic: natural process limits at mean +/- 2.66 * mean
    moving range, each day flagged in or out of control.  The 2.66
    constant converts the mean 2-point range into a 3-sigma-equivalent
    spread WITHOUT computing a variance, which makes XmR the control
    chart of choice for short series where a sigma estimate is itself
    noisy (Wheeler's "Understanding Variation" argument) — a different
    robustness trade than win_anomaly_zscore (sigma) or
    win_hampel_outliers (MAD).

    Integer moving ranges (|x_t - x_{t-1}| of counts), exact BIGINT
    sums for both means, limits computed once per type in one identical
    IEEE chain, and the violation test compares 1e6*x (exact integer)
    against the QUANTIZED limits so both engines flag the same days by
    construction.

    Scale: one lag window + one |types|-sized limit dim broadcast back
    — the bollinger cost class with an O(types) second stage."""
    daily = _daily_counts(load(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("t")
    mr = daily.select(
        "event_type",
        "t",
        "x",
        F.abs(F.col("x") - F.lag("x").over(w)).alias("mr"),
    )
    lims = mr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("mr").cast("long").alias("smr"),
        F.count("mr").cast("long").alias("nmr"),
    )
    center = F.col("sx").cast("double") / F.col("n_days")
    spread = F.lit(2.66) * F.col("smr").cast("double") / F.col("nmr")
    j = mr.join(F.broadcast(lims), "event_type").filter(F.col("nmr") >= 1)
    ucl = round_long(F.lit(1000000.0) * (center + spread))
    lcl = round_long(F.lit(1000000.0) * (center - spread))
    return j.select(
        "event_type",
        F.col("t").alias("day_idx"),
        "x",
        ucl.alias("ucl_micro"),
        lcl.alias("lcl_micro"),
        F.when(
            (F.lit(1000000) * F.col("x") > ucl)
            | (F.lit(1000000) * F.col("x") < lcl),
            1,
        )
        .otherwise(0)
        .alias("violation"),
    )


@query(
    "win_vwap",
    oracle="""
    WITH t AS (
        SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM lineitem
    )
    SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey,
           qty, price_cents,
           CAST(floor(1000000.0
                * CAST(SUM(price_cents * qty) OVER w AS DOUBLE)
                / SUM(qty) OVER w
                + 0.5) AS BIGINT) AS vwap_micro_cents
    FROM t
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                          price_cents, qty
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running VOLUME-WEIGHTED average price per supplier — the
    finance-window classic (VWAP) the moving-average family can't
    express: the running mean must weight each price by its traded
    quantity, i.e. cum(price*qty)/cum(qty), not avg(price).  Execution
    desks benchmark fills against it; here it's each supplier's
    volume-weighted realized price over shipment history.

    Money doctrine end-to-end: price to exact cents BIGINT, quantity
    to BIGINT via floor(q+0.5) (NOT a bare cast — DuckDB CAST rounds
    where Spark truncates), so both cumulative sums are exact integers
    under any partial-aggregation order; the single ratio micro-
    quantizes from integer inputs.  The synthetic fixture does NOT
    keep (orderkey, linenumber) unique (measured: one full tie on
    (suppkey, shipdate, orderkey, linenumber) at sf0.1), so the window
    order tiebreaks through partkey, price and qty — rows still tied
    after that are byte-identical, and identical rows produce the same
    output MULTISET under either internal order, which is what the
    driver's order-insensitive hash compares.

    Scale: ONE window shuffle on l_suppkey, sort within — the
    win_running_sum cost shape; both cumulative sums share the same
    frame so Spark computes them in one pass."""
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        round_long(F.col("l_quantity")).alias("qty"),
        round_long(F.col("l_extendedprice") * 100).alias("price_cents"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
            "price_cents", "qty",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vwap = round_long(
        F.lit(1000000.0)
        * F.sum(F.col("price_cents") * F.col("qty")).over(w).cast("double")
        / F.sum("qty").over(w)
    )
    return t.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "qty",
        "price_cents",
        vwap.alias("vwap_micro_cents"),
    )
