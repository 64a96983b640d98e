"""§2.3 Joins (SURVEY.md).

Reference analogue: enriching scan results with source metadata (inner /
left), reconciling old-vs-new source lists (outer / semi / anti), and —
the core of the reference's change detection — comparing each snapshot
to the *previous* one per source (as-of join).

Scale notes baked into each operator:
- equi-joins shuffle on the join key; small dims (region/nation/bands)
  are broadcast so the big side never shuffles;
- the theta/range join deliberately keeps the *small* side on the
  nested-loop broadcast side — a BroadcastNestedLoopJoin with a big
  broadcast is the classic 100 TB cliff;
- the as-of join is a window over (key, time) — one shuffle on the key,
  no self-join blow-up, which is the scalable formulation;
- the interval self-join is banded by coarse time-bucket so the join is
  an equi-join on (user, bucket) instead of a full per-user cross.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from ._helpers import DEC, dsum, round_long, sql_dsum


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join; Catalyst picks broadcast vs
    sort-merge by size (customer < 10MB here → broadcast)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_multikey_chain",
    oracle=f"""
    SELECT r.r_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_multikey_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join chain lineitem→orders→customer→nation→region, revenue
    rolled up by region.  nation/region are broadcast (25/5 rows); the
    two big-table joins shuffle on their keys once each."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customers + their orders, NULLs for customers with none
    (reference: all sources + latest fetch, keeping never-fetched)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_acctbal
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer: every customer kept even with no matching order."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_acctbal"
    )


@query(
    "join_full",
    oracle="""
    SELECT a.c_custkey AS building_key, b.c_custkey AS machinery_key
    FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') a
    FULL JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') b
      ON a.c_custkey = b.c_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join reconciling two source lists (reference: old vs
    new registry) — unmatched rows from BOTH sides survive with NULLs."""
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("building_key")
    )
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("machinery_key")
    )
    return a.join(b, a.building_key == b.machinery_key, "full")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers with ≥1 order (reference: sources that changed
    this run).  left_semi never duplicates and never carries right cols."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no urgent orders (reference: sources
    that did NOT change this run).  The build side is filtered BEFORE
    the anti join — the fixture gives every customer some order, so the
    unfiltered anti join would be vacuously empty and prove nothing."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('s.s_acctbal')} AS total_bal,
           COUNT(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dim (reference: state-code lookup
    tables) — the big side is never shuffled for the join."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("s_acctbal").alias("total_bal"), F.count(F.lit(1)).alias("n_suppliers"))
    )


@query(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross product scaffold (reference: sources × stages grid).  Only
    sane when one side is tiny — this is 5 × 25."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


_BANDS = [("small", 0.0, 50_000.0), ("medium", 50_000.0, 150_000.0), ("large", 150_000.0, 10_000_000.0)]
_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@query(
    "join_theta_range",
    oracle=f"""
    SELECT b.band, COUNT(*) AS n_orders, {sql_dsum('o.o_totalprice')} AS band_total
    FROM orders o
    JOIN (VALUES {_BANDS_SQL}) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi theta join: orders bucketed into price bands via
    BETWEEN-style range predicate → BroadcastNestedLoopJoin with the
    3-row band table broadcast (reference: bucketing scan sizes into
    classes).  At 100 TB: bands stay tiny → NL cost is rows × 3."""
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    cond = (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi)
    return (
        o.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("band_total"))
    )


@query(
    "join_asof",
    oracle="""
    SELECT event_id, user_id, ts AS purchase_ts, prior_view_ts,
           epoch_us(ts) - epoch_us(prior_view_ts) AS gap_us
    FROM (
        SELECT e.*,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prior_view_ts
        FROM events e
    )
    WHERE event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    *prior* view — the reference's compare-to-previous-snapshot shape.

    Formulated as a window (one shuffle on user_id, sort by (ts,
    event_id) — the tiebreaker makes it deterministic), NOT a self-join:
    the window form is O(n log n) per key and survives 100 TB, while a
    conditional self-join + row_number explodes on hot keys."""
    return _asof_purchases(spark, sf_dir, prev="prior_view_ts").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "prior_view_ts",
        (F.unix_micros("ts") - F.unix_micros("prior_view_ts")).alias("gap_us"),
    )


def _asof_purchases(
    spark: SparkSession, sf_dir: str, prev: str | None = None, nxt: str | None = None
) -> DataFrame:
    """The purchase events, each with the same user's previous view ``ts``
    (column ``prev``) and/or next view ``ts`` (column ``nxt``), the row
    itself excluded, over the ``(ts, event_id)`` order: one window per
    direction, sharing the one shuffle on user_id."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    if prev:
        w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
        ev = ev.withColumn(prev, F.last(view_ts, ignorenulls=True).over(w_prev))
    if nxt:
        w_next = w.rowsBetween(1, Window.unboundedFollowing)
        ev = ev.withColumn(nxt, F.first(view_ts, ignorenulls=True).over(w_next))
    return ev.filter(F.col("event_type") == "purchase")


@query(
    "join_interval",
    oracle="""
    SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of same-user events within a 1-hour window (reference:
    correlating captures inside one scan cycle).

    Banded formulation: both sides get a coarse 1-hour bucket and join
    as an EQUI-join on (user_id, bucket) with b drawn from a's bucket
    and the next one, then the exact range predicate filters.  This
    turns an unbounded theta join into a shuffle-hash join whose fan-out
    is bounded by events-per-user-per-2h — the formulation that holds at
    100 TB (salting the bucket handles hot users)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    bucket = F.floor(F.unix_timestamp("ts") / 3600)
    a = ev.withColumn("bucket", bucket)
    # b appears under its own bucket and the previous one, so any pair
    # spanning a bucket boundary still meets in a's bucket.
    b = ev.withColumn("bucket", bucket).withColumn(
        "bucket", F.explode(F.array(F.col("bucket"), F.col("bucket") - 1))
    )
    a = a.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
        "bucket",
    )
    b = b.select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
        "bucket",
    )
    # equi-join on (user_id, bucket); a pair meets in exactly one bucket
    # (b's exploded buckets are distinct), so no dedup pass is needed.
    pairs = a.join(b, on=["user_id", "bucket"], how="inner").filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return pairs.select(
        "user_id",
        "a_id",
        "b_id",
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
    )


_SALT_BUCKETS = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join by explicit salting: the probe side gets
    a per-row salt, the build side is replicated across all salt values,
    and the join keys on (orderkey, salt) — a hot orderkey's rows now
    spread over 8 shuffle partitions instead of hammering one task.
    Result is IDENTICAL to the plain join (oracle: the unsalted SQL).

    This is the manual fallback for when AQE's skew-join split can't
    help (e.g. skew inside an aggregation-feeding join with a downstream
    partitioning requirement); with AQE on, prefer
    spark.sql.adaptive.skewJoin.enabled and keep joins unsalted.  Cost:
    the build side shuffles 8x — only worth it when the probe side's
    skew dominates."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    salted_li = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_BUCKETS))
    )
    salts = spark.range(_SALT_BUCKETS).select(F.col("id").alias("salt"))
    replicated_o = o.crossJoin(salts)
    joined = salted_li.join(
        replicated_o,
        on=(F.col("l_orderkey") == F.col("o_orderkey"))
        & (salted_li["salt"] == replicated_o["salt"]),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(revenue.cast(DEC)).cast("double").alias("revenue"),
    )


_BUCKETS = 8


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketing: both tables are written
    bucketed (and sorted) by the join key into the session catalog, so
    the join needs NO shuffle exchange and no sort — each task zips
    bucket i of lineitem with bucket i of orders.  Result is identical
    to the plain join (oracle: unsalted SQL); the no-Exchange plan is
    asserted in tests/test_plans.py.

    This is the recurring-join amortization at 100 TB: pay one bucketed
    write, then every subsequent join/agg on the bucket key is
    shuffle-free.  Bucket count scales with data (here 8; thousands on
    a cluster) and must match on both sides."""
    import os
    import shutil
    from urllib.parse import urlparse

    # a fresh session has an empty in-memory catalog but the warehouse
    # dirs may survive from an earlier run — clear both or saveAsTable
    # fails with LOCATION_ALREADY_EXISTS
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("cdp_bucketed_lineitem", "cdp_bucketed_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    (
        li.write.mode("overwrite")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("cdp_bucketed_lineitem")
    )
    (
        o.write.mode("overwrite")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("cdp_bucketed_orders")
    )
    bli = spark.table("cdp_bucketed_lineitem")
    bo = spark.table("cdp_bucketed_orders")
    # merge hint: at test scale Spark would broadcast tiny orders and
    # never show the bucketing; at 100 TB both sides are fact-sized and
    # SMJ-over-buckets IS the plan this operator exists to produce
    joined = bli.hint("merge").join(bo, bli["l_orderkey"] == bo["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("total_price"),
    )


@query(
    "join_bloom_runtime",
    oracle=f"""
    SELECT l.l_returnflag, COUNT(*) AS n_items,
           {sql_dsum("l.l_extendedprice")} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
    conf={
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    },
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective filter on orders
    makes Catalyst inject ``bloom_filter_agg`` on the filtered side and
    a ``might_contain`` predicate on the lineitem scan — fact rows that
    cannot join are dropped BEFORE the shuffle, the semi-join-reduction
    pattern that matters when both join sides are too big to broadcast.

    Result is the plain join (bloom false positives only pass extra
    rows to the exact join, never change output) — so this IS
    oracle-checkable.  Plan audited in tests/test_plans.py.  Local-scale
    knobs: the application-side size threshold (default 10GB — met
    trivially at 100 TB, lowered here so the 60 MB fixture qualifies)
    and broadcast disabled (at 100 TB orders wouldn't fit anyway) —
    both are this query's ``conf``, reset by the next registered query."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


# join_lateral's query: Spark and DuckDB run the same text.
_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.max_price
    FROM customer c, LATERAL (
        SELECT COUNT(*) AS n_orders, MAX(o.o_totalprice) AS max_price
        FROM orders o WHERE o.o_custkey = c.c_custkey
    ) t
    WHERE c.c_mktsegment = 'MACHINERY' AND t.n_orders >= 3
    """


@query(
    "join_lateral",
    oracle=_LATERAL_SQL,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the SQL surface for per-row
    dependent subqueries (reference analogue: "for each source, summarize
    its fetch history").  Catalyst DECORRELATES it into the same
    aggregate-then-join plan a hand-written groupBy+join produces — the
    rewrite is the point: the user writes the dependent loop, the engine
    runs one shuffle, nothing per-row.  Same SQL text runs on DuckDB."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


_ASOF_TOL_US = 1_800_000_000  # 30-minute nearest-match tolerance


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_view,
               FIRST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_view
        FROM events
    )
    SELECT event_id, user_id,
           CASE
             WHEN prev_view IS NOT NULL AND epoch_us(ts) - epoch_us(prev_view)
                      <= {_ASOF_TOL_US}
                  AND (next_view IS NULL
                       OR epoch_us(ts) - epoch_us(prev_view)
                          <= epoch_us(next_view) - epoch_us(ts))
             THEN epoch_us(prev_view)
             WHEN next_view IS NOT NULL AND epoch_us(next_view) - epoch_us(ts)
                      <= {_ASOF_TOL_US}
             THEN epoch_us(next_view)
             ELSE NULL
           END AS matched_view_us
    FROM e WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with tolerance (pandas merge_asof
    direction='nearest' semantics): each purchase matches the closest
    view — before OR after — within 30 minutes, ties resolved backward.
    The sensor-alignment variant of join_asof: backward-only is the
    change-detection shape, nearest-with-tolerance is the
    clock-skew-tolerant one.

    Same scalable formulation as join_asof: both candidate neighbors
    come from ONE window pass per direction over (user_id, ts) — one
    shuffle total, no self-join, tolerance applied as a map-side CASE.
    At 100 TB identical partitioning discipline applies (shuffle on the
    entity key, sort within)."""
    back_gap = F.unix_micros("ts") - F.unix_micros(F.col("prev_view"))
    fwd_gap = F.unix_micros(F.col("next_view")) - F.unix_micros("ts")
    matched = (
        F.when(
            F.col("prev_view").isNotNull()
            & (back_gap <= _ASOF_TOL_US)
            & (F.col("next_view").isNull() | (back_gap <= fwd_gap)),
            F.unix_micros(F.col("prev_view")),
        )
        .when(
            F.col("next_view").isNotNull() & (fwd_gap <= _ASOF_TOL_US),
            F.unix_micros(F.col("next_view")),
        )
        .otherwise(F.lit(None).cast("long"))
    )
    return _asof_purchases(spark, sf_dir, prev="prev_view", nxt="next_view").select(
        "event_id", "user_id", matched.alias("matched_view_us")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
        FROM events WHERE event_id % 2 = 0
    ),
    b AS (
        SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
               COUNT(*) AS n_odd
        FROM events WHERE event_id % 2 = 1
        GROUP BY 1
    )
    SELECT a.k, COUNT(*) AS n_even, MAX(b.n_odd) AS n_odd
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): the failed
    fetches (event_type nulled for errors here) of two runs must MATCH
    each other when reconciling, where ordinary ``=`` would silently
    drop every NULL-keyed row from both sides — the reconciliation bug
    this operator exists to prevent.

    ``eqNullSafe`` stays a hash-join key (Catalyst plans it as an
    equi-join on a null-wrapped key, NOT a nested loop), so the 100 TB
    cost is identical to a plain equi-join; the one caveat is that ALL
    null keys land in one partition — if nulls are a large fraction,
    pre-split them (they only ever match other nulls) and union."""
    ev = load(spark, sf_dir, "events")
    k = F.when(F.col("event_type") == "error", None).otherwise(F.col("event_type"))
    a = ev.filter(F.col("event_id") % 2 == 0).select("event_id", k.alias("k"))
    b = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(k.alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("n_odd"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["bk"]))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_even"), F.max("n_odd").alias("n_odd"))
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT event_id, user_id, ts AS purchase_ts, next_view_ts,
           epoch_us(next_view_ts) - epoch_us(ts) AS gap_us
    FROM (
        SELECT e.*,
               FIRST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_view_ts
        FROM events e
    )
    WHERE event_type = 'purchase'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, FORWARD direction: each purchase matched to the same
    user's next view strictly after it (merge_asof direction='forward')
    — completing the direction family next to backward (``join_asof``)
    and nearest (``join_asof_nearest``).  Reference analogue: the first
    scan AFTER a change landed, i.e. time-to-detection.

    Same window formulation and the same scale argument as the backward
    twin: one shuffle on user_id, a FOLLOWING frame with
    first(ignorenulls) instead of a PRECEDING frame with last — still
    O(n log n) per key, no self-join fan-out on hot users."""
    return _asof_purchases(spark, sf_dir, nxt="next_view_ts").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "next_view_ts",
        (F.unix_micros("next_view_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


@query(
    "join_shuffle_hash",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           {sql_dsum("l.l_extendedprice")} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin — build a hash table per partition from the
    smaller side instead of sorting BOTH sides (SortMergeJoin, Spark's
    default when broadcast is off).  At 100 TB this is the middle rung
    of the join ladder: orders is far too big to broadcast, but per
    shuffle partition it fits executor memory, so SHJ skips the two
    O(n log n) sorts SMJ would pay on every fact row.  The trade is
    spill risk — a skewed or under-partitioned build side OOMs where
    SMJ degrades gracefully — which is why it's an explicit hint, not
    the default, and why AQE (`spark.sql.adaptive.enabled`, on in
    ``io.tune``) can make the same choice from runtime sizes.

    Strategy hints never change results — the output is the plain
    join-aggregate the oracle recomputes.  Broadcast is disabled for
    the query (at this fixture scale orders would be broadcast and no
    shuffle strategy would be visible); the plan assertion in
    tests/test_plans.py pins ShuffledHashJoin.  The threshold is this
    query's ``conf``, reset by the next registered query."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = li.join(
        o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


@query(
    "join_asof_tolerance",
    oracle=f"""
    SELECT event_id, user_id, ts AS purchase_ts,
           CASE WHEN prior_view_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prior_view_ts) <= {_ASOF_TOL_US}
                THEN prior_view_ts END AS matched_view_ts,
           CASE WHEN prior_view_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prior_view_ts) <= {_ASOF_TOL_US}
                THEN epoch_us(ts) - epoch_us(prior_view_ts) END AS gap_us,
           CAST(prior_view_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(prior_view_ts) > {_ASOF_TOL_US}
                AS INT) AS stale_dropped
    FROM (
        SELECT e.*,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prior_view_ts
        FROM events e
    )
    WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (30 min) — the
    point-in-time-correct feature-store lookup: a purchase only matches
    the user's most recent prior view if that view is fresh enough;
    older matches are NULLED, not silently used (pandas
    ``merge_asof(tolerance=...)`` semantics).  Every purchase row
    survives — the `stale_dropped` flag (cast to int, the house
    nullable-bool rule) records whether a match EXISTED but was too
    old, which is the data-quality signal feature pipelines alert on.

    Same scale shape as join_asof: one window per user (never a
    conditional self-join), with the tolerance applied as a post-window
    projection — zero extra shuffles over the unbounded variant."""
    gap = F.unix_micros("ts") - F.unix_micros("prior_view_ts")
    fresh = F.col("prior_view_ts").isNotNull() & (gap <= _ASOF_TOL_US)
    return _asof_purchases(spark, sf_dir, prev="prior_view_ts").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(fresh, F.col("prior_view_ts")).alias("matched_view_ts"),
        F.when(fresh, gap).alias("gap_us"),
        (F.col("prior_view_ts").isNotNull() & (gap > _ASOF_TOL_US))
        .cast("int")
        .alias("stale_dropped"),
    )


_GRID_R = 0.02  # radius for the spatial self-join (first 2 embedding dims)


# The oracle side of _grid_pairs: the points p(vec_id, x, y), and the
# squared distance of a pair of them aliased a and b.
_POINTS_SQL_CTE = """p AS (
        SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
    )"""
_D2_SQL = "(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"


def _grid_pairs(spark: SparkSession, sf_dir: str, pair_pred: Column) -> DataFrame:
    """``(a_id, b_id, d2)`` for the embedding points within ``_GRID_R``
    of each other that satisfy ``pair_pred``: r-sized cells, the 5x5
    probe explode, the cell equi-join, then the exact distance filter."""
    emb = load(spark, sf_dir, "embeddings")
    p = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    r = F.lit(_GRID_R)
    cell = p.select(
        "vec_id",
        "x",
        "y",
        F.floor(F.col("x") / r).cast("long").alias("cx"),
        F.floor(F.col("y") / r).cast("long").alias("cy"),
    )
    offs = F.expr("array(-2L, -1L, 0L, 1L, 2L)")
    probe = (
        cell.select(
            F.col("vec_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            "cx",
            "cy",
        )
        .withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "a_id",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
        )
    )
    build = cell.select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probe.join(build, ["jx", "jy"])
        .filter(pair_pred & (d2 < r * r))
        .select("a_id", "b_id", d2.alias("d2"))
    )


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH {_POINTS_SQL_CTE}
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(floor(1000000000.0 *
                ({_D2_SQL})
                + 0.5) AS BIGINT) AS dist2_nano
    FROM p a JOIN p b
      ON a.vec_id < b.vec_id
     AND {_D2_SQL}
         < {_GRID_R} * {_GRID_R}
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial RADIUS self-join via grid bucketing — the
    all-points-within-r join (collision detection, geo proximity,
    embedding-space neighborhoods) that a naive formulation makes
    quadratic: each point lands in an r-sized grid cell, probe points
    explode to their 5x5 neighbor cells, pairs materialize through the
    CELL equi-join, and the exact distance filter runs only on
    co-located candidates.  Each true pair is found exactly once (via
    the build point's own cell).  5x5, not 3x3: in EXACT arithmetic a
    pair within r differs by at most one cell per axis, but
    floor(x/r)'s one IEEE rounding can move a knife-edge coordinate
    across a cell boundary, so computed indices of a true pair can
    differ by 2 — probing +-2 makes the float boundary provably unable
    to cost a candidate, and the exact distance filter stays the only
    semantic gate (r6 ADVICE).

    The DuckDB oracle is the INDEPENDENT quadratic theta-join (the
    skyline doctrine: verify the rewrite against the definition).
    Coordinates are the first two embedding dims widened float->double
    (exact), the cell id is floor(x/r) (identical IEEE chain), and the
    emitted distance-squared is nano-quantized.  At 100 TB the cell
    join shuffles on uniform grid keys; density skew (hot cells) takes
    the same salting as any hot equi-join key, and the 25x explode is
    map-side."""
    d2 = _grid_pairs(spark, sf_dir, F.col("a_id") < F.col("b_id"))
    return d2.select(
        "a_id",
        "b_id",
        round_long(F.lit(1000000000.0) * F.col("d2")).alias("dist2_nano"),
    )


@query(
    "join_spatial_nearest",
    oracle=f"""
    WITH {_POINTS_SQL_CTE},
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {_D2_SQL}
                   AS d2
        FROM p a JOIN p b
          ON a.vec_id <> b.vec_id
         AND {_D2_SQL}
             < {_GRID_R} * {_GRID_R}
    ),
    ranked AS (
        SELECT a_id, b_id, d2,
               ROW_NUMBER() OVER (PARTITION BY a_id
                                  ORDER BY d2, b_id) AS rn
        FROM cand
    )
    SELECT a_id, b_id AS nn_id,
           CAST(floor(1000000000.0 * d2 + 0.5) AS BIGINT) AS dist2_nano
    FROM ranked WHERE rn = 1
    """,
)
def join_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor-within-radius join: for every point, its single
    closest OTHER point at distance < r (ties break on neighbor id) —
    the 1-NN companion to join_spatial_grid's all-pairs radius join
    (record linkage, sensor pairing, embedding-space nearest-example
    lookups).  Points with no neighbor inside r are absent, same as
    the radius join's semantics.

    Same grid discipline: r-sized cells, 5x5 probe explode (the +-2
    knife-edge margin), cell equi-join, exact distance filter, then a
    per-probe-point ROW_NUMBER argmin ordered (d2, b_id) — d2 is the
    identical IEEE expression on both engines, so the argmin choice
    can't diverge.  The DuckDB oracle is the independent quadratic
    theta-join (the skyline doctrine).

    Scale: identical to join_spatial_grid (uniform cell keys, map-side
    explode, salting for hot cells); the argmin window partitions by
    probe point over its bounded candidate set — WindowGroupLimit
    pushes the rn = 1 cut into the shuffle."""
    cand = _grid_pairs(spark, sf_dir, F.col("a_id") != F.col("b_id"))
    w = Window.partitionBy("a_id").orderBy("d2", "b_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            F.col("b_id").alias("nn_id"),
            round_long(F.lit(1000000000.0) * F.col("d2")).alias("dist2_nano"),
        )
    )


@query(
    "join_scd2_point_in_time",
    oracle="""
    WITH flagged AS (
        SELECT event_id, user_id, ts, event_type,
               sha256(props) AS h,
               CASE WHEN sha256(props) IS DISTINCT FROM
                         LAG(sha256(props)) OVER w THEN 1 ELSE 0 END
                   AS changed
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versioned AS (
        SELECT *,
               LAST_VALUE(CASE WHEN changed = 1 THEN h END IGNORE NULLS)
                   OVER w2 AS at_version_hash,
               LAST_VALUE(CASE WHEN changed = 1 THEN ts END IGNORE NULLS)
                   OVER w2 AS version_from
        FROM flagged
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, at_version_hash,
           CAST(epoch_us(version_from) AS BIGINT) AS version_from_us
    FROM versioned WHERE event_type = 'purchase'
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup: each purchase resolved to the content
    VERSION that was live at its timestamp — the temporal-join verb
    behind "which config/profile/page version did this conversion see?"
    (the reference's which-snapshot-was-current question).  Version
    boundaries are the rows whose props hash differs from the previous
    row (the scd2_intervals change detector); the lookup is the
    AT-OR-BEFORE as-of, inclusive of a purchase that is itself the
    change event.

    Formulated as TWO windows over ONE (user_id, (ts, event_id))
    partitioning — never a range join of events against the intervals
    table: the window form costs one shuffle and is immune to hot-key
    interval explosion (the join_asof doctrine applied to versioned
    dimensions).  IS DISTINCT FROM makes row 1 a version start on both
    engines; last(ignorenulls) carries the version forward."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = F.sha2("props", 256)
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        h.alias("h"),
        F.when(~h.eqNullSafe(F.lag(h).over(w)), 1).otherwise(0).alias("changed"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    versioned = flagged.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(
            F.when(F.col("changed") == 1, F.col("h")), ignorenulls=True
        )
        .over(w2)
        .alias("at_version_hash"),
        F.last(
            F.when(F.col("changed") == 1, F.col("ts")), ignorenulls=True
        )
        .over(w2)
        .alias("version_from"),
    )
    return versioned.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "at_version_hash",
        F.unix_micros("version_from").cast("long").alias("version_from_us"),
    )
