"""The reference's end-to-end scan run, composed as ONE declarative
dataflow (SURVEY §3.1 step list): load source snapshots -> clean the
volatile content -> fingerprint -> compare each snapshot to the
previous one per source -> emit the per-run change report.

The individual stages exist as standalone operators
(``str_clean_pipeline``, ``str_hash_digest``, ``win_lag_change_detect``,
``agg_pivot``); this module proves they compose into the reference's
actual product — the daily change list — in a single Catalyst plan with
exactly one shuffle for the window and one for the report aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from .streaming_batch import (
    _INGEST_FLAGS_SQL_CTES,
    _INGEST_SQL_CTES,
    _LAST_TOUCH_SQL,
    _corpus_flag,
    _ingest_corpus,
    _ingest_flags,
)


@query(
    "pipeline_change_report",
    oracle="""
    WITH cleaned AS (
        SELECT user_id AS source_key, ts, event_id,
               sha256(trim(regexp_replace(lower(props), '\\s+', ' ', 'g')))
                   AS content_hash
        FROM events
    ),
    versioned AS (
        SELECT source_key, ts, content_hash,
               LAG(content_hash) OVER (PARTITION BY source_key
                                       ORDER BY ts, event_id) AS prev_hash
        FROM cleaned
    ),
    statused AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               source_key,
               CASE WHEN prev_hash IS NULL THEN 'new'
                    WHEN prev_hash <> content_hash THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM versioned
    )
    SELECT day,
           COUNT(DISTINCT source_key) AS n_sources,
           COUNT(*) FILTER (WHERE status = 'new') AS n_new,
           COUNT(*) FILTER (WHERE status = 'changed') AS n_changed,
           COUNT(*) FILTER (WHERE status = 'unchanged') AS n_unchanged
    FROM statused
    GROUP BY day
    """,
)
def pipeline_change_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-run pipeline: events stand in for (source, scan_ts, raw
    content); clean = lowercase + whitespace collapse + trim (the
    volatile-content strip), fingerprint = sha256, change detection =
    lag over the per-source scan sequence, report = per-day counts of
    new / changed / unchanged sources — the change list the reference
    published after every run.

    Scale: one shuffle on source_key for the window (the same partition
    a real deployment keys its snapshot store on), one for the daily
    rollup; everything between is narrow."""
    ev = load(spark, sf_dir, "events")
    cleaned = F.sha2(
        F.trim(F.regexp_replace(F.lower("props"), r"\s+", " ")), 256
    )
    w = Window.partitionBy("source_key").orderBy("ts", "event_id")
    versioned = ev.select(
        F.col("user_id").alias("source_key"),
        "ts",
        "event_id",
        cleaned.alias("content_hash"),
    ).withColumn("prev_hash", F.lag("content_hash").over(w))
    statused = versioned.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        "source_key",
        F.when(F.col("prev_hash").isNull(), "new")
        .when(F.col("prev_hash") != F.col("content_hash"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return statused.groupBy("day").agg(
        F.countDistinct("source_key").alias("n_sources"),
        F.count(F.when(F.col("status") == "new", 1)).alias("n_new"),
        F.count(F.when(F.col("status") == "changed", 1)).alias("n_changed"),
        F.count(F.when(F.col("status") == "unchanged", 1)).alias("n_unchanged"),
    )


@query(
    "analytics_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped composite: the unshipped-orders-by-value report —
    3-way join (customer selective-filtered, orders date-banded,
    lineitem date-banded), revenue aggregate, global top-10.

    The plan Catalyst should produce and tests/test_plans.py audits:
    both date filters PUSHED to the parquet scans, customer broadcast
    (small after the segment filter), partial aggregation before the
    group shuffle, TakeOrderedAndProject for the limit (never a global
    sort).  Top-10 carries the l_orderkey tiebreaker in BOTH engines —
    a LIMIT without a unique sort key is nondeterministic under ties
    (SURVEY §2.6 discipline)."""
    pivot = "1998-01-01"
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < pivot)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > pivot)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "analytics_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def analytics_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped composite: revenue by nation where the supplier
    and customer share a nation, one region, one order-year — a 6-table
    join with a non-equi-ish second key (s_nationkey = c_nationkey)
    folded into the supplier join.

    Join order is deliberate: facts joined first on their keys, then the
    three tiny dims (supplier/nation/region) as broadcasts — region's
    filter prunes nation, which prunes the supplier match, so the big
    intermediate never widens.  At 100 TB the c_nationkey = s_nationkey
    condition is the classic trap: as a standalone join it's a 25-key
    near-cross-product (massive skew); folded into the equi-join on
    s_suppkey it costs nothing extra."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"))
    )


@query(
    "analytics_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r1 ON r1.r_regionkey = n1.n_regionkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def analytics_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped composite: cross-border trade volume — revenue
    between (supplier nation in ASIA) x (customer nation in EUROPE) per
    ship-year.  An 8-table join where BOTH nation dims must be aliased
    (same physical table joined twice with different roles), the classic
    self-join-of-a-dim shape.

    Plan discipline: the two region filters prune their nation sides
    BEFORE those broadcasts reach the fact — so the big
    lineitem⋈orders⋈customer intermediate is filtered by two broadcast
    hash joins, never shuffled on nation.  At 100 TB the facts shuffle
    once each on their join keys; every dim is a broadcast.  The date
    band is pushed to the lineitem scan (min/max row-group pruning on
    l_shipdate)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").alias("n1")
    n2 = load(spark, sf_dir, "nation").alias("n2")
    r1 = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").alias("r1")
    r2 = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").alias("r2")
    supp_nations = (
        n1.join(F.broadcast(r1), F.col("n1.n_regionkey") == F.col("r1.r_regionkey"))
        .select(F.col("n1.n_nationkey").alias("sn_key"), F.col("n1.n_name").alias("supp_nation"))
    )
    cust_nations = (
        n2.join(F.broadcast(r2), F.col("n2.n_regionkey") == F.col("r2.r_regionkey"))
        .select(F.col("n2.n_nationkey").alias("cn_key"), F.col("n2.n_name").alias("cust_nation"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), s["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(supp_nations), F.col("sn_key") == s["s_nationkey"])
        .join(F.broadcast(cust_nations), F.col("cn_key") == c["c_nationkey"])
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "analytics_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def analytics_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped composite: which customers returned the most
    value this half-year — the lost-revenue report.  Join facts first
    (orders date-banded, lineitem flag-filtered), enrich with the nation
    dim by broadcast, aggregate per customer, deterministic top-20
    (c_custkey tiebreaker, SURVEY §2.6 discipline).

    Scale notes: the returnflag filter is a dictionary-encoded parquet
    predicate (pushed); the group key is c_custkey so the agg shuffle is
    the customer cardinality, not lineitem's; the final top-20 is
    TakeOrderedAndProject — per-partition heaps then a driver merge,
    never a global sort of the aggregate."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@query(
    "analytics_priority_linestatus",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def analytics_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped composite (adapted: the fixture lineitem has no
    shipmode/commitdate, so linestatus plays the grouping role): did
    high-priority orders ship promptly — conditional aggregation
    (CASE-inside-SUM) over a fact-fact join, one year of shipments.

    The conditional-count pair is ONE pass over the joined rows — the
    anti-pattern it replaces is two filtered joins unioned.  Both counts
    partial-aggregate map-side; the join itself is the only shuffle
    (orders projected to 2 columns before it — ReadSchema shows just
    o_orderkey, o_orderpriority reach the scan)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_linestatus")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "analytics_large_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 140
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
)
def analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped composite: large-volume orders — customers whose
    single orders total > 140 units.  The shape is agg-then-semi-join:
    a grouped HAVING subquery feeds an IN predicate over a 3-way join,
    then re-aggregation and a deterministic top-25.

    Spark formulation: compute qualifying orderkeys ONCE (groupBy +
    filter), then LEFT SEMI join lineitem to it — Catalyst runs the
    subquery as its own stage and semi-joins without duplicating rows.
    At 100 TB the qualifying set is tiny (heavy-hitter orders), so the
    semi join is broadcast — a runtime-filter shape: the expensive fact
    re-scan is pruned by an aggregate of itself."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("q"))
        .filter(F.col("q") > 140)
        .select("l_orderkey")
    )
    li_big = li.join(F.broadcast(big), on="l_orderkey", how="left_semi")
    return (
        li_big.join(o, li_big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@query(
    "analytics_promo_revenue",
    oracle="""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(28,6))
                    ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(28,6))) AS DOUBLE)
               AS DOUBLE) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def analytics_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped composite: what share of one month's revenue
    came from promotional parts — a global (ungrouped) conditional
    ratio over a fact⋈dim join.

    The month filter makes lineitem small; part is the BIG side here at
    tiny SF but at real scale part is the dim → joined broadcast-wise on
    p_partkey after pruning to 2 columns.  Both sums go through exact
    decimal (order-independent) and the ratio divides two exact values
    as the LAST step, so the result is bit-identical on any partitioning
    — the only safe way to oracle-check a float division of aggregates."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    zero = F.lit(0).cast("decimal(28,6)")
    return (
        li.join(p, p["p_partkey"] == li["l_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            ).cast("double").alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "analytics_brand_revenue_or",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 50)
    GROUP BY l.l_returnflag
    """,
)
def analytics_brand_revenue_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped composite: revenue from three brand/size/
    quantity bands OR-ed together — the disjunctive-predicate join.
    Catalyst's constraint propagation derives the table-local residue of
    the OR: part rows must satisfy (brand1 AND size...) OR (brand2 ...)
    OR (brand3 ...), lineitem rows must satisfy one of the quantity
    bands — BOTH derived filters run BEFORE the join, so only candidate
    rows shuffle; the full disjunction re-checks after the join.

    At 100 TB this rewrite is the difference between joining 3 brands'
    worth of parts vs the whole dim — free, because it's expressed
    declaratively and the optimizer does the algebra."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .filter(cond)
        .groupBy("l_returnflag")
        .agg(
            F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---- round-2 additions: the remaining expressible TPC-H query shapes ----

from ._helpers import DEC, KNUTH_MOD, KNUTH_MULT, _daily_counts, _day_idx, _ngram_hits, _ngram_hits_sql, davg, dsum, round_long, sql_davg, sql_dsum  # noqa: E402


@query(
    "analytics_late_orders",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def analytics_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: one quarter's orders counted by priority when at
    least one line item shipped more than 60 days after the order date
    (the fixtures carry no commit/receipt dates, so lateness is
    ship-vs-order — same EXISTS-with-correlated-non-equi shape).

    The EXISTS is a LEFT SEMI join: equi on the order key plus the
    non-equi lateness predicate evaluated inside the join — no
    duplication, right columns never materialize.  Date filter is pushed
    to the orders scan; at 100 TB the quarter prunes both the scan and
    the semi-join's build side."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "analytics_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def analytics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: the what-if revenue filter-aggregate — no join,
    no group key, three pushed predicates and one exact-decimal sum.
    The whole query is a single map-side scan + one-row reduce; at
    100 TB it is bounded by scan bandwidth alone, and the year filter
    prunes partitions when lineitem is date-partitioned."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "analytics_order_count_dist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def analytics_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: the customer order-count distribution —
    left join with the filter INSIDE the join condition (so customers
    whose only orders are urgent still appear with count 0; a WHERE
    would wrongly drop them), then a double aggregation.

    COUNT(o_orderkey) counts non-null matches only — the left-join
    null row contributes 0, which is the semantics the distribution
    needs.  Two shuffles (custkey, then c_count); the second is ~50
    distinct values, map-side combined to almost nothing."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "analytics_small_qty_revenue",
    oracle=f"""
    WITH sel AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
    ),
    thresh AS (
        SELECT l_partkey, 0.2 * ({sql_davg('l_quantity')}) AS qty_cut
        FROM sel GROUP BY l_partkey
    )
    SELECT CAST({sql_dsum('s.l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_items
    FROM sel s JOIN thresh t ON s.l_partkey = t.l_partkey
    WHERE s.l_quantity < t.qty_cut
    """,
)
def analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue locked up in small-quantity orders of
    one brand/type — the correlated scalar subquery (per-part average
    quantity) decorrelated into a WINDOW over the part key: one shuffle
    computes the per-part average AND filters against it, where the
    naive agg+self-join shape shuffles the selection twice.

    The per-part average goes through exact decimal then ×0.2 in double
    — identical IEEE sequence both engines.  At 100 TB: part is the dim
    (broadcast after the brand/type filter), lineitem never moves except
    the one window shuffle on l_partkey."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    sel = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    w = Window.partitionBy("l_partkey")
    qty_cut = F.lit(0.2) * (
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        sel.withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (dsum("l_extendedprice") / 7.0).cast("double").alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "analytics_idle_balances",
    oracle=f"""
    WITH thr AS (
        SELECT {sql_davg('c_acctbal')} AS cut
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment, COUNT(*) AS n_cust, {sql_dsum('c.c_acctbal')} AS total_bal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.cut
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def analytics_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: well-funded customers with no URGENT order —
    a global scalar aggregate (average positive balance) feeding a
    filter, then an ANTI join against filtered orders, grouped by
    segment.  (The fixture gives every customer at least one order, so
    the unfiltered Q22 anti-join would be vacuously empty; the priority
    filter keeps the shape AND a non-trivial result.)

    The scalar threshold is a 1-row aggregate CROSS-joined (broadcast)
    onto customer — no collect(), no driver round-trip, so the plan
    stays one job.  The anti join shuffles on custkey; at 100 TB orders'
    o_custkey column alone travels (projection pushdown), and a bloom
    pre-filter (join_bloom_runtime pattern) would cut that too."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("cut")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("cut"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal").alias("total_bal"))
    )


@query(
    "analytics_top_supplier_revenue",
    oracle=f"""
    WITH revenue AS (
        SELECT l.l_suppkey,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_rev
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def analytics_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the quarter's top revenue supplier — a derived
    aggregate ("view") consumed twice: once for the per-supplier revenue
    rows, once reduced to the scalar MAX that selects the winner.

    The revenue aggregate is computed once and reused (persist-free: the
    1-row MAX rides a broadcast cross join, the same no-collect pattern
    as analytics_idle_balances).  Revenue goes through exact decimal so
    the equality join on a double is bit-stable — float equality against
    an aggregate is only safe because both sides are the same exact
    value.  At 100 TB: one shuffle on l_suppkey for the aggregate; the
    winner filter is map-side."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "pipeline_observe_metrics",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_value,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    """,
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-level observability via ``DataFrame.observe`` (the Observation
    API): named metrics ride the SAME job that does the real work — the
    reference logged per-run scan counters exactly this way, as a side
    product of the run, not a second pass.

    The observed metrics (row count, exact-decimal value total, urgent
    count) are collected from the Observation after one pass over the
    filtered orders and re-emitted as the result row, hash-checked
    against the oracle recomputing them in SQL.  At 100 TB this is the
    zero-extra-cost pattern for data-quality counters on every ingest
    job (vs. a separate audit query that doubles the scan)."""
    from pyspark.sql import Observation

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1996-01-01")
    obs = Observation("run_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_value"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the real job
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_value"], m["n_urgent"])],
        "n_rows bigint, total_value double, n_urgent bigint",
    )


@query(
    "quality_expectations",
    oracle="""
    WITH o AS (
        SELECT CASE WHEN o_orderkey % 500 = 3 THEN o_orderkey - 1
                    ELSE o_orderkey END AS k,
               CASE WHEN o_orderkey % 400 = 0 THEN NULL
                    ELSE o_custkey END AS ck,
               CASE WHEN o_orderkey % 397 = 0 THEN -o_totalprice
                    ELSE o_totalprice END AS tp,
               o_orderstatus AS st
        FROM orders
    ),
    li AS (
        SELECT CASE WHEN l_orderkey % 1009 = 0 THEN l_orderkey + 1000000000
                    ELSE l_orderkey END AS fk,
               l_discount
        FROM lineitem
    ),
    checks AS (
        SELECT 'orders.o_orderkey unique' AS expectation,
               COUNT(*) - COUNT(DISTINCT k) AS violations FROM o
        UNION ALL
        SELECT 'orders.o_custkey not null',
               COUNT(CASE WHEN ck IS NULL THEN 1 END) FROM o
        UNION ALL
        SELECT 'orders.o_totalprice positive',
               COUNT(CASE WHEN tp <= 0 THEN 1 END) FROM o
        UNION ALL
        SELECT 'orders.o_orderstatus domain',
               COUNT(CASE WHEN st NOT IN ('F', 'O', 'P') THEN 1 END) FROM o
        UNION ALL
        SELECT 'lineitem.l_orderkey fk orders', COUNT(*) FROM li
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = li.fk)
        UNION ALL
        SELECT 'lineitem.l_discount in [0,0.1]',
               COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END)
        FROM li
    )
    SELECT expectation, violations,
           CAST(violations = 0 AS INTEGER) AS passed
    FROM checks
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/dbt-test shape):
    uniqueness, non-null, value-domain, range, and cross-table
    referential integrity, emitted as one (expectation, violations,
    passed) row each — the audit table every ingest job should publish
    next to its data.

    The fixture is clean (every check would pass — vacuous evidence),
    so both engines audit the SAME deterministically corrupted twin:
    key collisions on o_orderkey%500=3, NULL custkeys on %400, negative
    prices on %397, dangling lineitem FKs on %1009 — those four checks
    fail with exact known counts while the status-domain and
    discount-range checks stay genuinely green, so both outcome paths
    are witnessed.

    Scale shape: ALL per-table checks ride ONE aggregate over that
    table (count/conditional-count/count-distinct partials fused in a
    single pass — no per-check re-scan), assembled with inline() from
    the 1-row result; only the FK check needs a second relation (anti
    join; at 100 TB put a bloom filter of dim keys in front so the
    probe side short-circuits map-side)."""
    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 500 == 3, F.col("o_orderkey") - 1)
        .otherwise(F.col("o_orderkey"))
        .alias("k"),
        F.when(F.col("o_orderkey") % 400 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("ck"),
        F.when(F.col("o_orderkey") % 397 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("tp"),
        F.col("o_orderstatus").alias("st"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.when(
            F.col("l_orderkey") % 1009 == 0, F.col("l_orderkey") + 1000000000
        )
        .otherwise(F.col("l_orderkey"))
        .alias("fk"),
        "l_discount",
    )
    orders_checks = (
        o.agg(
            (F.count(F.lit(1)) - F.count_distinct("k")).alias("v_unique"),
            F.count(F.when(F.col("ck").isNull(), 1)).alias("v_null"),
            F.count(F.when(F.col("tp") <= 0, 1)).alias("v_price"),
            F.count(F.when(~F.col("st").isin("F", "O", "P"), 1)).alias(
                "v_domain"
            ),
        )
        .select(
            F.inline(
                F.array(
                    F.struct(
                        F.lit("orders.o_orderkey unique").alias("expectation"),
                        F.col("v_unique").alias("violations"),
                    ),
                    F.struct(
                        F.lit("orders.o_custkey not null").alias(
                            "expectation"
                        ),
                        F.col("v_null").alias("violations"),
                    ),
                    F.struct(
                        F.lit("orders.o_totalprice positive").alias(
                            "expectation"
                        ),
                        F.col("v_price").alias("violations"),
                    ),
                    F.struct(
                        F.lit("orders.o_orderstatus domain").alias(
                            "expectation"
                        ),
                        F.col("v_domain").alias("violations"),
                    ),
                )
            )
        )
    )
    fk_check = (
        li.join(
            load(spark, sf_dir, "orders").select("o_orderkey"),
            li["fk"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(
            F.lit("lineitem.l_orderkey fk orders").alias("expectation"),
            "violations",
        )
    )
    discount_check = li.agg(
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
        ).alias("violations")
    ).select(
        F.lit("lineitem.l_discount in [0,0.1]").alias("expectation"),
        "violations",
    )
    return (
        orders_checks.unionByName(fk_check)
        .unionByName(discount_check)
        .select(
            "expectation",
            "violations",
            (F.col("violations") == 0).cast("int").alias("passed"),
        )
    )


@query(
    "pipeline_snapshot_diff",
    oracle=f"""
    WITH b AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.05
                    ELSE o_totalprice END AS tp
        FROM orders WHERE o_orderkey % 89 != 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_totalprice
        FROM orders WHERE o_orderkey % 83 = 0
    ),
    d AS (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    WHEN a.o_totalprice != b.tp THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(b.tp, 0) - COALESCE(a.o_totalprice, 0) AS delta
        FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.k
    )
    SELECT status, COUNT(*) AS n_rows,
           CAST(SUM(CAST(delta AS DECIMAL(28,6))) AS DOUBLE) AS price_delta
    FROM d GROUP BY status
    """,
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the CDC audit between two versions of a
    table (yesterday's load vs today's): FULL OUTER join on the key,
    classify each row added / removed / changed / unchanged, report
    per-status counts and the net value drift.  This is the diff the
    reference's change-detection pipeline produced per scan run, lifted
    to whole-table grain.

    Snapshot B is derived deterministically from A in BOTH engines
    (deletes on key%89, 5% price updates on %97, inserts as key+1e9
    twins on %83), so every status bucket is non-empty and the counts
    are exact knowns — no vacuous branch.  Scale shape: one shuffle
    per side on the join key (the partitioning a snapshot store should
    already be bucketed by, which would make this exchange-free); the
    drift sum goes through the decimal trick so it is order-exact.
    At 100 TB prefer storing per-partition row hashes and diffing
    hashes first — only hash-unequal partitions need the row join."""
    a = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = a.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 1.05
        )
        .otherwise(F.col("o_totalprice"))
        .alias("tp"),
    ).unionAll(
        a.filter(F.col("o_orderkey") % 83 == 0).select(
            (F.col("o_orderkey") + 1000000000).alias("k"),
            F.col("o_totalprice").alias("tp"),
        )
    )
    d = a.join(b, a["o_orderkey"] == b["k"], "full_outer").select(
        F.when(a["o_orderkey"].isNull(), "added")
        .when(b["k"].isNull(), "removed")
        .when(a["o_totalprice"] != b["tp"], "changed")
        .otherwise("unchanged")
        .alias("status"),
        (
            F.coalesce(b["tp"], F.lit(0.0))
            - F.coalesce(a["o_totalprice"], F.lit(0.0))
        ).alias("delta"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("delta").cast(DEC)).cast("double").alias("price_delta"),
    )


@query(
    "pipeline_partition_checksum",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           bit_xor(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
               strftime(o_orderdate, '%Y-%m-%d')), 1, 15)) AS BIGINT))
               AS row_xor,
           COUNT(*) AS n_rows
    FROM orders GROUP BY month
    """,
)
def pipeline_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-partition content checksums — the primitive
    behind pipeline_snapshot_diff's 100 TB note (and Snowflake's
    HASH_AGG): XOR of per-row hashes, keyed by the storage partition
    (order month).  Two snapshots with equal (checksum, count) per
    partition are identical there — diff only partitions whose
    checksums moved, the rsync pattern; at 100 TB this turns daily
    reconciliation from a full-table join into a few-hundred-row
    compare plus row-joins on the changed partitions only.

    XOR is commutative/associative, so the checksum is partitioning-
    and order-invariant with plain map-side partial aggregation; the
    row count rides along because XOR alone is blind to duplicated
    pairs (they cancel).  Cross-engine discipline: every hashed field
    is explicitly formatted first (decimal(18,2) for the price, ISO
    date) — hashing raw double/date string renderings would couple the
    checksum to engine formatting; the 60-bit hash prefix keeps the
    value in int64 for both engines."""
    o = load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.bit_xor(h).alias("row_xor"), F.count(F.lit(1)).alias("n_rows"))


@query(
    "quality_distribution_drift",
    oracle="""
    WITH tagged AS (
        SELECT value, CASE WHEN day(ts) < 15 THEN 1 ELSE 0 END AS is_a
        FROM events
    ),
    per_v AS (
        SELECT value, SUM(is_a) AS ca, SUM(1 - is_a) AS cb
        FROM tagged GROUP BY value
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cuma,
               SUM(cb) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cumb
        FROM per_v
    ),
    ks AS (
        SELECT ROUND(CAST(MAX(ABS(cuma * nb - cumb * na)) AS DOUBLE)
                     / (CAST(ANY_VALUE(na) AS DOUBLE) * ANY_VALUE(nb)), 6)
                   AS drift
        FROM cum, tot
    ),
    per_b AS (
        SELECT CAST(floor(value / 25) AS BIGINT) AS bucket,
               SUM(ca) AS ca, SUM(cb) AS cb
        FROM per_v GROUP BY 1
    ),
    terms AS (
        SELECT bucket,
               (CAST(ca + 1 AS DOUBLE) / (na + 20)
                - CAST(cb + 1 AS DOUBLE) / (nb + 20))
               * ln((CAST(ca + 1 AS DOUBLE) / (na + 20))
                    / (CAST(cb + 1 AS DOUBLE) / (nb + 20))) AS term
        FROM per_b, tot
    ),
    psi AS (
        SELECT ROUND(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(term ORDER BY bucket)),
                   (acc, x) -> acc + x), 6) AS drift
        FROM terms
    )
    SELECT 'ks' AS metric, drift FROM ks
    UNION ALL
    SELECT 'psi' AS metric, drift FROM psi
    """,
)
def quality_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring — the statistical member of the
    data-ops suite (expectations catch schema/constraint breaks,
    snapshot-diff catches row churn, checksums catch silent content
    change; THIS catches the distribution quietly shifting under an
    unchanged schema): the exact two-sample Kolmogorov-Smirnov
    statistic plus the Population Stability Index between the month's
    first half (reference) and second half (current) of event values.

    Float discipline: KS stays in INTEGER arithmetic until the last
    step — D = max|cumA*nB - cumB*nA| / (nA*nB) over per-value
    cumulative counts — so the max is exact and engines cannot drift;
    PSI's 20 bucket terms (+1-smoothed so empty buckets are
    well-defined) fold over the bucket-sorted array in both engines
    (the _SQL_DOT doctrine) before one ROUND(6).

    Scale shape: everything derives from ONE value-grain count
    aggregate (per_v): the KS window, the totals, and the PSI bucket
    rollup are all post-aggregates of it, and AQE reuses the per_v
    exchange across branches.  The KS window is partition-less BUT
    bounded by construction: event values are 2-decimal prices in
    [0, 500) (FIXTURES.md), a closed <=50k-row domain at any corpus
    size — for open domains, drop to the PSI buckets or the
    sort_multi_nulls two-phase rank."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.select(
        "value",
        F.when(F.dayofmonth("ts") < 15, 1).otherwise(0).alias("is_a"),
    )
    per_v = tagged.groupBy("value").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    tot = per_v.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_v.select(
        F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    ks = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
            ).alias("mx"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .select(
            F.lit("ks").alias("metric"),
            F.round(
                F.col("mx").cast("double")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("drift"),
        )
    )
    per_b = per_v.groupBy(
        F.floor(F.col("value") / 25).cast("bigint").alias("bucket")
    ).agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + 20)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + 20)
    terms = per_b.crossJoin(F.broadcast(tot)).select(
        "bucket", ((pa - pb) * F.log(pa / pb)).alias("term")
    )
    psi = (
        terms.agg(
            F.sort_array(
                F.collect_list(F.struct("bucket", "term"))
            ).alias("xs")
        )
        .select(
            F.lit("psi").alias("metric"),
            F.round(
                F.aggregate(
                    F.transform("xs", lambda x: x["term"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("drift"),
        )
    )
    return ks.unionByName(psi)


_BASKET_MIN_SUPPORT = 2
_BASKET_TOPK = 20


@query(
    "analytics_copurchase_lift",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    part_n AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p1, p2, support,
           ROUND(CAST(support AS DOUBLE) * n.n_orders
                 / (pa.n_part * pb.n_part), 6) AS lift
    FROM pairs
    JOIN part_n pa ON pa.l_partkey = p1
    JOIN part_n pb ON pb.l_partkey = p2
    CROSS JOIN n
    WHERE support >= {_BASKET_MIN_SUPPORT}
    ORDER BY lift DESC, p1, p2
    LIMIT {_BASKET_TOPK}
    """,
)
def analytics_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining — the frequent-itemset
    representative: part PAIRS co-occurring in an order, scored by
    LIFT = P(a,b) / (P(a) P(b)) with a minimum support floor, top-20.
    This is the co-occurrence primitive under recommenders and
    "frequently bought together" — and, in a training-data pipeline,
    under tag/domain co-occurrence audits.

    Scale shape: pair generation is a self-EQUI-join on the basket key
    (orderkey) after per-basket distinct — never all-pairs over the
    catalog; fan-out is bounded by (items per basket)^2, the classic
    a-priori bound, and hot baskets are AQE-splittable because the
    shuffle key is the basket id.  The per-part totals and the global
    basket count are broadcast dims (2k rows / 1 row); lift arithmetic
    is integer-fed IEEE division, identical bits in both engines, and
    the top-20 is TakeOrderedAndProject on the rounded value with id
    tie-breaks."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # four consumers (basket count, part totals, both pair sides):
        # truncate lineage so the distinct runs once, not per consumer
        .localCheckpoint(eager=False)
    )
    n = op.select(F.countDistinct("l_orderkey").alias("n_orders"))
    part_n = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = op.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    pa = part_n.select(F.col("l_partkey").alias("p1"), F.col("n_part").alias("na"))
    pb = part_n.select(F.col("l_partkey").alias("p2"), F.col("n_part").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "p1")
        .join(F.broadcast(pb), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(_BASKET_TOPK)
    )


@query(
    "pipeline_rollup_merge",
    oracle=f"""
    SELECT event_type,
           CAST(strftime(CAST(ts AS DATE), '%Y-%m') AS VARCHAR) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def pipeline_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate MERGE: daily partials (count, decimal sum,
    per-day distinct-user SETS) re-aggregated into the monthly rollup —
    the incremental-warehouse pattern where yesterday's partials are
    never recomputed, only merged.  The point being demonstrated: which
    partials MERGE LOSSLESSLY (counts add, decimal sums add, distinct
    requires carrying the SET — collected per day, unioned, then
    re-distinct-counted; a naive sum of daily distincts double-counts
    returning users) — and the oracle computes the month DIRECTLY from
    raw events, so the merge path is only green if it loses nothing.

    Scale: the daily partial is the corpus-sized aggregate; the merge
    re-aggregates ~30x fewer rows.  Carrying exact distinct sets costs
    O(daily uniques) per partial — at 100 TB that's the documented
    trade vs HLL partials (agg_sketch_mergeable is the approximate
    twin; this is the exact one)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("sum_value_d"),
        F.collect_set("user_id").alias("users"),
    )
    monthly = daily.groupBy(
        "event_type",
        F.date_format("d", "yyyy-MM").alias("month"),
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("users")))
        )
        .cast("long")
        .alias("n_users"),
        F.sum(F.col("sum_value_d").cast(DEC)).cast("double").alias("sum_value"),
    )
    return monthly.select(
        "event_type", "month", "n_events", "n_users", "sum_value"
    )


@query(
    "analytics_last_touch_attribution",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               {_LAST_TOUCH_SQL}
    ),
    conv AS (
        SELECT CASE WHEN last_touch_us IS NOT NULL
                     AND epoch_us(ts) - last_touch_us <= 604800000000
                    THEN last_touch_type ELSE 'direct' END AS channel
        FROM ordered WHERE event_type = 'purchase'
    ),
    counts AS (
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions
        FROM conv GROUP BY channel
    )
    SELECT channel, n_conversions,
           CAST(floor(1000000.0 * CAST(n_conversions AS DOUBLE)
                / SUM(n_conversions) OVER () + 0.5) AS BIGINT)
               AS share_micro
    FROM counts
    """,
)
def analytics_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent preceding NON-purchase event within a 7-day lookback,
    else to 'direct' — the marketing-analytics verb the funnel family
    was missing (win_funnel_conversion asks WHETHER the path completed;
    attribution asks WHICH channel gets the credit).

    One per-user window pass: two IGNORE-NULLS last_value carries over
    the same (ts, event_id)-ordered frame pick the same source row by
    construction (their NULL-ness is the same predicate — stated,
    relied on by both engines), the lookback compares integer epoch
    microseconds, and the share is one quantized division over a
    window total.  Users whose first event is a purchase attribute to
    'direct' identically on both engines.

    Scale: one shuffle on user_id with a partition-local sort — the
    win_sessionize cost class; the channel rollup is |channels|-sized.
    At 100 TB the lookback bound lets the state live in a streaming
    version (stream_change_detect's GroupState shape) without
    unbounded history."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(
            F.when(non_purchase, F.unix_micros("ts")), ignorenulls=True
        )
        .over(w)
        .alias("last_touch_us"),
        F.last(
            F.when(non_purchase, F.col("event_type")), ignorenulls=True
        )
        .over(w)
        .alias("last_touch_type"),
    )
    conv = ordered.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_touch_us").isNotNull()
            & (
                F.unix_micros("ts") - F.col("last_touch_us")
                <= F.lit(604800000000)
            ),
            F.col("last_touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel")
    )
    counts = conv.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions")
    )
    wt = Window.partitionBy()
    return counts.select(
        "channel",
        "n_conversions",
        round_long(
            F.lit(1000000.0)
            * F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(wt)
        )
        .alias("share_micro"),
    )


@query(
    "quality_freshness_report",
    oracle="""
    WITH anchor AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
    per AS (
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(epoch_us(e.ts)) AS BIGINT) AS last_us,
               CAST(a.now_us - MAX(epoch_us(e.ts)) AS BIGINT) AS stale_us
        FROM events e CROSS JOIN anchor a
        GROUP BY e.event_type, a.now_us
    )
    SELECT event_type, n_events, last_us, stale_us,
           CAST(floor(CAST(stale_us AS DOUBLE) / 60000000.0) AS BIGINT)
               AS stale_minutes,
           CASE WHEN stale_us > 3600000000 THEN 1 ELSE 0 END
               AS breach_1h
    FROM per
    """,
)
def quality_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA report per event stream: last-seen timestamp,
    staleness against the corpus watermark (the max event time — the
    deterministic stand-in for wall-clock now), and a 1-hour-breach
    flag — the monitor that catches a SILENT feed (a dead producer
    emits no errors, only absence; every other quality check here
    needs rows to judge, this one alarms on their disappearance).

    Integer epoch-microsecond arithmetic against a broadcast anchor;
    the breach threshold compares exact integers, so both engines flag
    identically.  In production the anchor is wall-clock now() — the
    fixture pins it to the corpus max so the report is reproducible
    (the anchor-discipline used by analytics_rfm_segmentation's
    recency).

    Scale: one map-side-combined aggregate per stream; the report is
    |streams|-sized.  The streaming twin is stream_progress_metrics'
    telemetry — this is the BATCH audit you run over the lake to catch
    what the pipeline's own metrics can't see: feeds that stopped
    ARRIVING."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    per = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("event_type", "now_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
        )
    )
    stale = (F.col("now_us") - F.col("last_us")).cast("long")
    return per.select(
        "event_type",
        "n_events",
        "last_us",
        stale.alias("stale_us"),
        F.floor(stale.cast("double") / F.lit(60000000.0))
        .cast("long")
        .alias("stale_minutes"),
        F.when(stale > 3600000000, 1).otherwise(0).alias("breach_1h"),
    )


@query(
    "quality_calendar_coverage",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t
        FROM events
    ),
    span AS (
        SELECT CAST(MIN(t) AS BIGINT) AS lo, CAST(MAX(t) AS BIGINT) AS hi
        FROM daily
    ),
    gaps AS (
        SELECT event_type, t,
               t - LAG(t) OVER (PARTITION BY event_type ORDER BY t) - 1
                   AS gap
        FROM daily
    )
    SELECT g.event_type,
           CAST(s.hi - s.lo + 1 AS BIGINT) AS expected_days,
           CAST(COUNT(*) AS BIGINT) AS present_days,
           CAST(s.hi - s.lo + 1 - COUNT(*) AS BIGINT) AS missing_days,
           CAST(floor(1000000.0 * CAST(COUNT(*) AS DOUBLE)
                / (s.hi - s.lo + 1) + 0.5) AS BIGINT) AS coverage_micro,
           CAST(COALESCE(MAX(g.gap), 0) AS BIGINT) AS longest_gap_days
    FROM gaps g CROSS JOIN span s
    GROUP BY g.event_type, s.lo, s.hi
    """,
)
def quality_calendar_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-coverage audit per event stream: expected days over the
    corpus span, present days, missing days, coverage share, and the
    LONGEST consecutive gap — the completeness twin of
    quality_freshness_report (freshness asks "did it stop?"; coverage
    asks "were there holes?", which backfills hide from last-seen
    checks).  The gap length distinguishes one flaky day from a
    week-long outage at equal missing-day counts.

    Integer day arithmetic against the shared corpus span (the
    source_calendar_spine anchor discipline); gaps from one lag window
    over the distinct-day rollup; the coverage share is the single
    quantized division.  Streams missing their leading or trailing
    days still count them as missing because the span is GLOBAL —
    stated, since a per-stream span would hide exactly the outages at
    stream start/end.

    Scale: one distinct-day dedup (map-side combined) feeds both the
    span scalar and the per-type gap window; the report is
    |streams|-sized."""
    e = load(spark, sf_dir, "events")
    daily = e.select(
        "event_type",
        _day_idx().cast("long").alias("t"),
    ).distinct()
    span = daily.agg(
        F.min("t").cast("long").alias("lo"),
        F.max("t").cast("long").alias("hi"),
    )
    w = Window.partitionBy("event_type").orderBy("t")
    gaps = daily.select(
        "event_type",
        "t",
        (F.col("t") - F.lag("t").over(w) - 1).alias("gap"),
    )
    j = gaps.crossJoin(F.broadcast(span))
    expected = (F.col("hi") - F.col("lo") + 1).cast("long")
    return j.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("present_days"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias(
            "longest_gap_days"
        ),
    ).select(
        "event_type",
        expected.alias("expected_days"),
        "present_days",
        (expected - F.col("present_days")).cast("long").alias("missing_days"),
        round_long(
            F.lit(1000000.0)
            * F.col("present_days").cast("double")
            / (F.col("hi") - F.col("lo") + 1)
        )
        .alias("coverage_micro"),
        "longest_gap_days",
    )


@query(
    "quality_null_profile",
    oracle="""
    WITH seeded AS (
        SELECT CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value,
               CASE WHEN event_id % 17 = 0 THEN '' ELSE props END AS props,
               CASE WHEN event_id % 19 = 0 THEN NULL ELSE user_id END
                   AS user_id
        FROM events
    ),
    wide AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_value,
               CAST(COUNT(*) - COUNT(props) AS BIGINT) AS null_props,
               CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS null_user,
               CAST(SUM(CASE WHEN props = '' THEN 1 ELSE 0 END) AS BIGINT)
                   AS blank_props
        FROM seeded
    )
    SELECT col_name, n_rows, n_null, n_blank,
           CASE WHEN n_rows > 0 THEN
               CAST(floor(1000000.0 * CAST(n_null + n_blank AS DOUBLE)
                    / n_rows + 0.5) AS BIGINT)
           END AS missing_pct_micro
    FROM (
        SELECT 'value' AS col_name, n_rows, null_value AS n_null,
               CAST(0 AS BIGINT) AS n_blank FROM wide
        UNION ALL
        SELECT 'props', n_rows, null_props, blank_props FROM wide
        UNION ALL
        SELECT 'user_id', n_rows, null_user, CAST(0 AS BIGINT) FROM wide
    )
    """,
)
def quality_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column MISSINGNESS profile — the first tab of every data-
    quality dashboard: null count, blank-string count, and a combined
    missing-rate per column.  The fixture carries no natural nulls
    (TESTDATA.md), so deterministic missingness is INJECTED first
    (value nulled on event_id % 13, props blanked on % 17, user_id
    nulled on % 19 — the cast_try_permissive fixture-honesty seeding
    doctrine: the operator is exercised on all three missingness
    kinds, reproducibly, at every sf).

    One wide aggregate computes every column's counters in a single
    corpus pass (COUNT(col) vs COUNT(*) — no per-column scans), then
    unpivots to the per-column report; the rate micro-quantizes from
    exact integers.

    Scale: ONE map-side-combined aggregate regardless of column count
    — at 100 TB this is the cheapest full-corpus audit there is; the
    unpivot runs on a 1-row frame."""
    e = load(spark, sf_dir, "events")
    seeded = e.select(
        F.when(F.col("event_id") % 13 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_id") % 17 == 0, "")
        .otherwise(F.col("props"))
        .alias("props"),
        F.when(F.col("event_id") % 19 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    wide = seeded.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).cast("long").alias("null_value"),
        (F.count(F.lit(1)) - F.count("props")).cast("long").alias("null_props"),
        (F.count(F.lit(1)) - F.count("user_id")).cast("long").alias("null_user"),
        F.sum(F.when(F.col("props") == "", 1).otherwise(0))
        .cast("long")
        .alias("blank_props"),
    )
    zero = F.lit(0).cast("long")
    rows = (
        wide.select(
            F.lit("value").alias("col_name"),
            "n_rows",
            F.col("null_value").alias("n_null"),
            zero.alias("n_blank"),
        )
        .unionByName(
            wide.select(
                F.lit("props").alias("col_name"),
                "n_rows",
                F.col("null_props").alias("n_null"),
                F.col("blank_props").alias("n_blank"),
            )
        )
        .unionByName(
            wide.select(
                F.lit("user_id").alias("col_name"),
                "n_rows",
                F.col("null_user").alias("n_null"),
                zero.alias("n_blank"),
            )
        )
    )
    pct = F.when(
        F.col("n_rows") > 0,
        round_long(
            F.lit(1000000.0)
            * (F.col("n_null") + F.col("n_blank")).cast("double")
            / F.col("n_rows")
        ),
    )
    return rows.select(
        "col_name", "n_rows", "n_null", "n_blank",
        pct.alias("missing_pct_micro"),
    )


@query(
    "pipeline_quality_report",
    oracle="""
    WITH ev AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS dups,
               CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS negatives,
               CAST(MAX(datediff('day', DATE '2024-01-01',
                        CAST(ts AS DATE)))
                    - MIN(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE))) + 1
                    - COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS gap_days
        FROM events
    ),
    od AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dups
        FROM orders
    ),
    orphan_o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
    ),
    li AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
    orphan_l AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    ),
    dc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS dups,
               CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS empties
        FROM documents
    )
    SELECT CAST(0 AS BIGINT) AS check_idx, 'row_count' AS checked,
           'events' AS entity, n FROM ev
    UNION ALL SELECT 0, 'row_count', 'orders', n FROM od
    UNION ALL SELECT 0, 'row_count', 'lineitem', n FROM li
    UNION ALL SELECT 0, 'row_count', 'documents', n FROM dc
    UNION ALL SELECT 1, 'dup_primary_key', 'events', dups FROM ev
    UNION ALL SELECT 1, 'dup_primary_key', 'orders', dups FROM od
    UNION ALL SELECT 1, 'dup_primary_key', 'documents', dups FROM dc
    UNION ALL SELECT 2, 'orphan_fk', 'orders->customer', n FROM orphan_o
    UNION ALL SELECT 2, 'orphan_fk', 'lineitem->orders', n FROM orphan_l
    UNION ALL SELECT 3, 'calendar_gap_days', 'events', gap_days FROM ev
    UNION ALL SELECT 4, 'negative_value', 'events', negatives FROM ev
    UNION ALL SELECT 5, 'empty_text', 'documents', empties FROM dc
    """,
)
def pipeline_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAKE-WIDE data-quality dashboard as ONE fused plan — the
    quality-side composition showpiece beside pipeline_corpus_build:
    row counts for four tables, primary-key duplicate counts,
    referential-integrity orphan counts (orders without a customer,
    lineitems without an order — LEFT-ANTI joins), the events calendar
    gap census, negative-value and empty-text checks, all unioned into
    one (check_idx, checked, entity, n) report.

    Every check value is an EXACT integer — counts, count-distinct
    deltas, day arithmetic — so the report hash-compares with no float
    anywhere (the pipeline_corpus_build funnel doctrine, applied to
    quality auditing).  On healthy fixtures most checks read 0; the
    point is the PLAN — a team extends it by unioning one more
    aggregate, and Catalyst still runs each table's checks in a single
    pass over that table.

    Scale: one aggregate pass per table (events/orders/documents each
    compute ALL their checks in one wide agg), two anti-join counts
    whose build sides are the smaller key columns; the report is
    O(checks) rows.  No stage collects; AQE picks broadcast for the
    anti joins when the key side fits.

    Plan-shape note (round-8 audit): each table's check rows are
    EXPLODED from its single wide-agg row, not unioned as separate
    branches — a union branch per check re-instantiates the table's
    aggregate subtree in the plan (measured: 4 events scans, 0 runtime
    ReusedExchange before the rewrite; 1 after), and at 100 TB a
    redundant full-table scan per check is exactly the waste this
    report exists to prevent.  Pinned by
    tests/test_plans.py::test_quality_report_one_wide_agg_per_table
    _and_anti_joins (one scan of events/documents; orders/lineitem
    twice — own agg + FK-orphan probe)."""
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    d = load(spark, sf_dir, "documents")
    day = _day_idx()
    ev = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("event_id"))
        .cast("long")
        .alias("dups"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("long")
        .alias("negatives"),
        (
            F.max(day) - F.min(day) + 1
            - F.count_distinct(F.col("ts").cast("date"))
        )
        .cast("long")
        .alias("gap_days"),
    )
    od = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("long")
        .alias("dups"),
    )
    orphan_o = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lin = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    orphan_l = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    dc = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id"))
        .cast("long")
        .alias("dups"),
        F.sum(F.when(F.length(F.trim("text")) == 0, 1).otherwise(0))
        .cast("long")
        .alias("empties"),
    )

    def check(idx: int, name: str, entity: str, col):
        return F.struct(
            F.lit(idx).cast("long").alias("check_idx"),
            F.lit(name).alias("checked"),
            F.lit(entity).alias("entity"),
            col.cast("long").alias("n"),
        )

    def emit(src: DataFrame, *checks) -> DataFrame:
        # one exploded struct-array per table: every check row comes out
        # of the SAME wide-agg row, so the table's aggregate subtree
        # appears ONCE in the plan (a union branch per check would
        # re-instantiate it — the round-8 plan-audit finding)
        return src.select(
            F.explode(F.array(*checks)).alias("r")
        ).select("r.check_idx", "r.checked", "r.entity", "r.n")

    return (
        emit(
            ev,
            check(0, "row_count", "events", F.col("n")),
            check(1, "dup_primary_key", "events", F.col("dups")),
            check(3, "calendar_gap_days", "events", F.col("gap_days")),
            check(4, "negative_value", "events", F.col("negatives")),
        )
        .unionByName(
            emit(
                od,
                check(0, "row_count", "orders", F.col("n")),
                check(1, "dup_primary_key", "orders", F.col("dups")),
            )
        )
        .unionByName(
            emit(lin, check(0, "row_count", "lineitem", F.col("n")))
        )
        .unionByName(
            emit(
                dc,
                check(0, "row_count", "documents", F.col("n")),
                check(1, "dup_primary_key", "documents", F.col("dups")),
                check(5, "empty_text", "documents", F.col("empties")),
            )
        )
        .unionByName(
            emit(orphan_o, check(2, "orphan_fk", "orders->customer", F.col("n")))
        )
        .unionByName(
            emit(orphan_l, check(2, "orphan_fk", "lineitem->orders", F.col("n")))
        )
    )


def _side_moments(sums: DataFrame, *keys: str) -> DataFrame:
    """Each side's mean and sample variance from its exact integer power
    sums: ``sums`` carries ``n1, s1, ss1`` and ``n2, s2, ss2`` (count,
    sum x, sum x^2); rows with a side under 2 are dropped, and the rest
    become ``(*keys, n1, n2, m1, m2, v1, v2)`` through the raw->central
    identity, one IEEE expression shape per engine."""
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1"), F.col("s2")
    return sums.filter((n1 >= 2) & (n2 >= 2)).select(
        *keys,
        "n1",
        "n2",
        (s1.cast("double") / n1).alias("m1"),
        (s2.cast("double") / n2).alias("m2"),
        (
            (F.col("ss1").cast("double") - (s1 * s1).cast("double") / n1)
            / (n1 - 1)
        ).alias("v1"),
        (
            (F.col("ss2").cast("double") - (s2 * s2).cast("double") / n2)
            / (n2 - 1)
        ).alias("v2"),
    )


def _welch_t_df(diff: Column) -> tuple[Column, Column]:
    """``t_micro`` and ``df_micro`` over :func:`_side_moments`' columns:
    Welch's t of the mean difference ``diff`` and its
    Welch-Satterthwaite degrees of freedom, micro-quantized; each is NULL
    where its denominator (the squared standard error, or the df
    denominator) is not positive."""
    n1, n2, v1, v2 = F.col("n1"), F.col("n2"), F.col("v1"), F.col("v2")
    se2 = v1 / n1 + v2 / n2
    df_den = (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)
    return (
        F.when(se2 > 0, round_long(F.lit(1000000.0) * (diff / F.sqrt(se2)))).alias(
            "t_micro"
        ),
        F.when(df_den > 0, round_long(F.lit(1000000.0) * ((se2 * se2) / df_den))).alias(
            "df_micro"
        ),
    )


# The SQL twin of _side_moments' select list: m1, m2, v1, v2 from the
# side power sums n1, s1, ss1 and n2, s2, ss2.
_SIDE_MOMENTS_SQL = """CAST(s1 AS DOUBLE) / n1 AS m1,
               CAST(s2 AS DOUBLE) / n2 AS m2,
               (CAST(ss1 AS DOUBLE) - CAST(s1 * s1 AS DOUBLE) / n1)
                   / (n1 - 1) AS v1,
               (CAST(ss2 AS DOUBLE) - CAST(s2 * s2 AS DOUBLE) / n2)
                   / (n2 - 1) AS v2"""


def _welch_t_df_sql(diff: str) -> str:
    """The SQL twin of :func:`_welch_t_df`: the ``t_micro`` and
    ``df_micro`` select items for the mean difference ``diff``."""
    return f"""CASE WHEN v1 / n1 + v2 / n2 > 0 THEN
               CAST(floor(1000000.0 * {diff} / sqrt(v1 / n1 + v2 / n2)
                    + 0.5) AS BIGINT)
           END AS t_micro,
           CASE WHEN (v1 / n1) * (v1 / n1) / (n1 - 1)
                     + (v2 / n2) * (v2 / n2) / (n2 - 1) > 0 THEN
               CAST(floor(1000000.0
                    * ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                    / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                       + (v2 / n2) * (v2 / n2) / (n2 - 1))
                    + 0.5) AS BIGINT)
           END AS df_micro"""


@query(
    "pipeline_experiment_readout",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
               CASE WHEN (user_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 < 50
                    THEN 1 ELSE 0 END AS arm_a
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT CAST(SUM(arm_a) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm_a = 1 THEN x ELSE 0 END) AS BIGINT)
                   AS s1,
               CAST(SUM(CASE WHEN arm_a = 1 THEN x * x ELSE 0 END) AS BIGINT)
                   AS ss1,
               CAST(SUM(1 - arm_a) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN arm_a = 0 THEN x ELSE 0 END) AS BIGINT)
                   AS s2,
               CAST(SUM(CASE WHEN arm_a = 0 THEN x * x ELSE 0 END) AS BIGINT)
                   AS ss2
        FROM per_user
    ),
    mv AS (
        SELECT n1, n2, s1, s2,
               {_SIDE_MOMENTS_SQL}
        FROM arms WHERE n1 >= 2 AND n2 >= 2
    )
    SELECT n1 AS n_users_a, n2 AS n_users_b,
           CAST(floor(1000000.0
                * CAST((n1 - n2) * (n1 - n2) AS DOUBLE) / (n1 + n2)
                + 0.5) AS BIGINT) AS srm_chisq_micro,
           CAST(CASE WHEN 1000000 * (n1 - n2) * (n1 - n2)
                          > 3841459 * (n1 + n2)
                THEN 1 ELSE 0 END AS INT) AS srm_flag,
           CAST(floor(1000000.0 * m1 + 0.5) AS BIGINT) AS mean_a_micro,
           CAST(floor(1000000.0 * m2 + 0.5) AS BIGINT) AS mean_b_micro,
           {_welch_t_df_sql("(m2 - m1)")},
           CASE WHEN m1 > 0 THEN
               CAST(floor(1000000.0 * (m2 - m1) / m1 + 0.5) AS BIGINT)
           END AS lift_micro,
           CASE WHEN m1 > 0 THEN
               CAST(floor(1000000.0
                    * ((m2 - m1) / m1
                       - 1.96 * sqrt(v2 / n2 / (m1 * m1)
                                     + (m2 * m2) * (v1 / n1)
                                       / (m1 * m1 * m1 * m1)))
                    + 0.5) AS BIGINT)
           END AS lift_ci_lo_micro,
           CASE WHEN m1 > 0 THEN
               CAST(floor(1000000.0
                    * ((m2 - m1) / m1
                       + 1.96 * sqrt(v2 / n2 / (m1 * m1)
                                     + (m2 * m2) * (v1 / n1)
                                       / (m1 * m1 * m1 * m1)))
                    + 0.5) AS BIGINT)
           END AS lift_ci_hi_micro
    FROM mv
    """,
)
def pipeline_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full A/B EXPERIMENT READOUT as one fused plan — the third
    composition showpiece (beside pipeline_corpus_build and
    pipeline_quality_report), wiring the round-8 stats battery into the
    report an experimentation platform actually ships: deterministic
    Knuth 50/50 user assignment -> the SRM validity gate
    (analytics_ab_srm's exact-integer chi-square flag) -> per-user
    engagement metric (event count — an exact integer, so the per-arm
    moment sums never drift) -> Welch's t and Satterthwaite df
    (agg_welch_ttest's raw->central identity on integer power sums) ->
    relative lift with a delta-method 95% CI
    (agg_ratio_metric_delta_ci's technique on the mean ratio).

    One corpus pass to (user, x, arm), ONE 6-integer rollup row, then
    pure single-row arithmetic: every float expression evaluates once
    per engine in an identical IEEE shape, micro-quantized; degenerate
    arms (n < 2) emit zero rows, zero control mean NULLs the lift
    family, zero pooled variance NULLs t/df — all engine-identical.

    Reading it: srm_flag != 0 means STOP — the split is broken and
    nothing below the flag is trustworthy (why the gate rides in the
    same plan: a readout without it invites cherry-picking).

    Scale: the readout is two shuffles total (user rollup, arm rollup)
    no matter the corpus size; the six per-arm integers are additive
    partials, so shards merge by addition — the same property that
    makes agg_welch_ttest 1000x-safe applies end-to-end."""
    e = load(spark, sf_dir, "events")
    arm_a = F.when(
        (F.col("user_id") * KNUTH_MULT) % KNUTH_MOD % 100 < 50, 1
    ).otherwise(0)
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).select("user_id", "x", arm_a.alias("arm_a"))
    a = F.col("arm_a")
    x = F.col("x")
    arms = per_user.agg(
        F.sum(a).cast("long").alias("n1"),
        F.sum(F.when(a == 1, x).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(a == 1, x * x).otherwise(0)).cast("long").alias("ss1"),
        F.sum(1 - a).cast("long").alias("n2"),
        F.sum(F.when(a == 0, x).otherwise(0)).cast("long").alias("s2"),
        F.sum(F.when(a == 0, x * x).otherwise(0)).cast("long").alias("ss2"),
    )
    mv = _side_moments(arms)
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2, v1, v2 = F.col("m1"), F.col("m2"), F.col("v1"), F.col("v2")
    lift = (m2 - m1) / m1
    lift_se = F.sqrt(
        v2 / n2 / (m1 * m1) + (m2 * m2) * (v1 / n1) / (m1 * m1 * m1 * m1)
    )
    return mv.select(
        n1.alias("n_users_a"),
        n2.alias("n_users_b"),
        round_long(
            F.lit(1000000.0) * (((n1 - n2) * (n1 - n2)).cast("double") / (n1 + n2))
        ).alias("srm_chisq_micro"),
        F.when(
            F.lit(1000000) * (n1 - n2) * (n1 - n2) > F.lit(3841459) * (n1 + n2),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("srm_flag"),
        round_long(F.lit(1000000.0) * m1).alias("mean_a_micro"),
        round_long(F.lit(1000000.0) * m2).alias("mean_b_micro"),
        *_welch_t_df(m2 - m1),
        F.when(m1 > 0, round_long(F.lit(1000000.0) * lift)).alias("lift_micro"),
        F.when(
            m1 > 0, round_long(F.lit(1000000.0) * (lift - F.lit(1.96) * lift_se))
        ).alias("lift_ci_lo_micro"),
        F.when(
            m1 > 0, round_long(F.lit(1000000.0) * (lift + F.lit(1.96) * lift_se))
        ).alias("lift_ci_hi_micro"),
    )


# ---------------------------------------------------------------------------
# round-9 flagship composition: the daily incremental ingest as ONE plan
# ---------------------------------------------------------------------------


@query(
    "pipeline_incremental_ingest",
    oracle=f"""
    WITH {_INGEST_FLAGS_SQL_CTES},
    agg AS (
        SELECT COUNT(*) AS n_offered,
               COUNT(CASE WHEN ok_clean THEN 1 END) AS n_clean,
               COUNT(CASE WHEN ok_quality THEN 1 END) AS n_quality,
               COUNT(CASE WHEN ok_quality AND rn = 1 THEN 1 END) AS n_intra,
               COUNT(CASE WHEN ok_quality AND rn = 1
                          AND NOT hash_in_corpus THEN 1 END) AS n_admitted,
               COUNT(CASE WHEN ok_quality AND rn = 1 AND NOT hash_in_corpus
                          AND NOT id_in_corpus THEN 1 END) AS n_new,
               COUNT(CASE WHEN ok_quality AND rn = 1 AND NOT hash_in_corpus
                          AND id_in_corpus THEN 1 END) AS n_updated
        FROM ranked
    ),
    corp_n AS (SELECT COUNT(*) AS n_corpus FROM corpus)
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'corpus_base' AS stage,
           CAST(n_corpus AS BIGINT) AS n_docs FROM corp_n
    UNION ALL SELECT 1, 'offered', CAST(n_offered AS BIGINT) FROM agg
    UNION ALL SELECT 2, 'clean', CAST(n_clean AS BIGINT) FROM agg
    UNION ALL SELECT 3, 'quality', CAST(n_quality AS BIGINT) FROM agg
    UNION ALL SELECT 4, 'dedup_intra', CAST(n_intra AS BIGINT) FROM agg
    UNION ALL SELECT 5, 'dedup_vs_corpus', CAST(n_admitted AS BIGINT) FROM agg
    UNION ALL SELECT 6, 'merged_total',
           CAST((SELECT n_corpus FROM corp_n) + n_new AS BIGINT) FROM agg
    UNION ALL SELECT 7, 'merged_new', CAST(n_new AS BIGINT) FROM agg
    UNION ALL SELECT 8, 'merged_updated', CAST(n_updated AS BIGINT) FROM agg
    """,
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY INCREMENTAL INGEST as one fused Catalyst plan — the
    round-9 flagship composition and the daily-ingest twin of
    pipeline_corpus_build: where corpus_build constructs a corpus from
    scratch, this is the run that keeps it alive — today's increment is
    cleaned, quality-gated, deduplicated first against itself and then
    against the ACCUMULATED corpus's hash index, and upserted
    latest-wins into the serving snapshot, emitting one funnel row per
    stage plus the merge audit (total / new / updated) an ingest owner
    signs off daily.

    Stage operators composed (each exists standalone): clean =
    str_clean_pipeline's whitespace fold (no lowercasing — updates must
    stay distinct from their base text, the merge_upsert_latest
    convention); quality = the length gate; dedup_intra =
    dedup_exact's first-occurrence window WITHIN the increment;
    dedup_vs_corpus = dedup_incremental_exact's anti-join against the
    corpus hash index; merge = merge_upsert_latest's latest-wins
    semantics, here reported as counts (merged_total = corpus + new:
    updates REPLACE rows, never add).  The feeds, clean, gate flags and
    corpus-index join are the stages stream_incremental_ingest runs in
    flight (streaming_batch._ingest_flagged).

    Fixture framing (the dedup_incremental_exact convention): the
    accumulated corpus is the ``doc_id % 5 == 0`` slice; the increment
    is the new-document slice (% 5 != 0) plus three seeded feeds that
    witness every funnel counter at every sf — ``% 20 == 0`` docs
    re-arrive with CHANGED content (upper + suffix: admitted, counted
    merged_updated), ``% 20 == 10`` docs re-arrive byte-identical (hash
    already indexed: dropped at dedup_vs_corpus, the reference's
    unchanged-snapshot skip), and ``% 15 == 1`` docs arrive twice
    within the increment (a verbatim re-post in the negative id space:
    dropped at dedup_intra, which the raw fixture only exercises at
    sf0.1).

    Plan discipline (the pipeline_quality_report lesson, improving on
    corpus_build's 9-subtree union): stage gates are computed as
    PER-ROW FLAGS in one pass, aggregated by ONE wide conditional
    aggregate, and exploded into report rows — so the fused plan scans
    documents exactly FOUR times (the two increment feed branches —
    base slice + seeded verbatim-duplicate feed — plus the corpus hash
    index and the corpus count; plan-pinned at 4 by
    test_incremental_ingest_one_wide_agg_bounded_scans), with one window
    (intra dedup rank over (hash, quality-flag)), one broadcast-able
    hash join against the DISTINCT corpus index, and no intermediate
    action or Python eval (plan-pinned in tests/test_plans.py).

    Scale: the corpus side reduces to its 32-byte hash index — at
    100 TB that index is the only corpus-sized input (uniform sha256
    keys, no skew), the increment is a day's data (orders of magnitude
    smaller), and the report is 9 rows.  Every stage inherits its
    standalone operator's partitioning discipline."""
    d = load(spark, sf_dir, "documents")
    corpus = _ingest_corpus(d)
    w = Window.partitionBy("h", "ok_quality").orderBy("doc_id")
    ranked = _corpus_flag(
        _ingest_flags(d).withColumn("rn", F.row_number().over(w)),
        corpus.select("h").distinct(),
    )
    ok_q = F.col("ok_quality")
    first = ok_q & (F.col("rn") == 1)
    admitted = first & ~F.col("hash_in_corpus")
    cnt = lambda cond: F.count(F.when(cond, 1)).cast("long")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_offered"),
        cnt(F.col("ok_clean")).alias("n_clean"),
        cnt(ok_q).alias("n_quality"),
        cnt(first).alias("n_intra"),
        cnt(admitted).alias("n_admitted"),
        cnt(admitted & ~F.col("id_in_corpus")).alias("n_new"),
        cnt(admitted & F.col("id_in_corpus")).alias("n_updated"),
    )
    corp_n = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    wide = agg.crossJoin(F.broadcast(corp_n))

    def row(idx: int, name: str, n) -> F.Column:
        # identical field names in every element — array() requires it
        return F.struct(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            n.cast("long").alias("n_docs"),
        )

    report = wide.select(
        F.explode(
            F.array(
                row(0, "corpus_base", F.col("n_corpus")),
                row(1, "offered", F.col("n_offered")),
                row(2, "clean", F.col("n_clean")),
                row(3, "quality", F.col("n_quality")),
                row(4, "dedup_intra", F.col("n_intra")),
                row(5, "dedup_vs_corpus", F.col("n_admitted")),
                row(6, "merged_total", F.col("n_corpus") + F.col("n_new")),
                row(7, "merged_new", F.col("n_new")),
                row(8, "merged_updated", F.col("n_updated")),
            )
        ).alias("r")
    )
    return report.select("r.stage_idx", "r.stage", "r.n_docs")


# ---------------------------------------------------------------------------
# round-9 composition #2: split -> leakage detection -> kill-list -> report
# ---------------------------------------------------------------------------

_DECON_N = 3           # n-gram length (fixture demo; production uses 8+)
_DECON_RATIO = 0.04    # overlap kill threshold (fixture demo; prod ~0.3)


@query(
    "pipeline_decontaminate",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               (doc_id * {KNUTH_MULT}) % {KNUTH_MOD} % 100 AS b
        FROM documents
    ),
    toks AS (SELECT doc_id, b, string_split(text, ' ') AS t FROM base),
    grams AS (
        SELECT doc_id, b,
               array_to_string(list_slice(t, CAST(g + 1 AS BIGINT),
                                          CAST(g + {_DECON_N} AS BIGINT)), ' ')
                   AS gram
        FROM (SELECT doc_id, b, t,
                     unnest(range(0, CAST(len(t) - {_DECON_N} + 1 AS BIGINT)))
                         AS g
              FROM toks WHERE len(t) >= {_DECON_N})
    ),
    eval_grams AS (
        SELECT doc_id AS eval_id, gram FROM grams WHERE b >= 90
        GROUP BY doc_id, gram
    ),
    eval_sizes AS (
        SELECT eval_id, COUNT(*) AS n_eval_grams FROM eval_grams
        GROUP BY eval_id
    ),
    {_ngram_hits_sql("g.b < 80")},
    killed AS (
        SELECT DISTINCT train_id
        FROM hits h JOIN eval_sizes s ON h.eval_id = s.eval_id
        WHERE CAST(h.shared AS DOUBLE) / s.n_eval_grams >= {_DECON_RATIO}
    )
    SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(CASE WHEN k.train_id IS NOT NULL THEN 1 END)
                AS BIGINT) AS n_dropped,
           CAST(COUNT(CASE WHEN k.train_id IS NULL THEN 1 END)
                AS BIGINT) AS n_after
    FROM base LEFT JOIN killed k ON base.doc_id = k.train_id
    GROUP BY 1
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-set DECONTAMINATION as one fused plan — round-9 composition
    #2 and the missing hygiene verb between corpus_split_hash and
    training: split the corpus 80/10/10 (Knuth hash, rand()-free), find
    train documents sharing >= 4% of any TEST document's n-gram
    shingles (corpus_contamination_check's detector, here aimed at the
    pipeline's OWN test split instead of an external holdout — the
    leakage that silently inflates eval numbers), and report per-split
    before / dropped / after counts.  Only train rows can be dropped;
    valid/test rows pass through (their n_dropped is the honest zero).

    Fixture honesty: at the production detector settings (8-grams,
    ratio 0.3) the token-shuffled fixture has zero verbatim overlap, so
    the demo runs n=3 / ratio 0.04 (the corpus_contamination_check
    convention) — kill counts are witnessed nonzero at every sf
    (130 / 103 / 3639 of 398 / 398 / 3998 train docs).

    Plan: shingles are computed in one scan-side explode; the TEST
    side's distinct shingles are eval-split-sized and BROADCAST into
    the train-side join (the corpus never shuffles by shingle); the
    kill list is train_id-distinct and anti-joined (left + null-flag)
    into the split report — one aggregate, 3 rows out.  At 100 TB the
    eval split is fixed-size (a benchmark suite), so the broadcast
    bound holds no matter how large train grows; the kill-list join is
    uniform on doc_id."""
    d = load(spark, sf_dir, "documents")
    b = (F.col("doc_id") * KNUTH_MULT) % KNUTH_MOD % 100
    base = d.select("doc_id", "text", b.alias("b"))
    # r11 A/B NOTE: a lazy localCheckpoint of the exploded n-grams (they
    # feed both the eval side and the train-side hits join) measured a
    # clear LOSS interleaved at sf0.1 (4.13 vs 3.11 s median) — unlike
    # pipeline_corpus_build's fan-out, materializing ~500k exploded
    # gram STRINGS costs more than recomputing the explode twice.  Left
    # un-truncated.
    killed = (
        _ngram_hits(base, _DECON_N, F.col("b") >= 90, F.col("b") < 80, "b")
        .filter(
            F.col("shared").cast("double") / F.col("n_eval_grams")
            >= _DECON_RATIO
        )
        .select("train_id")
        .distinct()
        .withColumn("is_killed", F.lit(True))
    )
    split = (
        F.when(F.col("b") < 80, "train")
        .when(F.col("b") < 90, "valid")
        .otherwise("test")
    )
    return (
        base.join(killed, base.doc_id == killed.train_id, "left")
        .groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.count(F.when(F.col("is_killed"), 1)).cast("long").alias("n_dropped"),
            F.count(F.when(F.col("is_killed").isNull(), 1))
            .cast("long")
            .alias("n_after"),
        )
    )


# ---------------------------------------------------------------------------
# round-9 composition #3: cumulative feed -> daily series report, one plan
# ---------------------------------------------------------------------------


@query(
    "pipeline_daily_series_report",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, d,
               (d - DATE '2024-01-01') AS di,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM daily
    ),
    reported AS (
        SELECT event_type, d, di,
               CASE WHEN di % 7 = 3 THEN (c * 9) // 10 ELSE c END
                   AS reported_cum
        FROM cum
    ),
    derived AS (
        SELECT event_type, d, di, reported_cum,
               COALESCE(reported_cum - LAG(reported_cum)
                            OVER (PARTITION BY event_type ORDER BY di),
                        reported_cum) AS new_cases
        FROM reported
    ),
    scored AS (
        SELECT event_type, d, di, reported_cum, new_cases,
               new_cases - LAG(new_cases)
                   OVER (PARTITION BY event_type ORDER BY di) AS dod_delta,
               CAST(SUM(new_cases) OVER w7 AS BIGINT) AS s7,
               COUNT(new_cases) OVER w7 AS c7
        FROM derived
        WINDOW w7 AS (PARTITION BY event_type ORDER BY di
                      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, reported_cum,
           new_cases, dod_delta,
           CASE WHEN new_cases < 0 THEN 1 ELSE 0 END AS is_restatement,
           CASE WHEN c7 > 0
                THEN CAST(floor(1000000.0 * s7 / c7 + 0.5) AS BIGINT)
                ELSE NULL END AS trail7_avg_micro,
           CASE WHEN c7 > 0 AND new_cases * c7 > 2 * s7 THEN 1
                WHEN c7 > 0 THEN 0 ELSE NULL END AS is_spike
    FROM scored
    """,
)
def pipeline_daily_series_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's downstream PRODUCT as one fused plan — round-9
    composition #3: health sources publish CUMULATIVE counters, and the
    pipeline's daily job derives the series a dashboard actually shows:
    daily new counts by differencing the reported cumulative, a 7-day
    trailing average, day-over-day deltas, spike flags, and RESTATEMENT
    detection (a source correcting history makes the cumulative counter
    drop, so the derived daily goes negative — the classic
    reported-data artifact this operator family exists to surface).

    Fixture honesty: the raw event feed has no reporting errors, so the
    reported series is seeded with the real-world artifact — every
    ``(day - start) % 7 == 3`` report UNDER-counts by 10% (integer
    ``div(c*9, 10)``) and the next day silently corrects, which makes
    differencing emit one genuine negative (restatement) per type per
    week at every sf.  All counters are witnessed: spikes fire on the
    post-correction rebound days.

    Determinism: counts, cumulative sums, and the under-count are pure
    BIGINT; the only division is the trailing average, one IEEE op
    micro-quantized (floor(1e6*s/c + 0.5)); the spike test is the
    integer cross-multiply new*c7 > 2*s7 (the analytics_ab_srm
    doctrine — no float threshold anywhere).  The trailing window is a
    RANGE frame over the day index, so sparse calendars compare dates,
    not rows (the win_week_over_week lesson).

    Scale: ONE events scan feeds the daily rollup; everything after is
    calendar-bounded per type (|types| x |days| rows), three windows
    sharing the (event_type, di) sort — at 100 TB the corpus-sized
    stage is the daily aggregate, the report is dashboard-sized."""
    e = load(spark, sf_dir, "events")
    daily = _daily_counts(e, "d", x="n")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type",
        "d",
        F.datediff("d", F.lit("2024-01-01")).alias("di"),
        F.sum("n").over(wcum).alias("c"),
    )
    reported = cum.select(
        "event_type",
        "d",
        "di",
        F.when(F.col("di") % 7 == 3, F.expr("div(c * 9, 10)"))
        .otherwise(F.col("c"))
        .alias("reported_cum"),
    )
    wlag = Window.partitionBy("event_type").orderBy("di")
    derived = reported.withColumn(
        "new_cases",
        F.coalesce(
            F.col("reported_cum") - F.lag("reported_cum").over(wlag),
            F.col("reported_cum"),
        ),
    )
    w7 = Window.partitionBy("event_type").orderBy("di").rangeBetween(-7, -1)
    scored = derived.select(
        "event_type",
        "d",
        "reported_cum",
        "new_cases",
        (F.col("new_cases") - F.lag("new_cases").over(wlag)).alias("dod_delta"),
        F.sum("new_cases").over(w7).alias("s7"),
        F.count("new_cases").over(w7).alias("c7"),
    )
    c7 = F.col("c7")
    return scored.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "reported_cum",
        "new_cases",
        "dod_delta",
        F.when(F.col("new_cases") < 0, 1).otherwise(0).alias("is_restatement"),
        F.when(
            c7 > 0,
            round_long(F.lit(1000000.0) * F.col("s7") / c7),
        ).alias("trail7_avg_micro"),
        F.when(c7 <= 0, F.lit(None).cast("int"))
        .when(F.col("new_cases") * c7 > 2 * F.col("s7"), 1)
        .otherwise(0)
        .alias("is_spike"),
    )


# ---------------------------------------------------------------------------
# round-10 composition: the upsert OUTPUT itself — merged serving snapshot
# ---------------------------------------------------------------------------


@query(
    "pipeline_merged_snapshot",
    oracle=f"""
    WITH {_INGEST_SQL_CTES},
    qual AS (
        SELECT doc_id, sha256(cleaned) AS h, (doc_id % 5 = 0) AS id_in_corpus
        FROM inc WHERE length(cleaned) BETWEEN 50 AND 1000
    ),
    ranked AS (
        SELECT doc_id, h, id_in_corpus,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM qual
    ),
    admitted AS (
        SELECT r.doc_id, r.h, r.id_in_corpus
        FROM ranked r LEFT JOIN corpus_hashes ch ON r.h = ch.h
        WHERE r.rn = 1 AND ch.h IS NULL
    ),
    upd AS (SELECT doc_id, h AS h_new FROM admitted WHERE id_in_corpus)
    SELECT c.doc_id AS doc_id,
           COALESCE(u.h_new, c.h) AS h,
           CASE WHEN u.h_new IS NOT NULL THEN 'updated'
                ELSE 'carried' END AS provenance
    FROM corpus c LEFT JOIN upd u ON c.doc_id = u.doc_id
    UNION ALL
    SELECT doc_id, h, 'new' AS provenance
    FROM admitted WHERE NOT id_in_corpus
    """,
)
def pipeline_merged_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING SNAPSHOT the incremental ingest actually ships — the
    row-level output twin of pipeline_incremental_ingest, which reports
    the funnel COUNTS of the very same run: every document of the
    post-upsert corpus with its content hash and per-row provenance
    (``carried`` = corpus row untouched today, ``updated`` = corpus row
    replaced latest-wins by an admitted re-arrival of its id, ``new`` =
    admitted first-time id).  Together the two operators are the
    complete daily artifact: the audit an ingest owner signs off and
    the snapshot the serving layer loads — and the funnel's
    merged_total/merged_new/merged_updated rows are by construction
    the GROUP BY provenance of this output (corpus_base + new =
    carried + updated + new).

    Stage reuse (identical expressions, identical fixture framing as
    pipeline_incremental_ingest — see its docstring for the seeded
    feeds): clean, quality gate, intra dedup (here the window keys on
    h alone AFTER the quality filter — equivalent to rn=1 within the
    (h, ok_quality=true) partition, one less key column), corpus-hash
    anti-membership, then the upsert itself: corpus LEFT JOIN the
    admitted-updates slice by doc_id (latest-wins replace), UNION ALL
    the admitted-new slice.

    Scale: output is corpus-sized — the one composition here that is
    DELIBERATELY not a report, because the snapshot rewrite is the real
    daily cost.  Both join sides against the corpus are broadcast-able
    daily-increment slices (admitted updates ~increment-sized), so the
    corpus is never shuffled: one broadcast hash join + one union over
    a partition-preserving scan; the hash index side reuses
    dedup_incremental_exact's uniform-sha256 no-skew argument.  The
    window runs over the increment only (a day's data), never the
    corpus."""
    d = load(spark, sf_dir, "documents")
    corpus = _ingest_corpus(d)
    w = Window.partitionBy("h").orderBy("doc_id")
    first = (
        _ingest_flags(d)
        .filter(F.col("ok_quality"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    admitted = (
        _corpus_flag(first, corpus.select("h").distinct())
        .filter(~F.col("hash_in_corpus"))
        .select("doc_id", "h", "id_in_corpus")
    )
    # admitted feeds BOTH merge arms (updates + news); without truncation
    # Catalyst re-instantiates its whole subtree per use — measured: 11
    # documents scans / 11 windows with only 2 of 15 exchanges reused
    # (AQE dedupes only shuffle subtrees, and few here qualify — the r8
    # union lesson).  admitted is increment-sized (a day's data), so a
    # lazy localCheckpoint materializes it once.  Paired A/B at sf0.1
    # (SCALE.md "Round 9 additions", pipeline_merged_snapshot;
    # ea6ce32:experiments/r10_snapshot_checkpoint_ab.py): medians 0.87 vs
    # 0.79 s — the checkpoint LOSES at fixture scale, where every scan
    # is milliseconds and its constant overhead dominates; it is kept
    # because the duplicated arm's re-executed work includes the
    # corpus-sized distinct index, which grows with the corpus while
    # the checkpoint cost grows only with the daily increment
    # (plan-pinned at 1 corpus scan downstream in tests/test_plans.py).
    # Storage-lifetime caveat: checkpointed blocks live in the block
    # manager until this DataFrame is GC'd, and the truncated lineage
    # is NOT recomputable on executor loss — callers that loop this
    # query many times in one session should prefer persist+unpersist.
    admitted = admitted.localCheckpoint(eager=False)
    upd = admitted.filter(F.col("id_in_corpus")).select(
        "doc_id", F.col("h").alias("h_new")
    )
    carried = corpus.join(F.broadcast(upd), "doc_id", "left").select(
        "doc_id",
        F.coalesce("h_new", "h").alias("h"),
        F.when(F.col("h_new").isNotNull(), F.lit("updated"))
        .otherwise(F.lit("carried"))
        .alias("provenance"),
    )
    new = admitted.filter(~F.col("id_in_corpus")).select(
        "doc_id", "h", F.lit("new").alias("provenance")
    )
    return carried.unionByName(new)
