"""§2.4 Aggregations (SURVEY.md) — hash-agg with map-side partials.

Reference analogue: per-state / per-run scan summaries (the reference
computes these imperatively over Python dicts; here they are declarative
groupBy/agg so Catalyst plans partial+final HashAggregate with map-side
combine — the shuffle carries one row per (group, partition), which is
what makes these safe at 100 TB even on skewed group keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from ._helpers import DEC, davg, dsum, round_long, sql_davg, sql_dsum

# --------------------------------------------------------------------------
# agg_groupby — the flagship (TPC-H-Q1-shaped pricing summary).
# Plan: parquet scan (filter pushed down, 7/11 cols pruned) -> partial
# HashAggregate -> shuffle on (returnflag, linestatus) -> final HashAggregate.
# Group cardinality is tiny (~6), so the shuffle is a few rows per partition
# regardless of input scale.


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: 8 aggregates by (returnflag, linestatus)."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity')} AS total_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped run-level summary (reference: total fetched/failed per run)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type (reference: unique pages changed per
    run).  Catalyst plans the distinct via Expand + two-phase aggregate."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY event_type
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distinct aggregates in one pass — Spark expands the input once
    per distinct group rather than re-scanning."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
    )


@query("agg_approx_distinct", oracle=None)  # rows-only: approx != hash-match
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate (the 100 TB path: constant
    memory per group vs the exact expand).  Accuracy asserted separately
    in tests against the exact count (rsd=0.02).

    Driver sees (sf0.01): 5 rows; columns (event_type, approx_users).

    Rows-only (irreducibly): HyperLogLog++ estimate — implementation-
    defined value with no DuckDB twin. Accuracy vs exact
    COUNT(DISTINCT) asserted in tests.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@query(
    "select_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT on two columns (reference: source-registry dedup)."""
    return load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (reference: sources changing more than N
    times) — HAVING is just a filter above the aggregate in the plan."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 15)
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT n_name, c_mktsegment,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_segment,
           COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal')} AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity subtotals in one pass (reference: per-state /
    per-kind / grand-total scan summaries).  SQL surface — GROUPING SETS
    has no stable DataFrame equivalent."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cdp_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("cdp_nation")
    return spark.sql(
        f"""
        SELECT n_name, c_mktsegment,
               CAST(GROUPING(n_name) AS INT) AS g_nation,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_segment,
               COUNT(*) AS n_customers,
               {sql_dsum('c_acctbal')} AS total_bal
        FROM cdp_customer c JOIN cdp_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region -> nation -> grand total."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal").alias("total_bal"))
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations over (returnflag, linestatus)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses
    FROM orders GROUP BY o_custkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer version-history list (reference: per-source snapshot
    history).  collect_list is unordered across partitions — sort_array
    makes it deterministic, always.  Emitted as a CSV string: the
    comparison harness canonicalizes scalar columns only (list-typed
    pandas columns are unsortable), and the joined form is equally
    deterministic."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list("o_orderstatus")), ",").alias(
            "statuses"
        )
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-list matrix source x status (reference: per-run change
    summary).  Explicit pivot values keep the plan one-pass (no extra
    distinct job to discover columns); counts coalesced to 0 to match
    SQL FILTER semantics."""
    ev = load(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS sd_price,
           ROUND(STDDEV_POP(l_extendedprice), 2) AS sdp_price,
           ROUND(VAR_SAMP(l_discount), 9) AS var_disc,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_pq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates.  These are genuinely order-sensitive
    double reductions with no exact-decimal path, so both sides round:
    magnitudes chosen so engine drift (~1e-12 relative) sits far from
    the rounding boundary."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.stddev_pop("l_extendedprice"), 2).alias("sdp_price"),
        F.round(F.var_samp("l_discount"), 9).alias("var_disc"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
    )


@query(
    "agg_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (p50/p90/p99) of price per returnflag — run-
    latency-style distribution summaries.  Spark ``percentile`` and
    DuckDB ``quantile_cont`` both linearly interpolate over the sorted
    values; rounded to 6 digits to absorb last-ulp interpolation
    differences.  Exact percentile sorts per group — fine for bounded
    groups; the unbounded-cardinality path is the approx twin below."""
    li = load(spark, sf_dir, "lineitem")
    # ONE percentile buffer for all three targets (r11): three scalar
    # percentile() aggregates each built and merged their own
    # value->count hash map over the same 600k values; the array form
    # shares a single buffer and one sorted evaluation, with identical
    # interpolation arithmetic per target.
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pcts.alias("pcts"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("pcts")[0], 6).alias("p50"),
            F.round(F.col("pcts")[1], 6).alias("p90"),
            F.round(F.col("pcts")[2], 6).alias("p99"),
            "lo",
            "hi",
        )
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS p50_approx,
           quantile_disc(l_extendedprice, 0.9) AS p90_approx,
           quantile_disc(l_extendedprice, 0.99) AS p99_approx
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles via the GK sketch (``approx_percentile``) run in
    EXACT mode: accuracy 1,000,000 >= every group's cardinality at bench
    scale (max group ~200k rows at sf0.1, pinned in tests), so the
    sketch degenerates to the exact discrete percentile — the smallest
    element with rank >= ceil(p*n).  That is bit-identical to DuckDB's
    ``quantile_disc`` (both return an actual data element, no
    interpolation arithmetic), which makes this hash-checkable.

    The 100 TB path is the SAME operator with accuracy dialed down
    (fixed sketch memory per group regardless of cardinality); that
    sketch regime's 1%-agreement contract vs the exact twin is asserted
    in tests/test_llm_ops.py with accuracy=1000."""
    li = load(spark, sf_dir, "lineitem")
    pcts = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(1000000)
    )
    return li.groupBy("l_returnflag").agg(
        F.element_at(pcts, 1).alias("p50_approx"),
        F.element_at(pcts, 2).alias("p90_approx"),
        F.element_at(pcts, 3).alias("p99_approx"),
    )


@query("agg_sketch_mergeable", oracle=None)  # rows-only: sketch estimates
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL, built
    into Spark): one per-day sketch of user_id, then the global count
    from UNIONING the daily sketches — never re-touching the raw data.

    This is the 100 TB pre-aggregation pattern the plain
    approx_count_distinct can't express: sketch once at the finest
    grain, persist bytes, answer any coarser rollup (weekly, global,
    ad-hoc unions) by merging — each merge is bytes-sized, not
    data-sized.  Estimate accuracy and union-vs-direct agreement are
    asserted in tests/test_llm_ops.py.

    Driver sees (sf0.01): 31 rows; columns (scope, est_users).

    Rows-only (irreducibly): DataSketches HLL binary sketches + union —
    engine-specific representation. Union-vs-direct agreement and
    accuracy asserted in tests.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("scope"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("global").alias("scope"), "est_users")
    return per_day.unionByName(merged)


@query(
    "reshape_unpivot",
    oracle=f"""
    SELECT l_returnflag, measure, {sql_davg("val")} AS avg_val
    FROM (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    GROUP BY l_returnflag, measure
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape via ``DataFrame.unpivot`` (melt) + per-
    (group, measure) average — the metrics-matrix shape every profiler
    emits (reference analogue: one row per (source, metric) from the
    per-run stats dict).  unpivot is a zero-shuffle generator (each
    input row fans to 3 skinny rows map-side); the oracle spells it as
    the portable UNION ALL, which scans 3x — the API exists precisely
    to avoid that."""
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(davg("val").alias("avg_val"))


@query(
    "agg_mode_median",
    oracle="""
    WITH counted AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, l_quantity) AS rn
        FROM counted
    ),
    med AS (
        SELECT l_returnflag,
               round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6)
                   AS median_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.l_returnflag, r.l_quantity AS mode_qty, m.median_qty, m.n_rows
    FROM med m JOIN ranked r
      ON r.l_returnflag = m.l_returnflag AND r.rn = 1
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE + MEDIAN per group.  Built-in ``mode()`` is
    nondeterministic under ties in BOTH engines (hash order picks the
    winner), so the mode is spelled as count → row_number with an
    explicit (cnt DESC, value) tiebreak — same answer on any
    partitioning, any engine.  Median interpolates sorted doubles;
    rounded to 6 to absorb the engines' interpolation-arithmetic ulps.

    Scale: the counted CTE is a partial-aggregating groupBy (the heavy
    lift, map-side combined); the window then runs over GROUPS (distinct
    values), not rows — cardinality k per key, not n."""
    li = load(spark, sf_dir, "lineitem")
    counted = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity")
    )
    modes = (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("median_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return med.join(modes, on="l_returnflag").select(
        "l_returnflag", "mode_qty", "median_qty", "n_rows"
    )


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS INT) AS bin,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_value
    FROM orders
    GROUP BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values: bin = floor(price/50k),
    top bin clamped — the single-pass distribution profile every data
    audit starts with.  Binning is arithmetic on the grouping KEY, so
    it's free (no pre-pass to find ranges — bounds are schema knowledge);
    the aggregate partial-combines map-side into at most 10 groups, the
    cheapest shuffle shape there is.  Same float division + floor in
    both engines → identical bin assignment bit-for-bit."""
    o = load(spark, sf_dir, "orders")
    bin_col = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9)).cast("int")
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_value"),
        )
    )


@query("agg_sliding_sketch_union", oracle=None)  # rows-only: sketch estimates
def agg_sliding_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users from MERGEABLE daily sketches: one
    DataSketches HLL per day, then a window that UNIONS the last 7
    sketches per row — the raw events are touched exactly once no
    matter how many overlapping windows read the result.

    This is THE pre-aggregation pattern for distinct counts at 100 TB:
    exact sliding distinct must re-scan every event 7 times (one per window
    membership) or keep per-user state; sketch union works on ~1 KB
    day-summaries, so the window stage processes rows proportional to
    DAYS, not events.  Accuracy vs the exact recompute is asserted in
    tests (HLL lgK default → ~2% rsd).

    The global (partition-less) window — the "No Partition Defined"
    WARN — runs on the already-aggregated DAILY table: one sketch row
    per calendar day at any data scale, so the single-task sort is
    bounded by construction (same justification as win_moving_avg).

    Driver sees (sf0.01): 30 rows; columns (day, users_7d).

    Rows-only (irreducibly): window over DataSketches HLL sketches —
    engine-specific. 5% agreement vs exact sliding distinct asserted
    day-by-day in tests.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    return daily.select(
        "day",
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sk) OVER "
            "(ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))"
        ).alias("users_7d"),
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)))
                AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
               AS wavg_price,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the weighted
    mean every pricing/quality report needs but SQL has no builtin for:
    sum(w*x)/sum(w), both sums through exact decimal so the final
    double division is bit-stable at any partitioning (the same
    last-step-division discipline as analytics_promo_revenue)."""
    li = load(spark, sf_dir, "lineitem")
    wx = (F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)
    return li.groupBy("l_returnflag").agg(
        (F.sum(wx).cast("double") / F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
        .alias("wavg_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "agg_argmax_struct",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS best_orderkey,
           MAX(o_totalprice) AS best_price,
           arg_min(o_orderkey, o_totalprice) AS worst_orderkey
    FROM orders GROUP BY o_custkey
    """,
)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN per group (``max_by``/``min_by``): which order was
    each customer's most/least expensive — the per-entity
    representative-row selection that otherwise costs a window +
    row_number + filter (two passes); as an aggregate it is ONE hash-agg
    with map-side partials carrying a single (value, key) pair per
    group per task.

    Determinism caveat baked in: o_totalprice ties would make
    max_by/arg_max engine-arbitrary — the fixture's continuous prices
    have no per-customer ties (verified: max tie-group size is 1), so
    the hash is stable; on tie-prone data, break ties in the value
    (struct of (price, pk)) on BOTH engines."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("best_orderkey"),
        F.max("o_totalprice").alias("best_price"),
        F.min_by("o_orderkey", "o_totalprice").alias("worst_orderkey"),
    )


@query(
    "agg_regr_exact",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6)))
                    AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def agg_regr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend fit (slope / intercept / r²) of
    price on quantity — the regression verb behind every forecast
    report, computed EXACTLY: the five moment sums (Σx, Σy, Σxy, Σx²,
    Σy²) go through decimal so they are bit-identical at any
    partitioning, and the closed-form combination runs in a fixed
    double-expression order on both engines (the built-in regr_slope /
    corr aggregates are order-sensitive float reductions — the same
    reason agg_stats has to round to 2 digits while this rounds to 6).

    Scale shape: ONE hash aggregate with map-side partials carrying
    five decimals + a count per group — trend fitting at 100 TB costs
    exactly one scan, like any other sum."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# Fixed probe set for the count-min sketch query: frequent fixture
# tokens plus one absent token (its estimate exposes pure collision
# noise — the CMS overestimate-only guarantee).
_CMS_PROBES = (
    "join", "hash", "row", "scan", "filter", "window", "batch",
    "zz_absent_token",
)
_CMS_EPS = 0.0001
_CMS_CONF = 0.99
_CMS_SEED = 42


_SQL_CMS_PROBES = "[" + ", ".join(f"'{t}'" for t in _CMS_PROBES) + "]"


@query(
    "agg_countmin_mergeable",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    probes AS (SELECT unnest({_SQL_CMS_PROBES}) AS token),
    scopes AS (
        SELECT DISTINCT lang AS scope FROM documents
        UNION ALL SELECT 'merged'
    ),
    cnt AS (
        SELECT lang AS scope, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
        UNION ALL
        SELECT 'merged', token, COUNT(*) FROM tok GROUP BY 2
    )
    SELECT s.scope, p.token, COALESCE(c.c, 0) AS est_count
    FROM scopes s
    CROSS JOIN probes p
    LEFT JOIN cnt c ON c.scope = s.scope AND c.token = p.token
    """,
)
def agg_countmin_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE count-min frequency sketches — the point-frequency
    sibling of agg_sketch_mergeable's HLL distinct counts: one CMS per
    language via the ``count_min_sketch`` SQL aggregate (fixed-size
    binary regardless of token cardinality), merged DRIVER-SIDE into the
    global sketch (cells add exactly — merge is lossless), then probed
    for a fixed token set.  At 100 TB this is how per-shard term
    frequencies become corpus-wide ones without re-touching raw data:
    sketch at the finest grain, persist bytes, answer any coarser scope
    by merging.

    The per-lang blobs collected to the driver are MODEL STATE (5 rows
    of ~100 KB — the agg_sketch_mergeable/kmeans pattern), not data; the
    token explode aggregates map-side into the sketch buffers.
    Determinism: the seed fixes the hash family and merge is cell-wise
    addition, so estimates are identical at any partitioning.

    ORACLE-CHECKED (upgraded from rows-only in round 4): with
    eps=1e-4 the sketch width (~27k cells) vastly exceeds the closed
    31-token fixture vocabulary, so no hash collisions occur and
    every estimate equals the exact count — verified against DuckDB
    at sf0.001/0.01/0.1 before the upgrade, and deterministic forever
    because the seed and fixtures are fixed.  Open-vocabulary corpora
    fall back to the one-sided guarantees (est >= exact, est <=
    exact + eps*N at the configured confidence), still asserted in
    tests/test_llm_ops.py."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    per_lang = tok.groupBy("lang").agg(
        F.count_min_sketch(
            "token", F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED)
        ).alias("sk")
    )
    blobs = {r["lang"]: bytes(r["sk"]) for r in per_lang.collect()}

    jvm = spark.sparkContext._jvm
    cms_cls = jvm.org.apache.spark.util.sketch.CountMinSketch
    sketches = {lang: cms_cls.readFrom(blob) for lang, blob in blobs.items()}
    merged = None
    for lang in sorted(sketches):
        sk = cms_cls.readFrom(blobs[lang])
        merged = sk if merged is None else merged.mergeInPlace(sk)

    rows = []
    for lang in sorted(sketches):
        for t in _CMS_PROBES:
            rows.append((lang, t, sketches[lang].estimateCount(t)))
    for t in _CMS_PROBES:
        rows.append(("merged", t, merged.estimateCount(t)))
    return spark.createDataFrame(
        rows, "scope string, token string, est_count long"
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type AS scope, COUNT(DISTINCT user_id) AS exact_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'global' AS scope, COUNT(DISTINCT user_id) AS exact_users
    FROM events
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via Spark's bitmap aggregates —
    the lossless member of the sketch family (HLL ~ approx distinct,
    CMS ~ point frequency, bitmap ~ exact distinct over integer keys):
    bitmap_bucket_number buckets user_id into 32768-id blocks, one
    bitmap_construct_agg per (event_type, bucket) builds a fixed 4 KB
    partial, and every rollup is then byte-level: per-type counts sum
    bitmap_count over buckets; the global count ORs the per-type
    bitmaps (bitmap_or_agg) per bucket FIRST — dedup across types
    happens in the bitmap domain, never re-touching raw events.

    At 100 TB: persist the (scope, bucket, bitmap) partials at ingest;
    any coarser scope (day->week, type->global, ad-hoc unions) is an
    OR + popcount over 4 KB blobs.  Unlike HLL this is exact, at the
    cost of requiring integer keys with bounded range per bucket —
    the id-shaped half of real telemetry.  The bucket fan-out keeps
    any single bitmap bounded regardless of id range, so no hot key.

    Plan shape: GROUPING SETS ((event_type, bucket), (bucket)) builds
    BOTH grains in one aggregation pass — the (bucket)-only set IS the
    cross-type OR, because constructing a bitmap over all of a
    bucket's positions equals OR-ing the per-type bitmaps — so the
    partials subtree is never duplicated (3 shuffles total, vs 5 for
    the naive two-branch plan that re-aggregates the scan).  The
    oracle is plain COUNT(DISTINCT) — exactness, not an estimate, is
    the contract."""
    ev = load(spark, sf_dir, "events")
    partials = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupingSets(
            [["event_type", "bucket"], ["bucket"]], "event_type", "bucket"
        )
        .agg(
            F.bitmap_construct_agg("pos").alias("bm"),
            F.grouping("event_type").alias("gid"),
        )
    )
    per_type = (
        partials.filter(F.col("gid") == 0)
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("exact_users"))
        .select(F.col("event_type").alias("scope"), "exact_users")
    )
    global_ = (
        partials.filter(F.col("gid") == 1)
        .agg(F.sum(F.bitmap_count("bm")).alias("exact_users"))
        .select(F.lit("global").alias("scope"), "exact_users")
    )
    return per_type.unionByName(global_)


# Static segment dictionary for agg_bitmap_overlap (the fixture's full
# event_type domain at every sf — the _CMS_PROBES pattern): a domain
# CONSTANT, so pair generation never re-scans events for a type list.
_OVERLAP_TYPES = ("click", "error", "purchase", "signup", "view")
_SQL_TYPE_LIST = "[" + ", ".join(f"'{t}'" for t in _OVERLAP_TYPES) + "]"


@query(
    "agg_bitmap_overlap",
    oracle=f"""
    WITH types(t) AS (
        SELECT unnest({_SQL_TYPE_LIST})
    ),
    pairs AS (
        SELECT a.t AS type_a, b.t AS type_b
        FROM types a JOIN types b ON a.t < b.t
    )
    SELECT p.type_a, p.type_b,
           (SELECT COUNT(DISTINCT e.user_id) FROM events e
            WHERE e.event_type = p.type_a
              AND e.user_id IN (SELECT user_id FROM events
                                WHERE event_type = p.type_b))
               AS overlap_users
    FROM pairs p
    """,
)
def agg_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience overlap between every event-type pair — the
    segment-intersection question (|viewers ∩ purchasers|) HLL sketches
    cannot answer (they union but never intersect) and naive SQL
    answers with a per-pair self-join of raw events.  The bitmap
    partials answer it by INCLUSION-EXCLUSION per id-bucket:
    |A ∩ B|_bucket = |A|_b + |B|_b - |A ∪ B|_b, where the union count
    comes from bitmap_or_agg over the pair's tagged partials; summing
    over buckets gives the exact global overlap because buckets
    partition the id space.

    Plan shape: ONE aggregation of events into (event_type, bucket)
    bitmaps; the tiny type-pair dim (T(T-1)/2 rows) broadcasts onto
    the partials, and all three counts per (pair, bucket) — |A|, |B|,
    |A∪B| — come out of a SINGLE downstream aggregate over the same
    subtree, so events is scanned once (the round-4 single-scan
    discipline, no cache needed: one consumer tree).  At 100 TB the
    pair stage works on days x buckets blob rows, never raw events;
    the oracle recomputes each overlap data-sized with
    COUNT(DISTINCT) + IN."""
    ev = load(spark, sf_dir, "events")
    partials = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .withColumn("cnt", F.bitmap_count("bm"))
    )
    from itertools import combinations

    pairs = spark.createDataFrame(
        list(combinations(_OVERLAP_TYPES, 2)), "type_a string, type_b string"
    )
    tagged = partials.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    per_bucket = tagged.groupBy("type_a", "type_b", "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("u"),
        F.sum(F.when(F.col("event_type") == F.col("type_a"), F.col("cnt"))).alias("ca"),
        F.sum(F.when(F.col("event_type") == F.col("type_b"), F.col("cnt"))).alias("cb"),
    )
    return per_bucket.groupBy("type_a", "type_b").agg(
        (
            F.sum(F.coalesce("ca", F.lit(0)))
            + F.sum(F.coalesce("cb", F.lit(0)))
            - F.sum("u")
        ).alias("overlap_users")
    )


@query(
    "agg_approx_topk_mergeable",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    per_lang AS (
        SELECT lang AS scope, token, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY lang) AS tot
        FROM tok GROUP BY lang, token
    ),
    merged AS (
        SELECT 'merged' AS scope, token, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER () AS tot
        FROM tok GROUP BY token
    )
    SELECT scope, token, cnt FROM per_lang WHERE cnt * 100 >= tot
    UNION ALL
    SELECT scope, token, cnt FROM merged WHERE cnt * 100 >= tot
    """,
)
def agg_approx_topk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE heavy-hitters sketches (DataSketches frequent-items via
    Spark's approx_top_k_accumulate / _combine / _estimate) — the
    top-k member that completes the sketch family (HLL distinct, CMS
    point frequency, bitmap exact distinct): one sketch per language,
    combined into the corpus-wide sketch WITHOUT re-touching tokens,
    both estimated and filtered to items holding >= 1% of their scope
    (an integer-exact share test: cnt*100 >= total, no float).

    Why this sketch query IS hash-checkable against an exact oracle
    (unlike the HLL/CMS rows-only siblings): with maxItemsTracked
    (default 10000) >= the vocabulary, the frequent-items sketch
    degrades to an exact counter and combine adds exactly — the
    fixture's closed 31-token vocabulary guarantees it at every sf.
    At open-vocabulary scale the same plan returns approximations
    with one-sided error bounds; the 1%-share cut is then the
    guaranteed-coverage regime (any item above eps x N survives).
    Scale shape: explode aggregates map-side into per-lang sketch
    buffers (bytes per scope, not per token); the merge is one
    sketch-sized reduce."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    per_lang = tok.groupBy("lang").agg(
        F.expr("approx_top_k_accumulate(token, 128)").alias("sk")
    )
    merged = per_lang.agg(F.expr("approx_top_k_combine(sk)").alias("sk")).select(
        F.lit("merged").alias("scope"),
        F.expr("approx_top_k_estimate(sk, 128)").alias("e"),
    )
    est = per_lang.select(
        F.col("lang").alias("scope"),
        F.expr("approx_top_k_estimate(sk, 128)").alias("e"),
    ).unionByName(merged)
    tot = F.aggregate(
        F.transform("e", lambda x: x["count"]), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        est.select("scope", tot.alias("tot"), F.explode("e").alias("x"))
        .select("scope", F.col("x.item").alias("token"), F.col("x.count").alias("cnt"), "tot")
        .filter(F.col("cnt") * 100 >= F.col("tot"))
        .drop("tot")
    )


@query(
    "reshape_transpose",
    oracle=f"""
    WITH m AS (
        SELECT r.r_name,
               CAST(COUNT(*) AS DOUBLE) AS n_customers,
               {sql_dsum("c.c_acctbal")} AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    SELECT 'n_customers' AS key,
           MAX(CASE WHEN r_name = 'AFRICA' THEN n_customers END) AS "AFRICA",
           MAX(CASE WHEN r_name = 'AMERICA' THEN n_customers END) AS "AMERICA",
           MAX(CASE WHEN r_name = 'ASIA' THEN n_customers END) AS "ASIA",
           MAX(CASE WHEN r_name = 'EUROPE' THEN n_customers END) AS "EUROPE",
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_customers END)
               AS "MIDDLE EAST"
    FROM m
    UNION ALL
    SELECT 'total_acctbal',
           MAX(CASE WHEN r_name = 'AFRICA' THEN total_acctbal END),
           MAX(CASE WHEN r_name = 'AMERICA' THEN total_acctbal END),
           MAX(CASE WHEN r_name = 'ASIA' THEN total_acctbal END),
           MAX(CASE WHEN r_name = 'EUROPE' THEN total_acctbal END),
           MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN total_acctbal END)
    FROM m
    """,
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide axis swap via ``DataFrame.transpose`` (Spark 4):
    rows become columns keyed by the index column's VALUES — the
    report-matrix shape (metrics as rows, one column per region) that
    ``pivot`` can't produce without a second reshape.  transpose is a
    driver-side flip of a SMALL aggregate (it must enumerate index
    values to name columns — Spark collects the frame), so the 100 TB
    rule is: aggregate FIRST (5 regions here, bounded at any scale),
    transpose the result; transposing a fact table is as wrong as
    collect()ing one.  Both metric columns are cast to double before
    the flip — transpose requires a least-common value type across the
    matrix.  The oracle spells the flip as the portable conditional-
    aggregation UNION ALL over the same aggregate CTE."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_region = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("r_name")
    )
    return per_region.transpose()


_HIST_BIN_W = 1000  # price bin width; estimate error bound = +/- one bin


@query(
    "agg_histogram_quantile",
    oracle=f"""
    WITH h AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice / {_HIST_BIN_W}) AS BIGINT) AS bin,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, bin, n,
               SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
               SUM(n) OVER (PARTITION BY l_returnflag) AS total
        FROM h
    ),
    p AS (SELECT unnest([50, 90, 99]) AS p)
    SELECT l_returnflag, p.p,
           MIN(bin) * {_HIST_BIN_W} AS bin_lo,
           CAST(MIN(bin) * {_HIST_BIN_W} + {_HIST_BIN_W} AS BIGINT) AS bin_hi,
           CAST(MIN(total) AS BIGINT) AS n_rows
    FROM c CROSS JOIN p
    WHERE cum * 100 >= p.p * total
    GROUP BY l_returnflag, p.p
    """,
)
def agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantiles via fixed-width histogram bins — the
    deterministic, hash-checkable member of the sketch family (the
    bitmap-distinct argument applied to percentiles): per-(group, bin)
    counts are the partial state (map-side combine collapses each
    partition to at most |bins| rows; partials from any split ADD), and
    the quantile walk runs over the BIN table — bounded by value-range /
    bin-width, here ~105 rows per group — never over the data.  Exact
    percentile (agg_quantiles) sorts each group; approx_percentile keeps
    an opaque sketch the oracle can't replay; this one trades a fixed
    +/-one-bin error bound ({_HIST_BIN_W} price units) for bit-exact
    mergeability, which is why the 100 TB rollup architecture (partials
    table -> any-window re-aggregation) can hash-check it.  Emits the
    [bin_lo, bin_hi) bracket of p50/p90/p99 per returnflag; the DISCRETE
    quantile (the rank-ceil(n*p/100) order statistic) provably lands
    inside — asserted in tests (note: the INTERPOLATED quantile_cont can
    straddle a bin edge when the two straddling order statistics fall in
    different bins, so the contract is on the order statistic).
    All-integer arithmetic: the
    rank threshold ceil(total*p/100) is compared as cum*100 >= p*total,
    so no float division anywhere."""
    li = load(spark, sf_dir, "lineitem")
    h = (
        li.groupBy(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") / _HIST_BIN_W)
            .cast("long")
            .alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wb = Window.partitionBy("l_returnflag").orderBy("bin")
    wt = Window.partitionBy("l_returnflag")
    c = h.select(
        "l_returnflag",
        "bin",
        F.sum("n").over(wb).alias("cum"),
        F.sum("n").over(wt).alias("total"),
    )
    ps = F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p")
    return (
        c.select("l_returnflag", "bin", "cum", "total", ps)
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("total"))
        .groupBy("l_returnflag", "p")
        .agg(
            (F.min("bin") * _HIST_BIN_W).alias("bin_lo"),
            (F.min("bin") * _HIST_BIN_W + _HIST_BIN_W)
            .cast("long")
            .alias("bin_hi"),
            F.min("total").alias("n_rows"),
        )
    )


@query(
    "agg_mode_exact",
    oracle="""
    SELECT user_id, event_type AS mode_event, n FROM (
        SELECT user_id, event_type, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a deterministic tie-break — the modal
    event_type per user (most-frequent-value summaries; built-in
    ``mode()`` on both engines breaks ties arbitrarily, so neither is
    hash-checkable as-is).  Spark side: count per (user, type), then ONE
    hash aggregate taking min(struct(-n, type)) — (-n, type) ascending
    is (count desc, type asc), the argmin-by-struct idiom the PQ /
    SemDeDup training paths use — so the mode costs two exchanges and no
    window sort.  The oracle states the same semantics as a rank-1
    window, which DuckDB plans efficiently; the struct-argmin is the
    shape that scales on Spark (no per-group sort, partial aggregation
    on both stages)."""
    ev = load(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = counted.groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"),
                F.col("event_type").alias("event_type"),
            )
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.event_type").alias("mode_event"),
        (-F.col("b.neg_n")).alias("n"),
    )


@query(
    "agg_mad_anomaly",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    r AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ),
    m AS (
        SELECT event_type, MIN(n) AS n,
               SUM(cents * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
                            + CASE WHEN rn = n // 2 + 1 THEN 1 ELSE 0 END)) AS m2
        FROM r GROUP BY event_type
    ),
    d AS (
        SELECT r.event_type, ABS(2 * r.cents - m.m2) AS dev2, m.m2, m.n
        FROM r JOIN m ON r.event_type = m.event_type
    ),
    dr AS (
        SELECT event_type, dev2, m2, n,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev2) AS rn
        FROM d
    ),
    md AS (
        SELECT event_type, MIN(m2) AS m2, MIN(n) AS n,
               SUM(dev2 * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
                           + CASE WHEN rn = n // 2 + 1 THEN 1 ELSE 0 END)) AS md2
        FROM dr GROUP BY event_type
    )
    SELECT d.event_type,
           MIN(d.n) AS n,
           CAST(MIN(d.m2) * 5000 AS BIGINT) AS median_micro,
           CAST(MIN(md.md2) * 2500 AS BIGINT) AS mad_micro,
           CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * md.md2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies
    FROM d JOIN md ON d.event_type = md.event_type
    GROUP BY d.event_type
    """,
)
def agg_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST anomaly detection: median / MAD (median absolute
    deviation) / outliers-beyond-3-MAD per event type — the
    outlier-resistant twin of win_anomaly_zscore (one wild value drags a
    mean and explodes a stddev; it moves a median by at most one rank).

    EXACT and hash-checkable, with no interpolation anywhere: values are
    2-decimal by construction, so everything runs in integer cents, and
    each median is carried as the SUM OF THE TWO MIDDLE ORDER STATISTICS
    (x2 the median — for odd n the middle row is counted twice), which
    keeps even-n medians integral where quantile interpolation would
    produce engine-unstable halves.  The anomaly gate |x - med| > 3*MAD
    becomes 2*dev2 > 3*md2 — all-integer, no rounding boundary to
    disagree on.  Output units: micro-value (median_micro = m2 * 5000,
    mad_micro = md2 * 2500).

    Scale: exact medians cost one per-group sort each (two ranked passes
    here) — the honest exact path, same budget class as agg_quantiles;
    the sketch path at unbounded cardinality is agg_histogram_quantile /
    agg_approx_percentile.  At 100 TB run this per bounded group (event
    types, days), never per user."""
    ev = load(spark, sf_dir, "events")
    cents = round_long(F.col("value") * 100)
    c = ev.select("event_type", cents.alias("cents"))

    def med2(df: DataFrame, col: str, keep: list[str]) -> DataFrame:
        """per-group (2 x median) of `col` via the two middle ranks."""
        wr = Window.partitionBy("event_type").orderBy(col)
        wn = Window.partitionBy("event_type")
        r = df.select(
            "event_type",
            *keep,
            F.col(col),
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        lo = F.expr("(n + 1) div 2")
        hi = F.expr("n div 2 + 1")
        pick = F.when(F.col("rn") == lo, 1).otherwise(0) + F.when(
            F.col("rn") == hi, 1
        ).otherwise(0)
        return r.groupBy("event_type").agg(
            F.min("n").alias("n"),
            F.sum(F.col(col) * pick).alias(f"{col}_m2"),
        )

    m = med2(c, "cents", [])
    d = c.join(F.broadcast(m), "event_type").select(
        "event_type",
        "n",
        F.col("cents_m2").alias("m2"),
        F.abs(2 * F.col("cents") - F.col("cents_m2")).alias("dev2"),
    )
    md = med2(d.select("event_type", "dev2"), "dev2", [])
    return (
        d.join(F.broadcast(md.select("event_type", "dev2_m2")), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            (F.min("m2") * 5000).alias("median_micro"),
            (F.min("dev2_m2") * 2500).alias("mad_micro"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("dev2_m2"), 1).otherwise(0)
            ).alias("n_anomalies"),
        )
    )


# agg_decay_weighted's oracle, also stream_decay_weighted's: the
# streaming query's final snapshot equals the batch aggregate.
_DECAY_WEIGHTED_SQL = f"""
    WITH anchor AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value * pow(0.5, floor((anchor.max_us - epoch_us(ts))"
                     " / 604800000000))")} AS decayed_value,
           {sql_dsum("pow(0.5, floor((anchor.max_us - epoch_us(ts))"
                     " / 604800000000))")} AS decayed_count
    FROM events CROSS JOIN anchor
    GROUP BY user_id
    """


@query(
    "agg_decay_weighted",
    oracle=_DECAY_WEIGHTED_SQL,
)
def agg_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay-weighted per-user aggregates — the feature-store /
    data-sampling primitive: each event's value counts at
    ``0.5 ** age_weeks`` relative to the newest event in the corpus
    (half-life = 7 days, week-grain), so recent behaviour dominates and
    stale history fades without ever being dropped.  Exactly the
    recency weighting a training-data mixture uses to up-sample fresh
    crawl snapshots.

    Determinism: the age exponent is an INTEGER week count (floor over
    exact microsecond arithmetic), so ``pow(0.5, k)`` is an exact power
    of two in both engines — no libm ulp risk — and the weighted sums go
    through the decimal-exact reduction (``dsum``).  Plan: the anchor
    timestamp is a 1-row broadcast (never a driver collect), the rest is
    one map-side-combinable groupBy; map-only before the single
    shuffle — the same shape at any corpus size."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    age_weeks = F.floor(
        (F.col("max_us") - F.unix_micros("ts")) / F.lit(604800000000)
    )
    w = F.pow(F.lit(0.5), age_weeks)
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * w).alias("decayed_value"),
            dsum(w).alias("decayed_count"),
        )
    )


@query(
    "sql_pivot_clause",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)
               AS st_o_n,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}
               AS st_o_total,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
               AS st_f_n,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}
               AS st_f_total,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT)
               AS st_p_n,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}
               AS st_p_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``PIVOT`` clause (Spark SQL surface, vs agg_pivot's
    DataFrame ``.pivot()``) — multi-aggregate pivot with aliased pivot
    values, the report spelling analysts actually write.  The oracle is
    the equivalent conditional aggregation, proving the clause is pure
    sugar over one grouped scan: Catalyst plans the same single
    partial+final aggregate either way, with NO per-value re-scan —
    which is exactly why an explicit IN list is required (the engine
    must know the output schema without a discovery pass; at 100 TB the
    two-pass "dynamic pivot" alternative costs a full extra scan).
    Counts are integers; sums ride the decimal-exact reduction."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("pivot_orders")
    return spark.sql(
        """
        SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus, o_totalprice
            FROM pivot_orders
        )
        PIVOT (
            COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
            FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p)
        )
        """
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    ranked AS (
        SELECT flag, price_c, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY price_c
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM cents
    )
    SELECT flag,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN price_c END) AS BIGINT)
               AS wmedian_cents,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM ranked GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per return flag — "the
    typical price a unit actually sold at", which the unweighted median
    misstates whenever cheap items ship in bulk.  Lower weighted
    median: the smallest price whose cumulative weight reaches half the
    total (2·cumw >= tw in integers — no halves, no interpolation).

    ALL-INTEGER: prices in cents (the agg_mad_anomaly idiom), weights
    are integral quantities, the crossing test is an integer
    comparison — the hash compare is exact by construction.  Cost class:
    exact-median (one per-group ranked pass — a sort per group, the
    documented agg_mad budget class); at unbounded group cardinality
    use the mergeable histogram bracket (agg_histogram_quantile) with
    weight-summed bins instead.  Ties in price collapse into one
    cumulative step regardless of row order, so the window needs no
    row-level tiebreaker."""
    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("flag"),
        round_long(F.col("l_extendedprice") * 100).alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    wrun = (
        Window.partitionBy("flag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cents.select(
        "flag",
        "price_c",
        F.sum("w").over(wrun).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return ranked.groupBy("flag").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_c"))
        ).alias("wmedian_cents"),
        F.max("tw").cast("long").alias("total_weight"),
    )


@query(
    "agg_entropy_by_group",
    oracle=f"""
    WITH mix AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM mix GROUP BY user_id
    )
    SELECT mix.user_id, MAX(tot.n) AS n_events, MAX(tot.n_types) AS n_types,
           CAST(floor(1000000.0 * CAST(SUM(CAST(
                    -(CAST(mix.c AS DOUBLE) / tot.n)
                        * ln(CAST(mix.c AS DOUBLE) / tot.n)
                    AS DECIMAL(28,6))) AS DOUBLE) + 0.5) AS BIGINT)
               AS entropy_micro
    FROM mix JOIN tot USING (user_id)
    GROUP BY mix.user_id
    """,
)
def agg_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity score bot/abuse detection runs first: scripted accounts
    concentrate on one action (entropy → 0) while organic users spread
    across the catalog (entropy → ln k); the same statistic scores a
    training-data source's genre mix.

    Determinism: counts are exact integers, each −p·ln p term is
    per-row IEEE arithmetic with identical shape on both engines (the
    text_perplexity_proxy ln discipline), the per-user reduction rides
    the decimal-exact sum, and the result quantizes to micro units.
    Two map-side-combinable aggregates + one (user_id)-keyed join that
    reuses the mix partitioning — no window, no explode."""
    ev = load(spark, sf_dir, "events")
    mix = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = mix.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("n")
    term = (-p * F.log(p)).cast("decimal(28,6)")
    return (
        mix.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max("n_types").cast("long").alias("n_types"),
            round_long(F.lit(1000000.0) * F.sum(term).cast("double"))
            .alias("entropy_micro"),
        )
    )


def _central_moments() -> tuple[Column, list[Column]]:
    """The mean ``mu`` and the population central moments ``m2, m3, m4``
    (aliased) over exact integer power sums ``n, s1..s4``, by the
    closed-form raw->central identities in one IEEE chain per engine."""
    mu = F.col("s1").cast("double") / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    r3 = F.col("s3").cast("double") / F.col("n")
    r4 = F.col("s4").cast("double") / F.col("n")
    return mu, [
        (r2 - mu * mu).alias("m2"),
        (r3 - F.lit(3) * mu * r2 + F.lit(2) * mu * mu * mu).alias("m3"),
        (
            r4
            - F.lit(4) * mu * r3
            + F.lit(6) * mu * mu * r2
            - F.lit(3) * mu * mu * mu * mu
        ).alias("m4"),
    ]


# The SQL twin of _central_moments: the m2, m3, m4 select items over
# the power sums n, s1..s4.
_CENTRAL_MOMENTS_SQL = """CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m2,
               CAST(s3 AS DOUBLE) / n
                   - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                   + 2 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                   - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                   + 6 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s2 AS DOUBLE) / n)
                   - 3 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m4"""


@query(
    "agg_moments_exact",
    oracle=f"""
    WITH sums AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s1,
               CAST(SUM(q * q) AS BIGINT) AS s2,
               CAST(SUM(q * q * q) AS BIGINT) AS s3,
               CAST(SUM(q * q * q * q) AS BIGINT) AS s4
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
              FROM lineitem)
        GROUP BY l_returnflag
    ),
    mom AS (
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               {_CENTRAL_MOMENTS_SQL}
        FROM sums
    )
    SELECT l_returnflag, n,
           CAST(floor(1000000.0 * mu + 0.5) AS BIGINT) AS mean_micro,
           CAST(floor(1000000.0 * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                      + 0.5) AS BIGINT) AS skew_micro,
           CAST(floor(1000000.0 * (m4 / (m2 * m2) - 3) + 0.5) AS BIGINT)
               AS kurt_micro
    FROM mom WHERE m2 > 0
    """,
)
def agg_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per returnflag from EXACT integer
    power sums — the mergeable-moments pattern for distribution-shape
    monitoring at scale: built-in ``skewness``/``kurtosis`` are
    streaming double reductions whose update order differs per engine
    (and per partitioning!), so they can never hash-match; summing the
    integer powers q, q^2, q^3, q^4 as BIGINTs instead is exact,
    associative, and partitioning-invariant (q <= 50 so s4 <= 6.25e6 *
    rows — int64-safe far past 100 TB per group when sharded), and the
    central moments fall out of the closed-form raw->central identities
    in one identical IEEE chain per engine, micro-quantized.

    This is the partials-table architecture again: per-shard (group,
    n, s1..s4) rows ADD, so shape metrics for any rollup come from
    merging five integers — never re-touching data.  Population (not
    sample-corrected) moments, stated in the column names' contract:
    skew = m3/m2^1.5, excess kurtosis = m4/m2^2 - 3."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    sums = li.select("l_returnflag", q.alias("q")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    mu, moments = _central_moments()
    mom = sums.select("l_returnflag", "n", mu.alias("mu"), *moments)
    return mom.filter(F.col("m2") > 0).select(
        "l_returnflag",
        "n",
        round_long(F.lit(1000000.0) * F.col("mu")).alias("mean_micro"),
        round_long(
            F.lit(1000000.0)
            * (F.col("m3") / (F.sqrt("m2") * F.sqrt("m2") * F.sqrt("m2")))
        ).alias("skew_micro"),
        round_long(
            F.lit(1000000.0) * (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3))
        ).alias("kurt_micro"),
    )


@query(
    "agg_winsorized_mean",
    oracle="""
    WITH bounds AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(
               CASE WHEN l.l_extendedprice < b.lo THEN b.lo
                    WHEN l.l_extendedprice > b.hi THEN b.hi
                    ELSE l.l_extendedprice END AS DECIMAL(28,6)))
               AS DOUBLE) / COUNT(*) AS wins_mean
    FROM lineitem l JOIN bounds b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95%) of price per returnflag — the robust
    level estimate that survives fat tails by CLAMPING outliers to the
    percentile bounds instead of dropping them (the trimmed mean's
    sibling that keeps n constant).

    Two passes by construction: exact percentile bounds per group
    (Spark percentile == DuckDB quantile_cont, the agg_quantiles
    precedent), broadcast back, then a map-only clamp into the
    decimal-exact mean (clamped values are either raw prices or the
    SAME interpolated bound double on both engines, so the decimal sum
    is bit-stable).  At 100 TB swap pass one for the mergeable
    histogram bracket (agg_histogram_quantile) and keep pass two
    unchanged."""
    li = load(spark, sf_dir, "lineitem")
    # one shared percentile buffer for both bounds (the agg_quantiles
    # r11 single-buffer rewrite; identical interpolation per target)
    bounds = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("ps")
        )
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("lo"),
            F.col("ps")[1].alias("hi"),
        )
    )
    j = li.join(F.broadcast(bounds), "l_returnflag")
    clamped = (
        F.when(F.col("l_extendedprice") < F.col("lo"), F.col("lo"))
        .when(F.col("l_extendedprice") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("l_extendedprice"))
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(clamped.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "wins_mean"
        ),
    )


@query(
    "sql_group_by_all",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``GROUP BY ALL`` SQL surface — group by every
    non-aggregate select item without restating the list (the
    DuckDB-popularized ergonomics that analysts now expect; the oracle
    spells the explicit column list, proving ALL is pure sugar:
    Catalyst resolves it at analysis time to the identical
    partial+final hash aggregate, so there is NO runtime cost and NO
    plan difference at any scale).  Counts are integers; the sum rides
    the decimal-exact reduction."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("gba_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS total_price
        FROM gba_orders
        GROUP BY ALL
        """
    )


@query(
    "agg_percentile_cont_exact",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority AS prio,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders
    ),
    ranked AS (
        SELECT prio, c,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY c) AS rn
        FROM cents
    ),
    stats AS (
        SELECT prio, CAST(COUNT(*) AS BIGINT) AS n
        FROM cents GROUP BY prio
    ),
    targets AS (
        SELECT s.prio, s.n, u.q,
               CAST(floor(u.q * (s.n - 1)) + 1 AS BIGINT) AS lo_rn,
               least(CAST(floor(u.q * (s.n - 1)) + 2 AS BIGINT), s.n)
                   AS hi_rn,
               u.q * (s.n - 1) - floor(u.q * (s.n - 1)) AS frac
        FROM stats s
        CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q) u
    )
    SELECT t.prio, CAST(t.q * 100 AS BIGINT) AS q_pct, t.n,
           CAST(floor(1000000.0
                * (MAX(CASE WHEN r.rn = t.lo_rn THEN r.c END)
                       * (1.0 - t.frac)
                   + MAX(CASE WHEN r.rn = t.hi_rn THEN r.c END) * t.frac)
                / 100.0 + 0.5) AS BIGINT) AS pctl_micro
    FROM targets t
    JOIN ranked r ON r.prio = t.prio AND r.rn IN (t.lo_rn, t.hi_rn)
    GROUP BY t.prio, t.q, t.n, t.frac
    """,
)
def agg_percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT (linear interpolation between closest
    ranks) at 25/50/75/95 over order totals per priority — the
    interpolated companion to agg_quantiles' discrete percentiles, and
    the SQL-standard definition spelled out: pos = q*(n-1),
    v = x[floor(pos)]*(1-frac) + x[floor(pos)+1]*frac.

    Built-in percentile implementations stream doubles in
    partition-dependent order and differ across engines at the last
    ulp; HERE the value selection is purely POSITIONAL over exact
    integer cents (two rows per (group, q) fetched by rank), the lerp
    is one identical IEEE expression per engine, and the result is
    micro-quantized — dollars out, so the cents scale divides away.

    Scale: one rank window per group + a 4-row-per-group broadcast of
    targets; the rank-row fetch is a semi-join on (group, rn) — at
    100 TB the window is the only corpus-sized stage (same cost class
    as agg_quantiles)."""
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("prio"),
        round_long(F.col("o_totalprice") * 100).alias("c"),
    )
    w = Window.partitionBy("prio").orderBy("c")
    ranked = cents.withColumn("rn", F.row_number().over(w))
    stats = cents.groupBy("prio").agg(F.count(F.lit(1)).cast("long").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95))).alias("q")
    )
    pos = F.col("q") * (F.col("n") - 1)
    targets = stats.crossJoin(F.broadcast(qs)).select(
        "prio",
        "n",
        "q",
        (F.floor(pos) + 1).cast("long").alias("lo_rn"),
        F.least((F.floor(pos) + 2).cast("long"), F.col("n")).alias("hi_rn"),
        (pos - F.floor(pos)).alias("frac"),
    )
    j = targets.alias("t").join(
        ranked.alias("r"),
        (F.col("r.prio") == F.col("t.prio"))
        & ((F.col("r.rn") == F.col("t.lo_rn")) | (F.col("r.rn") == F.col("t.hi_rn"))),
    )
    v = (
        F.max(F.when(F.col("r.rn") == F.col("t.lo_rn"), F.col("r.c")))
        * (F.lit(1.0) - F.col("t.frac"))
        + F.max(F.when(F.col("r.rn") == F.col("t.hi_rn"), F.col("r.c")))
        * F.col("t.frac")
    )
    return (
        j.groupBy(
            F.col("t.prio").alias("prio"),
            F.col("t.q").alias("q"),
            F.col("t.n").alias("n"),
            F.col("t.frac").alias("frac"),
        )
        .agg(
            round_long(F.lit(1000000.0) * v / F.lit(100.0)).alias("pctl_micro")
        )
        .select(
            "prio",
            (F.col("q") * 100).cast("long").alias("q_pct"),
            "n",
            "pctl_micro",
        )
    )


@query(
    "agg_benford_deviation",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
    SELECT o.d AS digit, o.n,
           CAST(floor(1000000.0 * log10(1.0 + 1.0 / o.d) + 0.5) AS BIGINT)
               AS expected_micro,
           CAST(floor(1000000.0 * o.n / t.t + 0.5) AS BIGINT)
               AS observed_micro,
           CAST(floor(1000000.0
                * (CAST(o.n AS DOUBLE) / t.t - log10(1.0 + 1.0 / o.d))
                + 0.5) AS BIGINT) AS deviation_micro
    FROM obs o CROSS JOIN tot t
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen (Benford 1938; Nigrini's forensic
    accounting standard): naturally-occurring amounts put ~30.1% of
    leading digits at 1, so a flat or spiky observed distribution
    flags synthetic or tampered values.  Emits per digit the observed
    count/share, the Benford expectation log10(1 + 1/d), and the
    signed deviation.

    Determinism: the leading digit comes from INTEGER string
    arithmetic (floor to BIGINT, first character — no float log to
    extract the digit); log10 runs on the nine constant ratios only,
    identically on both engines; shares are single quantized
    divisions.

    Scale: one map-side digit projection + a 9-row aggregate with
    map-side combine; the grand total broadcasts back.  At 100 TB
    this is scan-bandwidth bound, like every profiling op."""
    o = load(spark, sf_dir, "orders")
    d = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("d")
        )
    )
    obs = d.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("t"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        "n",
        round_long(F.lit(1000000.0) * expected).alias("expected_micro"),
        round_long(F.lit(1000000.0) * (F.col("n") / F.col("t"))).alias(
            "observed_micro"
        ),
        round_long(
            F.lit(1000000.0) * (F.col("n").cast("double") / F.col("t") - expected)
        ).alias("deviation_micro"),
    )


@query(
    "sql_window_named_clause",
    oracle="""
    SELECT o_custkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS order_seq,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)
               AS n_orders,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    """,
)
def sql_window_named_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``WINDOW`` clause — one NAMED window spec shared by
    several window functions (the analyst spelling that keeps a
    5-function report from restating the same PARTITION/ORDER five
    times).  The oracle inlines the specs, proving the named form is
    analysis-time sugar: Catalyst resolves both to the SAME Window
    nodes over one exchange, and functions with compatible frames
    fuse exactly as their inline twins do (the shared-frame doctrine).
    Ordering tie-breaks on o_orderkey so row_number is deterministic."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("wc_orders")
    return spark.sql(
        """
        SELECT o_custkey,
               ROW_NUMBER() OVER w AS order_seq,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
        FROM wc_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT o_orderpriority,
           string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT * FROM orders WHERE o_orderkey % 97 = 0
    ) GROUP BY o_orderpriority
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``listagg(... ) WITHIN GROUP (ORDER BY ...)`` — the
    SQL-standard ordered string aggregation (DuckDB spells it
    string_agg with ORDER BY).  The WITHIN GROUP order is the entire
    determinism story: an unordered listagg concatenates in partition
    arrival order and can never hash-match (the collect_list doctrine
    in SQL form) — this query IS the regression canary for that.
    Input thinned by a key filter so group strings stay KB-sized.

    Scale: ordered string aggregation must ship the full member list
    per group through the shuffle — use it for report-sized groups
    only; corpus-sized concatenation belongs in collect_list +
    array_join after an explicit sort, or better, stays unconcatenated
    (the doc-chunking ops)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("la_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderkey) AS statuses,
               COUNT(*) AS n
        FROM la_orders WHERE o_orderkey % 97 = 0
        GROUP BY o_orderpriority
        """
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem
    ),
    ranked AS (
        SELECT l_returnflag, c,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM cents
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(floor(1000000.0 * SUM(c) / COUNT(*) / 100.0 + 0.5)
                AS BIGINT) AS trimmed_mean_micro
    FROM ranked
    -- // not /: DuckDB's / on integers is FLOAT division, which
    -- silently shifts the upper cut by one rank
    WHERE rn > n // 20 AND rn <= n - n // 20
    GROUP BY l_returnflag
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided TRIMMED mean of price per returnflag — the robust
    sibling of agg_winsorized_mean that DROPS the tail observations
    instead of clamping them (the olympic-scoring estimator; n shrinks
    by 2*floor(n/20)).

    POSITIONAL trimming over exact integer cents: rank per group, keep
    ranks in (n/20, n - n/20], sum the kept BIGINTs exactly, one
    quantized division back to dollars — no percentile interpolation
    anywhere, so unlike the winsorized twin there is no shared
    bound-double to keep in sync; the cut is pure integer rank
    arithmetic on both engines.

    Scale: one rank window per group is the only corpus-sized stage
    (the agg_percentile_cont_exact cost class); at 100 TB replace the
    exact rank with the two GK-sketch cut values and a filter —
    documented approximation path, same shape as winsorized's."""
    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        round_long(F.col("l_extendedprice") * 100).alias("c"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("c")
    wc = Window.partitionBy("l_returnflag")
    ranked = cents.select(
        "l_returnflag",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("n div 20"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 20"))
    )
    return kept.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        round_long(F.lit(1000000.0) * F.sum("c") / F.count(F.lit(1)) / F.lit(100.0))
        .alias("trimmed_mean_micro"),
    )


@query(
    "agg_geo_harmonic_means",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(floor(1000000.0
                * CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                AS BIGINT)) AS DOUBLE)
                / 100.0 / COUNT(*) + 0.5) AS BIGINT) AS arith_micro,
           CAST(floor(1000000.0
                * exp(CAST(SUM(CAST(floor(1000000.0 * ln(l_extendedprice)
                                          + 0.5) AS BIGINT)) AS DOUBLE)
                      / 1000000.0 / COUNT(*))
                + 0.5) AS BIGINT) AS geo_micro,
           CAST(floor(1000000.0
                * CAST(COUNT(*) AS DOUBLE) * 1000000000000.0
                / CAST(SUM(CAST(floor(1000000000000.0 / l_extendedprice
                                      + 0.5) AS BIGINT)) AS DOUBLE)
                + 0.5) AS BIGINT) AS harm_micro
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic, geometric, and harmonic mean of extended price per
    returnflag — the Pythagorean-means triple (AM >= GM >= HM,
    property-tested): GM is the right average for ratios and growth
    rates, HM for rates and unit costs, and the AM/GM gap is itself a
    dispersion signal.

    Order-free by per-row quantization: ln(x) micro-quantized and 1/x
    PICO-quantized (1e-12 — a micro quantum would keep only ~3
    significant digits of a ~1e-5 reciprocal, a measured precision
    cliff) to BIGINT before the sums; the arithmetic mean runs on exact
    cents.  Each final mean is one identical expression per engine.
    Prices are strictly positive, so ln/reciprocal domains need no
    guard.

    Scale: additive (n, cents, sum_ln, sum_recip) partials; reciprocal
    pico-sums stay int64-safe to ~9e6 rows per shard at min price ~1
    (here min ~900: ~8e9 rows) — shard partials by month past that."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(round_long(x * 100)).cast("long").alias("cents"),
        F.sum(round_long(F.lit(1000000.0) * F.log(x)))
        .cast("long")
        .alias("sum_ln_micro"),
        F.sum(round_long(F.lit(1000000000000.0) / x))
        .cast("long")
        .alias("sum_recip_pico"),
    )
    n = F.col("n")
    return sums.select(
        "l_returnflag",
        "n",
        round_long(F.lit(1000000.0) * F.col("cents").cast("double") / F.lit(100.0) / n)
        .alias("arith_micro"),
        round_long(
            F.lit(1000000.0)
            * F.exp(F.col("sum_ln_micro").cast("double") / F.lit(1000000.0) / n)
        ).alias("geo_micro"),
        round_long(
            F.lit(1000000.0)
            * (
                n.cast("double")
                * F.lit(1000000000000.0)
                / F.col("sum_recip_pico").cast("double")
            )
        ).alias("harm_micro"),
    )


@query(
    "agg_circular_mean_hour",
    oracle="""
    WITH terms AS (
        SELECT event_type,
               CAST(floor(1000000.0
                    * sin((3600 * EXTRACT(hour FROM ts)
                           + 60 * EXTRACT(minute FROM ts)
                           + EXTRACT(second FROM ts))
                          * 2.0 * 3.141592653589793 / 86400.0)
                    + 0.5) AS BIGINT) AS sin_micro,
               CAST(floor(1000000.0
                    * cos((3600 * EXTRACT(hour FROM ts)
                           + 60 * EXTRACT(minute FROM ts)
                           + EXTRACT(second FROM ts))
                          * 2.0 * 3.141592653589793 / 86400.0)
                    + 0.5) AS BIGINT) AS cos_micro
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(sin_micro) AS BIGINT) AS ssin,
               CAST(SUM(cos_micro) AS BIGINT) AS scos
        FROM terms GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(floor(sqrt((CAST(ssin AS DOUBLE) / n)
                           * (CAST(ssin AS DOUBLE) / n)
                           + (CAST(scos AS DOUBLE) / n)
                           * (CAST(scos AS DOUBLE) / n)) + 0.5)
                AS BIGINT) AS resultant_micro,
           CAST(floor(1000000.0
                * (CASE WHEN atan2(CAST(ssin AS DOUBLE) / n,
                                   CAST(scos AS DOUBLE) / n) < 0
                        THEN atan2(CAST(ssin AS DOUBLE) / n,
                                   CAST(scos AS DOUBLE) / n)
                             + 2.0 * 3.141592653589793
                        ELSE atan2(CAST(ssin AS DOUBLE) / n,
                                   CAST(scos AS DOUBLE) / n) END)
                * 24.0 / (2.0 * 3.141592653589793)
                + 0.5) AS BIGINT) AS mean_hour_micro
    FROM sums
    """,
)
def agg_circular_mean_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean time-of-day per event type — "when does this
    traffic peak?" done RIGHT: a linear mean of hours puts the average
    of 23:00 and 01:00 at noon; mapping each timestamp to an angle and
    averaging the unit vectors puts it at midnight where it belongs.
    Also emits the resultant length R in [0,1] — the concentration of
    the daily rhythm (R ~ 0 = uniform around the clock, R ~ 1 = sharp
    peak), the circular analogue of 1 - variance.

    Seconds-in-day from integer EXTRACT parts (engine-identical; no
    timezone functions), one shared angle expression, per-row sin/cos
    micro-quantized to BIGINT before the sums (libm agreement far below
    the quantum), then R and atan2-derived mean hour evaluate once per
    engine; atan2's negative branch is wrapped by +2pi with the SAME
    literal pi in both SQL texts.

    Scale: additive (n, sum_sin, sum_cos) partials — the circular mean
    of any rollup grain is three-integer arithmetic."""
    e = load(spark, sf_dir, "events")
    s = (
        F.lit(3600) * F.hour("ts")
        + F.lit(60) * F.minute("ts")
        + F.second("ts")
    )
    theta = s * F.lit(2.0) * F.lit(3.141592653589793) / F.lit(86400.0)
    sums = e.select(
        "event_type",
        round_long(F.lit(1000000.0) * F.sin(theta)).alias("sin_micro"),
        round_long(F.lit(1000000.0) * F.cos(theta)).alias("cos_micro"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sin_micro").cast("long").alias("ssin"),
        F.sum("cos_micro").cast("long").alias("scos"),
    )
    ms = F.col("ssin").cast("double") / F.col("n")
    mc = F.col("scos").cast("double") / F.col("n")
    a = F.atan2(ms, mc)
    a_wrapped = F.when(
        a < 0, a + F.lit(2.0) * F.lit(3.141592653589793)
    ).otherwise(a)
    return sums.select(
        "event_type",
        "n",
        round_long(F.sqrt(ms * ms + mc * mc)).alias("resultant_micro"),
        round_long(
            F.lit(1000000.0)
            * a_wrapped
            * F.lit(24.0)
            / (F.lit(2.0) * F.lit(3.141592653589793))
        )
        .alias("mean_hour_micro"),
    )


def _filter_clause_sql(lineitem: str) -> str:
    """sql_aggregate_filter_clause's query over the table named
    ``lineitem``: Spark and DuckDB run the same text."""
    return f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_high_discount,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE l_linestatus = 'F') AS BIGINT)
               AS finished_cents,
           CAST(COUNT(DISTINCT l_suppkey)
                    FILTER (WHERE l_quantity >= 25) AS BIGINT)
               AS n_bulk_suppliers
    FROM {lineitem} GROUP BY l_returnflag
    """


@query(
    "sql_aggregate_filter_clause",
    oracle=_filter_clause_sql("lineitem"),
)
def sql_aggregate_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard FILTER (WHERE ...) aggregate modifier — four
    differently-filtered aggregates in ONE grouped pass, the way every
    migrated dashboard query wants to write conditional metrics
    (COUNT + filtered COUNT + filtered SUM + filtered COUNT DISTINCT)
    without CASE-WHEN contortions or four self-joins.

    Spark and DuckDB both speak the standard syntax, so the oracle IS
    the same text; Catalyst compiles FILTER into the same conditional
    aggregation as the CASE form (one exchange, map-side partials).
    Money rides as exact cents; everything else is integer counts.

    Scale: one shuffle on the group key regardless of how many
    filtered metrics ride along — that's the point; the COUNT DISTINCT
    adds the usual expand-or-two-phase plan Catalyst picks for mixed
    distinct/non-distinct aggregates."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("sqlf_lineitem")
    return spark.sql(_filter_clause_sql("sqlf_lineitem"))


@query(
    "agg_ratio_metric_delta_ci",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xc) AS BIGINT) AS sx,
               CAST(SUM(q) AS BIGINT) AS sy,
               CAST(CAST(SUM(CAST(xc * xc AS HUGEINT)) AS DOUBLE)
                    AS DOUBLE) AS sxx,
               CAST(SUM(q * q) AS BIGINT) AS syy,
               CAST(SUM(xc * q) AS BIGINT) AS sxy
        FROM (SELECT l_returnflag,
                     CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                         AS xc,
                     CAST(l_quantity AS BIGINT) AS q
              FROM lineitem)
        GROUP BY l_returnflag
    ),
    stats AS (
        SELECT l_returnflag, n,
               CAST(sx AS DOUBLE) / sy AS r,
               (sxx / n - (CAST(sx AS DOUBLE) / n)
                          * (CAST(sx AS DOUBLE) / n)) AS vx,
               (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n)
                          * (CAST(sy AS DOUBLE) / n)) AS vy,
               (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
                          * (CAST(sy AS DOUBLE) / n)) AS cxy,
               CAST(sy AS DOUBLE) / n AS ybar
        FROM m WHERE n >= 2
    )
    SELECT l_returnflag, n,
           CAST(floor(1000000.0 * r + 0.5) AS BIGINT) AS ratio_micro,
           CASE WHEN (vx + r * r * vy - 2.0 * r * cxy) / (ybar * ybar) / n
                     > 0 THEN
               CAST(floor(1000000.0
                    * sqrt((vx + r * r * vy - 2.0 * r * cxy)
                           / (ybar * ybar) / n) + 0.5) AS BIGINT)
           END AS se_micro,
           CASE WHEN (vx + r * r * vy - 2.0 * r * cxy) / (ybar * ybar) / n
                     > 0 THEN
               CAST(floor(1000000.0
                    * (r - 1.96 * sqrt((vx + r * r * vy - 2.0 * r * cxy)
                                       / (ybar * ybar) / n)) + 0.5)
                    AS BIGINT)
           END AS ci_lo_micro,
           CASE WHEN (vx + r * r * vy - 2.0 * r * cxy) / (ybar * ybar) / n
                     > 0 THEN
               CAST(floor(1000000.0
                    * (r + 1.96 * sqrt((vx + r * r * vy - 2.0 * r * cxy)
                                       / (ybar * ybar) / n)) + 0.5)
                    AS BIGINT)
           END AS ci_hi_micro
    FROM stats
    """,
)
def agg_ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric — cents of
    revenue per unit quantity, sum(x)/sum(y) per returnflag, with its
    linearization standard error Var(R) ~ (Vx + R^2 Vy - 2 R Cxy) /
    (ybar^2 n) and a 95% normal CI.  THE experimentation-platform
    workhorse: every per-user ratio metric (revenue/session,
    clicks/impression) needs exactly this SE, and the naive
    var-of-the-ratio-of-totals is simply wrong (ratios of sums are not
    means of ratios — the delta method is the fix).

    The x^2 moment is the one sum that outgrows int64 (cents^2 at
    corpus scale), so it alone rides an exact wide-integer sum
    (HUGEINT / DECIMAL(38,0)) cast to double once — every other moment
    is plain BIGINT; all downstream algebra is one identical IEEE
    chain per engine, micro-quantized, with the degenerate zero-
    variance case NULL on both.

    Scale: one map-side-combined grouped pass; the six moments are
    additive partials, so segment CIs merge without re-scanning."""
    li = load(spark, sf_dir, "lineitem")
    xc = round_long(F.col("l_extendedprice") * 100)
    q = F.col("l_quantity").cast("long")
    base = li.select("l_returnflag", xc.alias("xc"), q.alias("q"))
    m = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("sx"),
        F.sum("q").cast("long").alias("sy"),
        F.sum((F.col("xc") * F.col("xc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("syy"),
        F.sum(F.col("xc") * F.col("q")).cast("long").alias("sxy"),
    )
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    stats = m.filter(n >= 2).select(
        "l_returnflag",
        "n",
        (sxd / F.col("sy")).alias("r"),
        (F.col("sxx") / n - (sxd / n) * (sxd / n)).alias("vx"),
        (F.col("syy").cast("double") / n - (syd / n) * (syd / n)).alias(
            "vy"
        ),
        (F.col("sxy").cast("double") / n - (sxd / n) * (syd / n)).alias(
            "cxy"
        ),
        (syd / n).alias("ybar"),
    )
    r, vx, vy, cxy, ybar = (
        F.col("r"),
        F.col("vx"),
        F.col("vy"),
        F.col("cxy"),
        F.col("ybar"),
    )
    var_r = (vx + r * r * vy - F.lit(2.0) * r * cxy) / (ybar * ybar) / F.col(
        "n"
    )
    return stats.select(
        "l_returnflag",
        "n",
        round_long(F.lit(1000000.0) * r).alias("ratio_micro"),
        F.when(var_r > 0, round_long(F.lit(1000000.0) * F.sqrt(var_r))).alias(
            "se_micro"
        ),
        F.when(
            var_r > 0, round_long(F.lit(1000000.0) * (r - F.lit(1.96) * F.sqrt(var_r)))
        ).alias("ci_lo_micro"),
        F.when(
            var_r > 0, round_long(F.lit(1000000.0) * (r + F.lit(1.96) * F.sqrt(var_r)))
        ).alias("ci_hi_micro"),
    )


def _ranked_price_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_returnflag, cents, rn, n)``: each line's extended price in
    exact BIGINT cents, its 1-based rank ``rn`` in ascending cents within
    its return flag, and the flag's line count ``n``."""
    li = load(spark, sf_dir, "lineitem")
    cents = round_long(F.col("l_extendedprice") * 100)
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wp = Window.partitionBy("l_returnflag")
    return li.select("l_returnflag", cents.alias("cents")).select(
        "l_returnflag",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )


def _nearest_rank(q: float) -> Column:
    """The nearest-rank ``q`` quantile of ``cents`` over a group of
    ``_ranked_price_cents`` rows: the value at rank ceil(q·n)."""
    return F.max(
        F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("cents"),
        )
    ).cast("long")


@query(
    "agg_tukey_fences_outliers",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY FLOOR(l_extendedprice * 100
                                                 + 0.5)) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    q AS (
        SELECT l_returnflag,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                        THEN cents END) AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                        THEN cents END) AS BIGINT) AS q3
        FROM ranked GROUP BY l_returnflag
    ),
    flagged AS (
        SELECT r.l_returnflag, q.n, q.q1, q.q3,
               CAST(SUM(CASE WHEN 2 * r.cents < 5 * q.q1 - 3 * q.q3
                              OR 2 * r.cents > 5 * q.q3 - 3 * q.q1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM ranked r JOIN q ON r.l_returnflag = q.l_returnflag
        GROUP BY r.l_returnflag, q.n, q.q1, q.q3
    )
    SELECT l_returnflag, n, q1 AS q1_cents, q3 AS q3_cents,
           CAST(q3 - q1 AS BIGINT) AS iqr_cents, n_outliers,
           CAST(floor(1000000.0 * CAST(n_outliers AS DOUBLE) / n + 0.5)
                AS BIGINT) AS outlier_share_micro
    FROM flagged
    """,
)
def agg_tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5 IQR) outlier report per returnflag — the
    boxplot's outlier rule, completing the robust-outlier family
    (win_anomaly_zscore assumes normality, agg_mad_anomaly uses MAD;
    Tukey fences are THE convention reviewers expect on skewed money
    distributions).  Emits exact quartiles, the IQR, and the outlier
    count + share.

    ALL-INTEGER fences: x < Q1 - 1.5*IQR doubles both sides into
    2x < 5*Q1 - 3*Q3 (and symmetrically), so the fence comparison
    never touches a float — exact cents in, exact counts out, one
    quantized share at the end.  Quartiles are type-DISC positional
    order statistics (the leadtime-percentiles tie-order-invariance
    argument).

    Scale: one per-group rank window (exact-median cost class) + one
    broadcast-back of the 3-row quartile dim; GK-bracket the quartiles
    at unbounded group sizes."""
    ranked = _ranked_price_cents(spark, sf_dir)
    q = ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        _nearest_rank(0.25).alias("q1"),
        _nearest_rank(0.75).alias("q3"),
    )
    j = ranked.select("l_returnflag", "cents").join(
        F.broadcast(q), "l_returnflag"
    )
    out = (F.lit(2) * F.col("cents") < F.lit(5) * F.col("q1") - F.lit(3) * F.col("q3")) | (
        F.lit(2) * F.col("cents") > F.lit(5) * F.col("q3") - F.lit(3) * F.col("q1")
    )
    flagged = j.groupBy("l_returnflag", "n", "q1", "q3").agg(
        F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers")
    )
    return flagged.select(
        "l_returnflag",
        "n",
        F.col("q1").alias("q1_cents"),
        F.col("q3").alias("q3_cents"),
        (F.col("q3") - F.col("q1")).cast("long").alias("iqr_cents"),
        "n_outliers",
        round_long(F.lit(1000000.0) * F.col("n_outliers").cast("double") / F.col("n"))
        .alias("outlier_share_micro"),
    )


@query(
    "agg_cvar_expected_shortfall",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY FLOOR(l_extendedprice * 100
                                                 + 0.5)) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    var AS (
        SELECT l_returnflag,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                        THEN cents END) AS BIGINT) AS var95_cents
        FROM ranked GROUP BY l_returnflag
    )
    SELECT r.l_returnflag, v.n, v.var95_cents,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(floor(1000000.0
                * CAST(SUM(r.cents) AS DOUBLE) / 100.0 / COUNT(*)
                + 0.5) AS BIGINT) AS cvar95_micro
    FROM ranked r JOIN var v ON r.l_returnflag = v.l_returnflag
    WHERE r.cents >= v.var95_cents
    GROUP BY r.l_returnflag, v.n, v.var95_cents
    """,
)
def agg_cvar_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR-95 and CVaR-95 (expected shortfall) of line value per
    returnflag: the 95th-percentile threshold AND the mean of
    everything at-or-beyond it — the tail-risk pair regulators moved
    to precisely because a quantile alone says nothing about HOW BAD
    the tail is (two books with identical VaR can differ 10x in
    expected shortfall).  For a data platform: the cost-of-worst-5%
    number behind capacity planning and anomaly budgets.

    VaR is a positional order statistic on exact cents (tie-order-
    invariant, the leadtime argument); the tail filter compares exact
    integers against the broadcast threshold (>= keeps ties — the
    conservative convention, stated), and CVaR is an exact-cents sum
    over the tail with one quantized division.

    Scale: one per-group rank window (exact-median cost class) + one
    broadcast-back threshold join; GK-bracket the threshold at
    unbounded group sizes and CVaR becomes a one-pass conditional
    aggregate."""
    ranked = _ranked_price_cents(spark, sf_dir)
    var = ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        _nearest_rank(0.95).alias("var95_cents"),
    )
    tail = ranked.select("l_returnflag", "cents").join(
        F.broadcast(var), "l_returnflag"
    ).filter(F.col("cents") >= F.col("var95_cents"))
    return tail.groupBy("l_returnflag", "n", "var95_cents").agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        round_long(
            F.lit(1000000.0)
            * F.sum("cents").cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1))
        )
        .alias("cvar95_micro"),
    )
