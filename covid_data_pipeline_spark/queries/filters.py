"""§2.2 Projections / filters / predicates (SURVEY.md).

Reference analogue: filtering sources by state/kind, URL pattern
matching, failed-fetch (missing content) handling.  All predicates are
Column expressions, so Catalyst pushes them into the parquet scan
(check: ``.explain`` shows PushedFilters) — at 100 TB that's the
difference between reading row groups and skipping them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import query


@query(
    "proj_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def proj_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic projection (derived fields on scan records).  Per-row
    IEEE double arithmetic — deterministic, no decimal trick needed."""
    li = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (1 + F.col("l_tax"))).alias("charge"),
    )


@query(
    "filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE (l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
           AND l_returnflag IN ('A', 'R')
           AND NOT l_linestatus = 'O')
       OR (l_quantity >= 49.0 AND l_discount < 0.02)
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate: AND/OR/NOT, IN, BETWEEN over dates + flags
    (reference: include/skip lists over sources)."""
    li = load(spark, sf_dir, "lineitem")
    in_window = F.col("l_shipdate").between(
        F.lit("1996-01-01 00:00:00").cast("timestamp"),
        F.lit("1997-12-31 00:00:00").cast("timestamp"),
    )
    flagged = F.col("l_returnflag").isin("A", "R") & ~(F.col("l_linestatus") == "O")
    bulk = (F.col("l_quantity") >= 49.0) & (F.col("l_discount") < 0.02)
    return li.filter((in_window & flagged) | bulk).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )


@query(
    "filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE (p_name LIKE '%gear%' OR p_type LIKE 'PRO%')
      AND regexp_matches(p_brand, 'Brand#1[0-9]$')
    """,
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / regex pattern filters (reference: URL & content pattern
    matching).  Spark ``rlike`` and DuckDB ``regexp_matches`` are both
    unanchored searches — pattern kept POSIX-safe."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_name").like("%gear%") | F.col("p_type").like("PRO%"))
        & F.col("p_brand").rlike("Brand#1[0-9]$")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@query(
    "filter_null_semantics",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 10.0 THEN value END AS big_value,
           (CASE WHEN value >= 10.0 THEN value END) IS NULL AS is_small,
           (CASE WHEN value >= 10.0 THEN value END)
               IS NOT DISTINCT FROM NULL AS null_safe_eq_null
    FROM events
    WHERE (CASE WHEN value >= 10.0 THEN value END) IS NULL
       OR (CASE WHEN value >= 10.0 THEN value END) IS DISTINCT FROM 0.0
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued logic on a column made nullable via CASE (reference:
    failed fetches leave content missing): IS NULL, IS DISTINCT FROM and
    the null-safe comparator ``<=>`` / IS NOT DISTINCT FROM."""
    ev = load(spark, sf_dir, "events")
    big = F.when(F.col("value") >= 10.0, F.col("value"))
    ev = ev.select(
        "event_id",
        big.alias("big_value"),
        big.isNull().alias("is_small"),
        big.eqNullSafe(F.lit(None).cast("double")).alias("null_safe_eq_null"),
    )
    # predicate re-stated over the aliased column: IS NULL OR IS DISTINCT FROM 0.0
    return ev.filter(
        F.col("big_value").isNull() | ~F.col("big_value").eqNullSafe(F.lit(0.0))
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (``spark.sql(query, args=...)``) — the
    injection-safe way to template the date-band/status constants every
    scheduled report re-runs with different values: named markers bind
    as typed literals through the parser, so user input can never
    splice into the query text, and Catalyst still constant-folds and
    pushes the bound predicates to the parquet scan exactly as if they
    were inlined.  The oracle inlines the same constants — identical
    results prove binding changes nothing semantically."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("sqlp_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS total_price
        FROM sqlp_orders
        WHERE o_orderdate >= :lo AND o_orderdate < :hi
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={
            "lo": "1996-01-01",
            "hi": "1997-01-01",
            "status": "O",
        },
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery in FROM — the SQL surface every
    per-entity-drilldown report is written in ("for each customer, its
    top-2 orders"): the subquery references the outer row and carries
    its own ORDER BY ... LIMIT.

    The plan is the point: Catalyst DECORRELATES the per-row subquery
    into a set-based plan — no nested-loop re-execution per customer —
    and the LIMIT 2 compiles to WindowGroupLimit with a PARTIAL
    pre-shuffle pass (each map task prunes to <=2 candidate orders per
    customer BEFORE the exchange, pinned in tests/test_plans.py), so at
    100 TB the shuffle carries 2·|customers| rows, not |orders|.  Same
    semantics as topk_per_group's explicit window — and measurably the
    same plan: Spark's InferWindowGroupLimit gives the row_number()<=k
    spelling the identical partial+final WindowGroupLimit, so this rung
    proves API-surface parity, not a win over the hand-tuned window
    (SCALE.md "Round-5 additions", MEASURED CORRECTION;
    ea6ce32:experiments/lateral_grouplimit_ab.py)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@query(
    "sql_exists_correlated",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'F'
          )
    GROUP BY c.c_mktsegment
    """,
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries in one predicate —
    customers holding an urgent order but no finished one, per segment.
    The SQL surface every migrated report writes on day one; Catalyst
    rewrites the pair into a left-semi plus a left-anti join (the same
    physical plans join_semi/join_anti pin), so the subquery sugar
    costs nothing over the explicit joins — this query is the
    executable proof.

    Pure integer counts — no float discipline needed.  Scale: two
    hash joins on the customer key; the EXISTS side aggregates
    nothing (semi-join short-circuits on first match)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sqlx_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sqlx_orders")
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM sqlx_customer c
        WHERE EXISTS (
                SELECT 1 FROM sqlx_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
              )
          AND NOT EXISTS (
                SELECT 1 FROM sqlx_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'F'
              )
        GROUP BY c.c_mktsegment
        """
    )


@query(
    "sql_correlated_scalar",
    oracle="""
    SELECT c.c_nationkey AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_above_avg
    FROM customer c
    WHERE CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) > (
            SELECT AVG(CAST(FLOOR(c2.c_acctbal * 100 + 0.5) AS BIGINT))
            FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
          )
    GROUP BY c.c_nationkey
    """,
)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery — customers above their own nation's
    average balance, per nation.  The second half of the subquery
    surface beside sql_exists_correlated: Catalyst de-correlates the
    scalar into an aggregate-then-join (visible in the plan as one
    extra hash aggregate — never a per-row re-scan), which is exactly
    the rewrite a migrating analyst needs to trust before deleting
    their hand-rolled two-step version.

    Balances compare as exact cents; AVG over BIGINT cents is an exact
    integer sum over a count on both engines, so the correlated
    threshold is ONE identical double per engine (same dividend, same
    divisor, same IEEE division) and the strict > comparison can never
    disagree between them.

    Scale: one aggregate of the customer table + one broadcast-back
    join — the agg_groupby cost class."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sqlc_customer")
    return spark.sql(
        """
        SELECT c.c_nationkey AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_above_avg
        FROM sqlc_customer c
        WHERE CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) > (
                SELECT AVG(CAST(FLOOR(c2.c_acctbal * 100 + 0.5) AS BIGINT))
                FROM sqlc_customer c2
                WHERE c2.c_nationkey = c.c_nationkey
              )
        GROUP BY c.c_nationkey
        """
    )
