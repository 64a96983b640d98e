"""§2.7 Set operations (SURVEY.md).

Reference analogue: merging the current and previous source registries
and detecting added/removed sources between runs.  The two "runs" here
are customer slices by market segment; set semantics (bag vs distinct)
mirror UNION ALL / UNION / INTERSECT / EXCEPT exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import query


def _slice(spark: SparkSession, sf_dir: str, segment: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == segment)
        .select("c_nationkey", "c_custkey")
    )


@query(
    "set_union_all",
    oracle="""
    SELECT c_nationkey, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_nationkey, c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of two overlapping slices (reference: concatenating two
    run outputs, duplicates preserved).  unionByName is a zero-shuffle
    plan concatenation."""
    a = _slice(spark, sf_dir, "BUILDING")
    b = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_nationkey", "c_custkey")
    )
    return a.unionByName(b)


@query(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_nationkey, c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated registry merge: union + distinct (one shuffle on the
    full row as key)."""
    a = _slice(spark, sf_dir, "BUILDING")
    b = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_nationkey", "c_custkey")
    )
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations present in both segments' customer bases (reference:
    sources present in both runs).  INTERSECT distinct semantics."""
    a = _slice(spark, sf_dir, "BUILDING").select("c_nationkey")
    b = _slice(spark, sf_dir, "MACHINERY").select("c_nationkey")
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A \\ B: high-balance customers outside BUILDING (reference:
    added/removed source detection between runs).  EXCEPT distinct
    semantics = Spark ``subtract``/``exceptAll().distinct()``."""
    a = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )
    b = _slice(spark, sf_dir, "BUILDING").select("c_custkey")
    return a.subtract(b)


@query(
    "set_except_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — BAG difference: each nation key keeps
    max(count_A − count_B, 0) copies, the multiplicity-preserving twin
    of ``set_except`` (reference: how many MORE building customers
    than machinery customers each nation has, as rows).  Spark's
    ``exceptAll`` plans it as a counted anti-semantics join — no
    row-by-row matching, one shuffle on the value."""
    a = _slice(spark, sf_dir, "BUILDING").select("c_nationkey")
    b = _slice(spark, sf_dir, "MACHINERY").select("c_nationkey")
    return a.exceptAll(b)


@query(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — BAG intersection: min(count_A, count_B) copies
    per nation key, completing §2.7's set family with both bag-semantics
    variants (EXCEPT ALL above).  Same counted-join plan shape as
    exceptAll; one shuffle on the value."""
    a = _slice(spark, sf_dir, "BUILDING").select("c_nationkey")
    b = _slice(spark, sf_dir, "MACHINERY").select("c_nationkey")
    return a.intersectAll(b)


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE org AS (
        SELECT CAST(0 AS BIGINT) AS user_id, CAST(0 AS INTEGER) AS depth,
               '0' AS path
        UNION ALL
        SELECT u.user_id, org.depth + 1,
               CONCAT(org.path, '/', CAST(u.user_id AS VARCHAR))
        FROM (SELECT DISTINCT user_id FROM events) u
        JOIN org ON u.user_id // 2 = org.user_id
        WHERE u.user_id != 0
    )
    SELECT user_id, depth, path FROM org
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) — iterated UNION ALL,
    the declarative form of the frontier loop dedup_cluster_cc hand
    rolls: materialize a deterministic org tree over the event users
    (parent(k) = k div 2, rooted at 0) and emit each node's depth and
    root path.  Hierarchies, BOM explosions, and graph reachability
    are the queries this unlocks without driver-side iteration.

    Execution shape: each recursion step is one join of the FRONTIER
    (the previous step's output, small) against the node set — Spark
    broadcasts it when small, and the step count is bounded by the
    hierarchy depth (log-scale here: ~11 levels at 2000 users), NOT
    by data volume; at 100 TB the node set stays partitioned in place
    while only frontier deltas move, the same asymptotics as the CC
    operator.  Dialect twins: DuckDB `//` vs Spark `div` integer
    division, CONCAT for the path in both."""
    ev = load(spark, sf_dir, "events")
    # r12: the recursion's step query joins the frontier against this
    # view PER LEVEL (~11 levels at 2k users), and a temp view is only
    # a logical plan — each level replayed the 600k-row events scan and
    # the distinct exchange.  Materialize the 2k-row user set once;
    # every level then joins against the in-memory RDD.  Identical row
    # set (it IS the same distinct), oracle hash unchanged; 2.41 ->
    # 1.54 s interleaved median (OPTIMIZATION_r12.md
    # "sql_recursive_hierarchy", ea6ce32:experiments/opt_r12_recursive_ab.py).
    ev.select("user_id").distinct().localCheckpoint(
        eager=False
    ).createOrReplaceTempView("rc_users")
    return spark.sql(
        """
        WITH RECURSIVE org AS (
            SELECT CAST(0 AS BIGINT) AS user_id, CAST(0 AS INT) AS depth,
                   '0' AS path
            UNION ALL
            SELECT u.user_id, org.depth + 1,
                   CONCAT(org.path, '/', CAST(u.user_id AS STRING))
            FROM rc_users u
            JOIN org ON u.user_id DIV 2 = org.user_id
            WHERE u.user_id != 0
        )
        SELECT user_id, depth, path FROM org
        """
    )
