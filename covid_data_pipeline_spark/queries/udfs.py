"""§2.10 UDF suite (SURVEY.md).

The reference is 100% Python — its entire pipeline is "UDF logic".
This module is the migration path demonstration: the same computation
at each rung of the Spark Python-interop ladder, each mirroring a
built-in so the DuckDB oracle can check it exactly:

1. scalar Python UDF        (row-at-a-time — the slow path, shown once)
2. vectorized pandas_udf    (Arrow batches, ~10-100x the row UDF)
3. grouped-agg pandas_udf   (whole group -> scalar, Arrow)
4. applyInPandas            (grouped map, pandas DataFrame in/out)

Outputs are chosen exact-representable (integral sums, max, count) so
no float drift can hide between the Python and JVM paths.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load
from ..registry import query


@F.udf(T.DoubleType(), useArrow=True)
def _revenue_py(price: float, discount: float) -> float:
    """Row-at-a-time scalar UDF — still invoked once per row (rung 1 of
    the ladder), but with Arrow serialization (guide §4.3: pickled-row
    serde was pure overhead; ``useArrow=True`` batches the boundary
    crossing while the function body stays per-row).  r11 A/B at sf0.1:
    see OPTIMIZATION_r11.md.  Return type is declared honestly (float ->
    double), so the Arrow path's stricter coercion changes nothing."""
    return price * (1.0 - discount)


@F.pandas_udf(T.DoubleType())
def _charge_pandas(revenue: pd.Series, tax: pd.Series) -> pd.Series:
    """Vectorized scalar pandas UDF: Arrow in, numpy math, Arrow out."""
    return revenue * (1.0 + tax)


@F.pandas_udf(T.DoubleType())
def _sum_qty_pandas(qty: pd.Series) -> float:
    """Grouped-aggregate pandas UDF (l_quantity is integral-valued, so
    the pandas sum is exact regardless of order)."""
    return float(qty.sum())


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas grouped map: one pandas frame per group."""
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "n_rows": [len(pdf)],
            "max_revenue": [pdf["revenue"].max()],
        }
    )


_GROUP_SCHEMA = T.StructType(
    [
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("max_revenue", T.DoubleType()),
    ]
)


@query(
    "udf_suite",
    oracle="""
    WITH rev AS (
        SELECT l_returnflag, l_quantity,
               l_extendedprice * (1 - l_discount) AS revenue,
               (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
        FROM lineitem
    )
    SELECT r.l_returnflag, g.n_rows, g.max_revenue, s.sum_qty, c.max_charge
    FROM (SELECT DISTINCT l_returnflag FROM rev) r
    JOIN (SELECT l_returnflag, COUNT(*) AS n_rows, MAX(revenue) AS max_revenue
          FROM rev GROUP BY l_returnflag) g ON r.l_returnflag = g.l_returnflag
    JOIN (SELECT l_returnflag, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
          FROM rev GROUP BY l_returnflag) s ON r.l_returnflag = s.l_returnflag
    JOIN (SELECT l_returnflag, MAX(charge) AS max_charge
          FROM rev GROUP BY l_returnflag) c ON r.l_returnflag = c.l_returnflag
    """,
)
def udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four UDF flavors over lineitem, reconciled into one result
    per returnflag; every output mirrors a built-in aggregation the
    oracle recomputes in pure SQL.  (The scalar UDF and pandas UDF
    produce identical IEEE doubles to the SQL expressions because the
    operation sequence is identical.)

    The session is shared by ~160 other bench/correctness queries, so
    the per-flag result (3 rows) is pinned locally and the cached fact
    table RELEASED before returning — a long-lived session must not
    carry a lineitem-sized cache for the rest of the run."""
    with_rev, out = _udf_suite_lazy(spark, sf_dir)
    rows = out.collect()
    with_rev.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _udf_suite_lazy(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build the (cached input, lazy result) pair — split out so
    tests/test_plans.py can assert the Arrow/Python plan shape on the
    SAME lazy plan :func:`udf_suite` executes."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    with_rev = li.withColumn(
        "revenue", _revenue_py("l_extendedprice", "l_discount")
    ).withColumn("charge", _charge_pandas("revenue", "l_tax"))
    # three separate aggregations consume with_rev (the grouped-agg
    # pandas UDF can't share an agg() with JVM aggregates) — persist so
    # the row-at-a-time UDF pays its serde tax once, not three times
    with_rev = with_rev.persist()

    grouped = with_rev.groupBy("l_returnflag").applyInPandas(
        _group_stats, schema=_GROUP_SCHEMA
    )
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — run it in its own aggregation
    agg_py = with_rev.groupBy("l_returnflag").agg(
        _sum_qty_pandas("l_quantity").alias("sum_qty")
    )
    agg_jvm = with_rev.groupBy("l_returnflag").agg(
        F.max("charge").alias("max_charge")
    )
    out = (
        grouped.join(agg_py, on="l_returnflag")
        .join(agg_jvm, on="l_returnflag")
        .select("l_returnflag", "n_rows", "max_revenue", "sum_qty", "max_charge")
    )
    return with_rev, out


class _TokenizeUDTF:
    """Python UDTF (Spark 3.5+ user-defined TABLE function): one input
    row -> many output rows, the generator shape ``explode`` can't
    express when per-row logic is genuinely imperative.  Mirrors
    posexplode(split(...)) so the oracle checks it exactly."""

    def eval(self, text: str, doc_id: int):  # noqa: ANN001 - UDTF protocol
        if text is None:
            return
        for pos, token in enumerate(text.split(" ")):
            if len(token) >= 6:  # imperative per-row predicate
                yield doc_id, token, pos


@query(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id, token, pos FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents WHERE source = 'src0'
    ) WHERE length(token) >= 6
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rung 5 of the Python-interop ladder: a UDTF registered and
    invoked through SQL ``LATERAL`` — the table-function extension
    point (reference analogue: html_extracter emitting n text segments
    per page).  Python-per-row like rung 1, so the corpus is filtered
    to one source first; at 100 TB the same logic belongs in
    ``explode(filter(split(...)))`` built-ins (rows-equal here, that's
    the point of the oracle) or an Arrow-batched mapInPandas."""
    spark.udtf.register("cdp_tokenize", F.udtf(
        _TokenizeUDTF, returnType="doc_id bigint, token string, pos int"
    ))
    load(spark, sf_dir, "documents").filter(
        F.col("source") == "src0"
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.token, t.pos "
        "FROM udtf_docs, LATERAL cdp_tokenize(text, doc_id) t"
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                         / 100.0 AS DECIMAL(28,6))) AS DOUBLE) AS revenue_rounded
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rung 6 of the Python-interop ladder: ``mapInArrow`` — raw Arrow
    RecordBatches in and out, zero pandas materialization.  This is the
    integration point for Arrow-native libraries (tokenizers, image
    codecs, vector kernels) where even the pandas conversion of
    ``mapInPandas`` is measurable overhead.

    The batch function computes cent-rounded revenue with
    pyarrow.compute (C++ vectorized kernels) via explicit
    floor(x*100+0.5)/100 — NOT pc.round, whose half-to-even mode
    disagrees with DuckDB's half-away rounding on exact half-cent
    doubles (~1 in 150 rows here; the same engine-rounding trap as
    Spark's round, see SURVEY §2.8).  The JVM aggregation that follows
    proves Arrow output re-enters Catalyst as a first-class DataFrame.
    At 100 TB the Python boundary processes each batch once with no
    per-row cost — the practical ceiling for Python in the row path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def add_revenue(batches):
        for b in batches:
            rev = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
            )
            cents = pc.floor(pc.add(pc.multiply(rev, pa.scalar(100.0)), pa.scalar(0.5)))
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), pc.divide(cents, pa.scalar(100.0))],
                ["l_returnflag", "revenue_rounded"],
            )

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    mapped = li.mapInArrow(
        add_revenue, schema="l_returnflag string, revenue_rounded double"
    )
    return mapped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("revenue_rounded").cast(T.DecimalType(28, 6)))
        .cast("double")
        .alias("revenue_rounded"),
    )


_COGROUP_SCHEMA = T.StructType(
    [
        T.StructField("cust_id", T.LongType()),
        T.StructField("n_orders", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_after_last_dom", T.LongType()),
    ]
)


def _cogroup_merge(key, orders_t, events_t):
    """Cogrouped-map body: BOTH per-key tables arrive as pyarrow.Tables
    (either may be empty).  r12: ``applyInArrow`` replaced
    ``applyInPandas`` — the merge logic is unchanged, but each group's
    payload is an Arrow buffer slice instead of a pandas BlockManager
    build, which is where ~70% of the old per-group ~1.5 ms went
    (A/B: OPTIMIZATION_r12.md "Inherited state" item 5,
    ea6ce32:experiments/opt_r12_cogroup_ab.py, 3.78 -> 1.13 s at sf0.1,
    identical 14,999 rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_orders = orders_t.num_rows
    n_events = events_t.num_rows
    if n_orders:
        last_dom = pc.max(orders_t.column("o_orderdate")).as_py().day
        if n_events:
            after = pc.sum(
                pc.greater(pc.day(events_t.column("ts")), last_dom)
            ).as_py()
            n_after = int(after) if after is not None else 0
        else:
            n_after = 0
    else:
        n_after = None  # no orders -> "after last order" is undefined
    k = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
    return pa.table(
        {
            "cust_id": pa.array([k], pa.int64()),
            "n_orders": pa.array([n_orders], pa.int64()),
            "n_events": pa.array([n_events], pa.int64()),
            "n_after_last_dom": pa.array([n_after], pa.int64()),
        }
    )


@query(
    "udf_cogroup_merge",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS cust_id, COUNT(*) AS n_orders,
               MAX(o_orderdate) AS last_order
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT user_id AS cust_id, COUNT(*) AS n_events
        FROM events GROUP BY 1
    ),
    keys AS (SELECT cust_id FROM o UNION SELECT cust_id FROM e),
    aft AS (
        SELECT ev.user_id AS cust_id, COUNT(*) AS n_after
        FROM events ev JOIN o ON ev.user_id = o.cust_id
                              AND day(ev.ts) > day(o.last_order)
        GROUP BY 1
    )
    SELECT k.cust_id,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(e.n_events, 0) AS n_events,
           CASE WHEN o.cust_id IS NULL THEN NULL
                ELSE COALESCE(aft.n_after, 0) END AS n_after_last_dom
    FROM keys k
    LEFT JOIN o ON k.cust_id = o.cust_id
    LEFT JOIN e ON k.cust_id = e.cust_id
    LEFT JOIN aft ON k.cust_id = aft.cust_id
    """,
    conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
)
def udf_cogroup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rung 7 of the Python-interop ladder: ``groupBy().cogroup()``
    ``.applyInArrow`` — the cogrouped map.  Two tables are shuffled on
    the same key and the Python function receives BOTH per-key tables
    simultaneously (orders and events for one customer), the shape a
    join + grouped map cannot reach in one pass when the merge logic is
    imperative: per-entity stream alignment, feature-window stitching,
    custom as-of/session reconciliation in training-data builds.
    (r12: the rung moved from ``applyInPandas`` to the Arrow-native
    ``applyInArrow`` — same cogrouped-map semantics and shuffle shape,
    but the per-group boundary cost drops ~3x because each group is an
    Arrow buffer slice, not a pandas frame build; see _cogroup_merge.)

    This demonstrator's merge (order count, event count, events on a
    later day-of-month than the customer's last order) IS deliberately
    join-expressible — that is what lets the DuckDB oracle check it
    exactly: all outputs are integral counts and day-of-month is an
    exact int on both engines.  The cross-frame threshold is projected
    to day-of-month because the fixture's time axes are disjoint
    (orders 1995-2001, events 2024 — measured), so a raw ``ts >
    last_order`` would be vacuously true for every event and the
    comparison would never exercise its false branch.  Keys missing
    from one side arrive as an empty frame (full-outer semantics):
    no-order customers yield NULL n_after_last_dom.

    At 100 TB: exactly two hash exchanges (one per side — the same
    cost as the equivalent shuffle join), then per-key zipped Arrow
    batches; Python touches each row once, grouped, with no per-row
    serde.  Skewed entities bound the straggler (one key must fit one
    task) — for hot keys, pre-aggregate per side first, as here the
    oracle's o/e CTEs do.

    MEASURED TRAP — AQE coalescing vs per-group Python cost: AQE
    coalesces shuffle partitions by BYTES, but this stage's cost is
    per-GROUP pandas-frame construction (~1.5 ms/key), which bytes
    can't see.  At sf0.1 (15k keys, a few MB shuffled) AQE folded the
    stage to 3 partitions and serialized 15k Python calls onto 3
    cores: 23.1 s; with coalescing disabled the same work spread over
    32 tasks: 3.6 s (6.4x).  The general rule: for grouped-map /
    cogrouped-map stages, partition count must track GROUP count, not
    shuffle bytes — so this query turns coalescing off for itself in
    its ``conf`` (the next registered query starts with it back on)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    return (
        o.groupBy("o_custkey")
        .cogroup(e.groupBy("user_id"))
        .applyInArrow(_cogroup_merge, schema=_COGROUP_SCHEMA)
    )
