"""§2.6 Sorts / limits / top-k (SURVEY.md).

Reference analogue: the ordered change-list report and top-changed-
sources summaries.  The driver's value-hash is order-insensitive, so
sort correctness is made checkable by materializing the rank as a
column (row_number over the same ordering); top-k uses a unique sort
key (primary-key tiebreaker) so the SELECTED SET is deterministic.

Scale note: global ORDER BY is a range-partitioned total sort —
fine for reports; ORDER BY + LIMIT k is TakeOrderedAndProject (per-
partition top-k then merge of k·p rows on the driver), which is the
shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query


# Deterministic price bands for the two-phase global rank below.  TPC-H
# o_totalprice spans ~[850, 600k]; 20k-wide bands give ~30 bands per
# priority — wide enough that band count stays metadata-sized, narrow
# enough that no band holds more than a few percent of the table.  At a
# larger SF, shrink the width (or derive it from approxQuantile) — the
# rank stays exact for ANY width; width only tunes balance.
_PRICE_BAND_WIDTH = 20_000


@query(
    "sort_multi_nulls",
    oracle="""
    SELECT o_orderkey, o_totalprice, delayed_priority,
           ROW_NUMBER() OVER (ORDER BY delayed_priority ASC NULLS FIRST,
                              o_totalprice DESC, o_orderkey) AS sort_pos
    FROM (
        SELECT o_orderkey, o_totalprice,
               NULLIF(o_orderpriority, '3-MEDIUM') AS delayed_priority
        FROM orders
    )
    """,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort, mixed asc/desc with explicit NULLS FIRST; the
    ordering is proven to the (order-insensitive) oracle by emitting the
    global position as a column.

    TWO-PHASE GLOBAL RANK — no unpartitioned window (the round-2 version
    ranked with ``row_number() OVER (ORDER BY ...)``, which funnels the
    whole table through ONE task; at 100 TB that's the classic scale
    killer).  Instead:

    1. Bucket every row by a DETERMINISTIC pure function of its sort key
       (priority value x fixed-width price band) — no sampling, so the
       assignment is identical across jobs with no caching required.
    2. Rank WITHIN each bucket with a partitioned window (distributed,
       one hash shuffle).
    3. Count rows per bucket (metadata-sized: one row per bucket),
       cumulative-sum the counts in bucket order on the driver — the
       same model-state pattern as ``zipWithIndex``'s count job — and
       broadcast the offsets back.  global_rank = offset + local_rank.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("delayed_priority"),
    )
    bucketed = o.withColumn(
        "_pband", F.floor(F.col("o_totalprice") / _PRICE_BAND_WIDTH).cast("int")
    )
    # metadata-sized count job: one row per (priority, band) bucket
    counts = (
        bucketed.groupBy("delayed_priority", "_pband")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    # bucket order == global sort order: priority ASC NULLS FIRST, band DESC
    counts.sort(
        key=lambda r: (
            r["delayed_priority"] is not None,
            r["delayed_priority"] or "",
            -r["_pband"],
        )
    )
    off, offsets = 0, []
    for r in counts:
        offsets.append((r["delayed_priority"], r["_pband"], off))
        off += r["cnt"]
    off_df = spark.createDataFrame(
        offsets, "dp string, pb int, _off bigint"
    )
    w = Window.partitionBy("delayed_priority", "_pband").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = bucketed.withColumn("_lrn", F.row_number().over(w))
    return (
        ranked.join(
            F.broadcast(off_df),
            ranked["delayed_priority"].eqNullSafe(off_df["dp"])
            & (ranked["_pband"] == off_df["pb"]),
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            "delayed_priority",
            (F.col("_off") + F.col("_lrn")).alias("sort_pos"),
        )
        .orderBy("sort_pos")  # presentation order: range sort on a long
    )


@query(
    "limit_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def limit_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price (reference: top changed sources).
    o_orderkey tiebreaker makes the sort key unique — REQUIRED for a
    deterministic result set.  Plan: TakeOrderedAndProject (no full
    sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 2
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical per-group top-k: 2 priciest parts per brand via
    row_number + filter — no global sort, one shuffle on the group key."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )
