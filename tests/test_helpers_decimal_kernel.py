"""Pin the r12 two-long exact-sum kernel to the old decimal(28,6) path,
and the output rounding ``round_long`` to the oracle's.

``_helpers.dsum``/``davg`` replaced ``SUM(CAST(x AS DECIMAL(28,6)))``
with a two-long split sum (module doc in _helpers.py).  These tests pin
bit-equality against the old formulation on adversarial inputs — any
drift here is an oracle-hash break across ~380 queries — and pin each
row's micro-units against Python's exact string-based HALF_UP rounding.
The input families are those of the r12 sweep (OPTIMIZATION_r12.md
"Inherited state"; 368k rows in
`ea6ce32:experiments/opt_r12_decimal_kernel_ab.py`) at a few hundred to a
few thousand rows each.
"""

from __future__ import annotations

import math
import random
import struct
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from covid_data_pipeline_spark.queries._helpers import (
    DEC,
    _micro,
    davg,
    dsum,
    round_long,
)


def _old_dsum(c):
    return F.sum(c.cast(DEC)).cast("double")


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def _adversarial_values():
    rnd = random.Random(20260817)
    vals = []
    # price-like 2dp values (the fixture regime)
    vals += [round(rnd.uniform(-1e5, 1e6), 2) for _ in range(4000)]
    # raw random bit-pattern doubles inside the per-row domain
    k = 0
    while k < 3000:
        (x,) = struct.unpack("<d", struct.pack("<Q", rnd.getrandbits(64)))
        if x == x and abs(x) < 1e11:
            vals.append(x)
            k += 1
    # dyadic exact .5-at-6dp ties (must take the fallback, then HALF_UP)
    vals += [
        ((2 * rnd.randrange(1, 1 << 40) + 1) * (1 if rnd.random() < 0.5 else -1))
        / 128.0
        for _ in range(1500)
    ]
    # dyadic odd / 2^e, e = 1..7: exact .5 ties or exact ints at 6dp
    for e in range(1, 8):
        vals += [
            (2 * rnd.randrange(1, 1 << 30) + 1) / float(1 << e) for _ in range(50)
        ]
    # boundary-stress: nearest double to (m + 0.5) micro units — where
    # string-based and binary-exact rounding can disagree
    for _ in range(1500):
        m = rnd.randrange(1, int(4.3e15))
        vals.append((1 if rnd.random() < 0.5 else -1) * (m + 0.5) / 1e6)
    # fast-path edge, the double-exactness edge 2^52/1e6, the decimal(18,6)
    # domain edge, tiny, and exact specials
    vals += [4.4e9 * (1 - rnd.random() * 1e-9) for _ in range(100)]
    for edge in (2.0**52 / 1e6, 1e12 * 0.99999):
        vals += [
            edge * (1 - rnd.random() * 1e-6) * (1 if rnd.random() < 0.5 else -1)
            for _ in range(300)
        ]
    vals += [rnd.uniform(-1e-6, 1e-6) for _ in range(500)]
    vals += [0.0, -0.0, 5e-7, -5e-7, 1.5e-6, -1.5e-6, 0.0234375, 6e5 + 0.105]
    return vals


def test_dsum_bits_match_old_decimal_path(spark):
    vals = _adversarial_values()
    df = spark.createDataFrame(
        [(i, v, i % 101) for i, v in enumerate(vals)], "id long, x double, g int"
    )
    res = (
        df.groupBy("g")
        .agg(
            _old_dsum(F.col("x")).alias("old"),
            dsum(F.col("x")).alias("new"),
            (_old_dsum(F.col("x")) / F.count("x")).alias("old_avg"),
            davg(F.col("x")).alias("new_avg"),
        )
        .collect()
    )
    assert len(res) == 101
    for r in res:
        assert _bits(r.old) == _bits(r.new), f"dsum drift in group {r.g}: {r}"
        assert _bits(r.old_avg) == _bits(r.new_avg), f"davg drift: {r}"


def test_micro_matches_string_half_up_per_row(spark):
    """Spark's double->decimal cast rounds the shortest round-trip string
    (``Double.toString``), which is Python's ``repr``; so the per-row
    reference is ``Decimal(repr(x))`` rounded HALF_UP to 6dp."""
    vals = _adversarial_values()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, x double"
    )
    q6 = Decimal("0.000001")
    bad = [
        (r.x, r.m)
        for r in df.select("x", _micro(F.col("x")).alias("m")).collect()
        if r.m != int(Decimal(repr(r.x)).quantize(q6, ROUND_HALF_UP) * 1_000_000)
    ]
    assert not bad, f"{len(bad)} of {len(vals)} rows drift, first: {bad[:5]}"


def test_dsum_degenerate_inputs_match_old_decimal_path(spark):
    df = spark.createDataFrame(
        [
            (0, None),
            (1, float("nan")),
            (2, float("inf")),
            (3, float("-inf")),
            (4, 1.25),
            (5, -0.0),
        ],
        "id long, x double",
    )
    r = df.agg(
        _old_dsum(F.col("x")).alias("old"), dsum(F.col("x")).alias("new")
    ).collect()[0]
    assert _bits(r.old) == _bits(r.new) and r.new == pytest.approx(1.25)
    # all-degenerate group stays NULL, exactly like the decimal sum
    n = (
        df.where("x IS NULL OR isnan(x) OR abs(x) = double('inf')")
        .agg(_old_dsum(F.col("x")).alias("old"), dsum(F.col("x")).alias("new"))
        .collect()[0]
    )
    assert n.old is None and n.new is None


def test_dsum_aggregates_with_primitive_buffers(spark):
    """The point of the kernel: the sum buffers are longs (codegen,
    primitive hash-agg), not Decimals — pin that the plan carries the
    two long partial sums and no decimal(38,6) sum buffer."""
    df = spark.range(10).select(
        (F.col("id") * 1.5).alias("x"), (F.col("id") % 2).alias("g")
    )
    plan = (
        df.groupBy("g")
        .agg(dsum(F.col("x")).alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "sum(units" in plan or "sum(CASE" in plan.replace("\n", " ") or (
        plan.count("sum(") >= 2
    ), plan
    assert "decimal(38,6)" not in plan, f"decimal sum buffer survived:\n{plan}"


def test_round_long_matches_duckdb_floor_half_on_ties(spark):
    """``round_long`` is the oracle's ``CAST(floor(v + 0.5) AS BIGINT)``
    bit for bit: exact ties at both signs go toward +inf (-2.5 -> -2),
    a value one ulp either side of a tie rounds to its side, and NULL
    stays NULL.  The scaled column is the queries' micro quantization,
    spelled as the oracle SQL spells it.  ``_micro`` (the dsum kernel's
    HALF_UP on the decimal value) parts from it on negative ties
    (-2.5e-6 -> -3, not -2) and where the double product 1e6 * x rounds
    onto a tie the decimal value is below (2.4999999999999998e-6)."""
    ties = [2.5, -2.5, 0.5, -0.5, 1.5, -1.5, 5e-7, -5e-7, 2.5e-6, -2.5e-6]
    vals = ties + [
        math.nextafter(t, side) for t in ties for side in (-math.inf, math.inf)
    ]
    vals += [0.0, -0.0, 4.4e9 + 0.5, -4.4e9 - 0.5, None]
    rows = list(enumerate(vals))
    got = spark.createDataFrame(rows, "id long, x double").select(
        "id",
        "x",
        round_long(F.col("x")).alias("r"),
        round_long(F.lit(1000000.0) * F.col("x")).alias("m"),
        _micro(F.col("x")).alias("half_up"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        "SELECT id, CAST(floor(x + 0.5) AS BIGINT),"
        " CAST(floor(1000000.0 * x + 0.5) AS BIGINT) FROM t"
    ).fetchall()
    con.close()
    assert sorted((r.id, r.r, r.m) for r in got) == sorted(want)
    by_x = {r.x: (r.r, r.m) for r in got if r.x is not None}
    assert by_x[-2.5] == (-2, -2500000) and by_x[-0.5] == (0, -500000)
    assert [r for r in got if r.x is None][0][2:4] == (None, None)
    parted = {r.x for r in got if r.half_up is not None and r.half_up != r.m}
    assert parted == {-2.5e-6, -5e-7, math.nextafter(2.5e-6, -math.inf)}, parted
