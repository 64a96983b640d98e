"""Cross-engine determinism helpers shared by all query modules.

Two rounding kernels live here, and they round ties differently:

- :func:`round_long` quantizes an OUTPUT value to integer units — every
  ``*_micro``/``*_milli``/``*_cents`` column a query returns.  It is the
  oracle's ``CAST(floor(v + 0.5) AS BIGINT)``: ties go toward +inf.
- :func:`_micro` is the per-row step of the :func:`dsum`/:func:`davg`
  kernel below: ``CAST(x AS DECIMAL(28,6))``'s HALF_UP, ties away from
  zero.  Only reductions use it.

:func:`_daily_counts` and :func:`_day_idx` hold the corpus's one daily
event-count series and its day index, and :func:`_day_diffs` its
day-over-day change; :func:`_full_frames` is the trailing k-day frame
over such a series, complete frames only.  :func:`_power_sums` and
:func:`_pearson_micro` are the exact-integer Pearson r, and
:func:`_ngram_hits` the eval n-gram overlap of the contamination check
and the decontamination pipeline.

Double summation is order-dependent, and Spark's partial aggregation
order differs from DuckDB's — a raw ``SUM(double)`` can drift in the
last ulps and fail the driver's value-hash.  Fix: sum via exact
fixed-point arithmetic (associative, order-independent) and cast the
final value back to double.  The contract (unchanged since round 1):
every value is first rounded to 6 decimal places exactly the way
``CAST(x AS DECIMAL(28,6))`` rounds it, the rounded values are summed
exactly, and the exact total is converted to double once — so the
result is bit-identical regardless of partitioning, and bit-identical
to DuckDB's ``SUM(CAST(x AS DECIMAL(28,6)))``.

r12 kernel (guide §1.2 "per-task work"): the old implementation summed
``CAST(x AS DECIMAL(28,6))`` directly — correct, but 4x the cost of a
plain double sum, because the per-row cast allocates a BigDecimal via
``Double.toString`` and the sum buffer (precision 38 > 18) is
BigDecimal-backed.  The replacement keeps the identical per-row
rounding but carries the sum in TWO LONG buffers (whole units and
micro-unit remainders — primitive, codegen-friendly, exact):

- per row, ``micro = round_half_up(x, 6dp) * 1e6`` as a long.  Fast
  path: ``floor(|x|*1e6 + 0.5)`` in pure double arithmetic.  Spark's
  double->decimal cast rounds the SHORTEST-ROUND-TRIP STRING value
  (``BigDecimal.valueOf`` -> ``Double.toString``), which differs from
  x's exact binary value by at most ulp(x)/2; the naive product
  ``p = fl(|x|*1e6)`` differs from the exact product by at most
  ``p * 2^-53``.  Both uncertainties together are under
  ``p * 2^-52``, so whenever ``frac = (p+0.5) - floor(p+0.5)`` is
  further than ``p*2.5e-16 + 1e-12`` from both 0 and 1, the string
  rounding provably equals ``floor(p+0.5)``.  Inside that band (an
  O(1e-10) fraction of price-like inputs, plus exact .5 ties), and for
  ``|x| >= 4.4e9`` (so ``p + 0.5`` stays exact), NaN/Inf, the row
  falls back to the decimal cast itself — so the per-row value is the
  OLD path's value on every input, by construction on the fallback and
  by the band argument on the fast path.
- the micro value splits into ``units = cast(x as long)`` (truncation
  toward zero — exact for |x| < 2^62) and ``frac = micro - units*1e6``
  with |frac| <= 1e6; both sums are plain long hash-agg buffers.
- per group, ``total_micro = sum(units)*1e6 + sum(frac)`` is
  reconstructed exactly in decimal(38,0), divided by 1e6 (exact — the
  true value has <= 6 dp), and cast to double via the same
  ``BigDecimal.doubleValue`` the old path's final cast used.

Bit-equality old-vs-new was proven in round 12 over 368k adversarial
rows (OPTIMIZATION_r12.md "Inherited state" item 2,
``ea6ce32:experiments/opt_r12_decimal_kernel_ab.py``: per-row micros vs
the string-rounding reference and whole-group double bits over random
bit patterns, dyadic .5 ties, boundary-stress values at
``(m+0.5)/1e6``, subnormals, ±0.0, NaN/Inf/NULL, all-null groups); the
same input families, at a few hundred to a few thousand rows each, are
pinned by ``tests/test_helpers_decimal_kernel.py``; the full oracle
sweep re-verified at both SFs in round 12.

Overflow bounds (documented, not checked — same posture as the old
path's decimal(38,6) sum): per group, |sum(x)| < 9.2e18 (the units
buffer; a full lineitem revenue sum at ~sf1e5 is ~2.3e16) and
n_rows < 9.2e12 (the frac buffer at |frac| <= 1e6).  Per row
|x| < 1e12 (the decimal(18,6) fallback domain; fixture columns top
out ~6e5).

Per-row double arithmetic (IEEE 754) needs no such treatment — both
engines produce identical bits for the same expression shape — so
projections stay plain doubles and only reductions go through the
exact kernel.

Cost note for 100 TB: the two-long kernel measures 2.2-3.1x faster
than the decimal(28,6) sum on the TPC-H Q1 shape (0.38 vs 1.18 s at
sf0.1 low-cardinality, 0.73 vs 1.64 s at ~150k groups) and shuffles
two 8-byte partials per (group, column) instead of a 16-byte Decimal —
still inside whole-stage codegen with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 38 total digits minus 6 fractional leaves 1e31 of headroom — no overflow
# risk for any fixture aggregate (and Spark widens sums to precision 38).
# Still used by inline `.cast(DEC)` sites (window sums, weighted means).
DEC = "decimal(28,6)"

# Knuth multiplicative hash, (id * KNUTH_MULT) % KNUTH_MOD: a reproducible
# pseudo-random bucket of an integer id, bit-identical in Spark and the
# DuckDB oracle on any partitioning (rand(seed) is neither).
KNUTH_MULT = 2654435761
KNUTH_MOD = 1 << 32

# Fast-path bound: |x| < 4.4e9 keeps p = |x|*1e6 safely under 2^52, so
# t = p + 0.5 is exact (ulp(p) <= 0.5) and floor/frac are exact.
_FAST_MAX = 4.4e9
# Ambiguity band around the rounding boundaries, in micro units relative
# to p: 2.5e-16 > 2^-52 covers the product rounding plus the
# string-vs-binary deviation; 1e-12 absolute covers the small-|x| regime.
_BAND_REL = 2.5e-16
_BAND_ABS = 1e-12


def _micro(c: Column) -> Column:
    """round_half_up(x, 6dp) * 1e6 as a long — bit-identical to the
    unscaled value of ``CAST(x AS DECIMAL(28,6))`` on every input (see
    module doc for the band argument).  NULL for NULL/NaN/±Inf, exactly
    like the decimal cast."""
    a = F.abs(c)
    p = a * F.lit(1000000.0)
    t = p + F.lit(0.5)
    f = F.floor(t)
    frac = t - f.cast("double")
    band = p * F.lit(_BAND_REL) + F.lit(_BAND_ABS)
    safe = (
        (a < F.lit(_FAST_MAX)) & (frac > band) & (frac < F.lit(1.0) - band)
    )
    fast = F.when(c < 0, -f).otherwise(f)
    exact = (c.cast("decimal(18,6)") * F.lit(1000000)).cast("long")
    return F.when(safe, fast).otherwise(exact)


def _micro_sum(c: Column) -> Column:
    """Exact SUM of the 6dp-rounded values, as double (two-long split)."""
    micro = _micro(c)
    # units forced to 0 (not NULL) where micro is NULL so NaN/Inf rows
    # contribute exact zeros to the units sum instead of cast(Inf as
    # long) garbage; the frac sum stays NULL-skipping, which keeps
    # all-null groups NULL (sum(frac) is NULL -> total is NULL).
    units = F.when(micro.isNotNull(), c.cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    frac = micro - units * F.lit(1000000).cast("long")
    su = F.sum(units).cast("decimal(38,0)")
    sf = F.sum(frac).cast("decimal(38,0)")
    tot = su * F.lit(1000000) + sf  # exact micro total as a decimal
    # tot/1e6 is exact (the true value has <= 6 dp; result scale >= 6),
    # then Decimal.toDouble == BigDecimal.doubleValue — the same final
    # conversion the old decimal(38,6) sum's cast performed.
    return (tot / F.lit(1000000)).cast("double")


def round_long(e: Column) -> Column:
    """``floor(e + 0.5)`` as a long — the oracle's
    ``CAST(floor(v + 0.5) AS BIGINT)``, so both engines quantize an
    output to the same integer.  Ties go toward +inf (2.5 -> 3,
    -2.5 -> -2), unlike :func:`_micro`'s HALF_UP (-2.5 -> -3).  The
    caller scales ``e`` itself (``1e6 * a / b`` and ``1e6 * (a / b)`` are
    different doubles); NULL stays NULL."""
    return F.floor(e + F.lit(0.5)).cast("long")


def _day_idx() -> Column:
    """The day number of ``ts`` since 2024-01-01 — the oracle's
    ``datediff('day', DATE '2024-01-01', CAST(ts AS DATE))``."""
    return F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))


def _daily_counts(e: DataFrame, *keys: str, x: str = "x") -> DataFrame:
    """``(event_type, *keys, x)``: each event type's event count ``x`` per
    day of ``ts``.  The day keys, in the order given, are ``t``, the
    BIGINT day number since 2024-01-01 (the default), and ``d``, the
    oracle's ``CAST(ts AS DATE)``.  A missing calendar day has no row."""
    day = {"t": _day_idx().cast("long"), "d": F.to_date("ts")}
    return e.groupBy("event_type", *(day[k].alias(k) for k in keys or ("t",))).agg(
        F.count(F.lit(1)).alias(x)
    )


# The SQL twins of _daily_counts(e) and _daily_counts(e, "d"): the oracle
# CTE daily(event_type, t, x), and daily(event_type, d, x).
DAILY_SQL_CTE = """daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    )"""
DAILY_D_SQL_CTE = """daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    )"""


def _day_diffs(e: DataFrame) -> DataFrame:
    """``(event_type, d, diff)``: the day-over-day change of each event
    type's daily count, ``x - LAG(x)`` over its days in date order; its
    first day, which has no previous row, is dropped."""
    wl = Window.partitionBy("event_type").orderBy("d")
    return _daily_counts(e, "d").select(
        "event_type", "d", (F.col("x") - F.lag("x").over(wl)).alias("diff")
    ).filter(F.col("diff").isNotNull())


def _full_frames(daily: DataFrame, k: int, keep: list[str], **aggs: Column) -> DataFrame:
    """``(event_type, d, *keep, n, *aggs)`` over a per-type daily series:
    each aggregate in ``aggs`` runs over the trailing frame of ``k`` rows
    ending at the day (``ROWS k-1 PRECEDING``); ``n`` counts the frame,
    and only complete frames (``n = k``) are kept, the oracle's
    ``WHERE n = k``: a type with fewer than ``k`` days emits no row."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(1 - k, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "d",
        *keep,
        F.count(F.lit(1)).over(w).alias("n"),
        *(a.over(w).alias(name) for name, a in aggs.items()),
    ).filter(F.col("n") == k)


def _power_sums(x: str, y: str, n: str = "n") -> list[Column]:
    """The aggregates behind a Pearson r or an OLS fit of ``y`` on ``x``:
    the count ``n`` and the exact BIGINT sums ``sx, sy, sxy, sxx, syy``
    (both columns BIGINT, so every sum is an integer and order-free)."""
    cx, cy = F.col(x), F.col(y)
    return [
        F.count(F.lit(1)).alias(n),
        F.sum(cx).alias("sx"),
        F.sum(cy).alias("sy"),
        F.sum(cx * cy).alias("sxy"),
        F.sum(cx * cx).alias("sxx"),
        F.sum(cy * cy).alias("syy"),
    ]


def _pearson_micro(n: str = "n") -> Column:
    """Pearson r from :func:`_power_sums`' columns, micro-quantized: the
    spreads are exact integers and r is one IEEE expression against two
    sqrts.  NULL when either side has zero variance (or ``n`` is 1)."""
    m, sx, sy = F.col(n), F.col("sx"), F.col("sy")
    vx = m * F.col("sxx") - sx * sx
    vy = m * F.col("syy") - sy * sy
    return F.when(
        (vx > 0) & (vy > 0),
        round_long(
            F.lit(1000000.0)
            * (m * F.col("sxy") - sx * sy).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        ),
    )


def _ngram_hits(
    docs: DataFrame, n: int, is_eval: Column, is_train: Column, *keep: str
) -> DataFrame:
    """``(eval_id, train_id, shared, n_eval_grams)``: for each pair of an
    eval document (``is_eval``) and a training document (``is_train``)
    of ``docs`` ``(doc_id, text, *keep)`` that share any word n-gram
    (``n`` space-split tokens), the number of distinct n-grams they share
    and the eval document's distinct n-gram count.  The eval side's
    distinct n-grams are broadcast, so the corpus never shuffles by
    n-gram."""
    toks = F.split("text", " ")
    grams_arr = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    grams = docs.filter(F.size(toks) >= n).select(
        "doc_id", *keep, F.explode(grams_arr).alias("gram")
    )
    eval_grams = (
        grams.filter(is_eval)
        .select(F.col("doc_id").alias("eval_id"), "gram")
        .distinct()
    )
    eval_sizes = eval_grams.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_eval_grams")
    )
    hits = (
        grams.filter(is_train)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.countDistinct("gram").alias("shared"))
    )
    return hits.join(F.broadcast(eval_sizes), "eval_id")


def _ngram_hits_sql(is_train: str) -> str:
    """The oracle CTE of :func:`_ngram_hits`' pair stage: hits(train_id,
    eval_id, shared) over the CTEs grams ``g`` and eval_grams ``e``, for
    the training n-grams where ``is_train`` holds."""
    return f"""hits AS (
        SELECT g.doc_id AS train_id, e.eval_id,
               COUNT(DISTINCT g.gram) AS shared
        FROM grams g JOIN eval_grams e ON g.gram = e.gram
        WHERE {is_train}
        GROUP BY g.doc_id, e.eval_id
    )"""


def dsum(col: Column | str) -> Column:
    """Order-independent SUM over a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return _micro_sum(c)


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact 6dp sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return _micro_sum(c) / F.count(c)


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) / COUNT({expr})"
