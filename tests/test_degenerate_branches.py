"""Literal-frame witnesses for degenerate-input gates (r6 verdict item 4
+ r6 ADVICE items).

These branches exist to keep the two engines' NULL semantics aligned
where IEEE division would diverge (Spark x/0 = NULL; DuckDB x/0 = inf,
whose BIGINT cast errors).  None of them can be reached from the real
fixtures — the Durbin-Levinson biased-ACF estimator is strictly
positive-definite, every sf fixture lang has a rich vocabulary, every
event_type has thousands of users and a full calendar — so each test
drives the gate with a literal frame or a doctored corpus through BOTH
engines and asserts the identical NULL/filtered result.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from covid_data_pipeline_spark.io import load as load_table
from covid_data_pipeline_spark.queries.corpus import (
    _durbin_levinson_spark,
    _durbin_levinson_sql,
)
from covid_data_pipeline_spark.registry import load_all

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_harness import run_compare


def _doctored_dir(tmp_path, spark, table, extra_df):
    """A scale-factor dir where `table` = sf0.001's rows + extra_df,
    every other table symlinked from sf0.001 — so run_compare (and the
    oracle's pre-registered views) work unchanged."""
    d = tmp_path / "sf_doctored"
    d.mkdir()
    from covid_data_pipeline_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != table:
            os.symlink(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    base = load_table(spark, SF_SMOKE, table)
    # INT96 timestamps read back as ns in pyarrow, which would misfire
    # io.py's nanos footer sniff — write plain int64 micros
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    base.unionByName(extra_df).coalesce(1).write.parquet(
        str(d / f"{table}.parquet")
    )
    return str(d)


def _doctored_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """make_duck for a dir whose doctored table is a Spark-written
    directory (read via glob) while the rest are plain files."""
    from covid_data_pipeline_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def test_durbin_levinson_degenerate_gate(spark):
    """v_{k-1} <= 0 must NULL the reflection coefficient and everything
    downstream on BOTH engines (corpus.py:_durbin_levinson_sql) — row 1
    degenerates at step 1 (r1 = 1 -> v_1 = 0), row 2 mid-chain at step
    2 (a_2 = 1 -> v_2 = 0), row 3 is a healthy control."""
    cols = "event_type string, r1 double, r2 double, r3 double, r4 double, r5 double, r6 double, r7 double"
    rows = [
        ("deg_step1", 1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625),
        ("deg_step2", 0.5, 1.0, 0.25, 0.125, 0.0625, 0.03125, 0.015625),
        ("healthy", 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125),
    ]
    got_spark = {
        r["event_type"]: [r[f"phi_{k}_{k}"] for k in range(1, 8)]
        + [r[f"v_{k}"] for k in range(1, 8)]
        for r in _durbin_levinson_spark(spark.createDataFrame(rows, cols)).collect()
    }
    con = duckdb.connect()
    base = " UNION ALL ".join(
        "SELECT '%s' AS event_type, %s"
        % (t, ", ".join(f"CAST({v} AS DOUBLE) AS r{i+1}" for i, v in enumerate(rs)))
        for t, *rs in rows
    )
    sql = (
        f"WITH base AS ({base}),\n    {_durbin_levinson_sql()}\n"
        "SELECT * FROM step7"
    )
    duck = con.execute(sql).df()
    got_duck = {
        row["event_type"]: [
            None if (isinstance(row[f"phi_{k}_{k}"], float) and math.isnan(row[f"phi_{k}_{k}"])) or row[f"phi_{k}_{k}"] is None else row[f"phi_{k}_{k}"]
            for k in range(1, 8)
        ]
        + [
            None if (isinstance(row[f"v_{k}"], float) and math.isnan(row[f"v_{k}"])) or row[f"v_{k}"] is None else row[f"v_{k}"]
            for k in range(1, 8)
        ]
        for _, row in duck.iterrows()
    }
    # step-1 degenerate: phi_1_1 = 1, v_1 = 0, every later phi/v NULL
    assert got_spark["deg_step1"][0] == 1.0
    assert got_spark["deg_step1"][7] == 0.0
    assert got_spark["deg_step1"][1:7] == [None] * 6
    assert got_spark["deg_step1"][8:] == [None] * 6
    # mid-chain degenerate: phi_1_1/phi_2_2 real, v_2 = 0, rest NULL
    assert got_spark["deg_step2"][1] == 1.0  # a_2 = (1.0 - 0.25)/0.75
    assert got_spark["deg_step2"][8] == 0.0  # v_2
    assert got_spark["deg_step2"][2:7] == [None] * 5
    assert got_spark["deg_step2"][9:] == [None] * 5  # v_3..v_7
    # healthy control: no NULL anywhere
    assert all(x is not None for x in got_spark["healthy"])
    # cross-engine: identical IEEE chain, identical NULLs
    for t in got_spark:
        for a, b in zip(got_spark[t], got_duck[t]):
            assert (a is None) == (b is None), (t, a, b)
            if a is not None:
                assert a == b, (t, a, b)


def test_zipf_degenerate_languages(spark, tmp_path):
    """A lang with one ranked term (denx = 0) and a lang whose top-K
    counts are all identical (deny = 0) must produce NULL
    slope/r2 on BOTH engines (llm_text.py text_zipf_fit guards)."""
    extra = spark.createDataFrame(
        # zz-solo: one doc, one distinct token -> n_terms = 1
        [(2_000_001, "lonely lonely lonely", "zz-solo", "synthetic", 20)]
        # zz-flat: every token appears exactly once -> all cnt = 1
        + [
            (2_000_002 + i, " ".join(f"tok{i}w{j}" for j in range(4)), "zz-flat", "synthetic", 40)
            for i in range(3)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = _doctored_dir(tmp_path, spark, "documents", extra)
    spec = load_all()["text_zipf_fit"]
    con = _doctored_duck(d)
    run_compare("text_zipf_fit", spec, spark, con, d)
    con.close()
    got = {r["lang"]: r for r in spec.fn(spark, d).collect()}
    assert got["zz-solo"]["slope_micro"] is None
    assert got["zz-solo"]["r2_micro"] is None
    assert got["zz-flat"]["slope_micro"] == 0  # num = 0, denx > 0
    assert got["zz-flat"]["r2_micro"] is None  # deny = 0
    assert got["en"]["slope_micro"] is not None  # healthy control


def test_bottomk_degenerate_groups(spark, tmp_path):
    """A group below sketch capacity (fewer than k distinct users) must
    take the textbook KMV exact-mode branch — kmv_est = n_bottom — on
    BOTH engines; this also covers the hk = 0 case (user_id 0 is the
    only id hashing to 0, so hk = 0 implies n_bottom = 1 < k), keeping
    DuckDB's //-raises-on-0 from ever diverging from Spark's
    div-NULLs-on-0 (corpus.py sample_bottomk_sketch guards)."""
    from datetime import datetime

    ts = datetime(2024, 3, 1, 12, 0, 0)
    extra = spark.createDataFrame(
        # hash of user 0 is 0 -> hk = 0 for this singleton group
        [(9_000_001, ts, 0, "zz_solo_zero", 1.0, "{}")]
        # 3 distinct users < _KMV_K = 16
        + [
            (9_000_002 + u, ts, 100 + u, "zz_few_users", 1.0, "{}")
            for u in range(3)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = _doctored_dir(tmp_path, spark, "events", extra)
    spec = load_all()["sample_bottomk_sketch"]
    con = _doctored_duck(d)
    run_compare("sample_bottomk_sketch", spec, spark, con, d)
    con.close()
    rows = spec.fn(spark, d).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    # exact mode: hk = 0 for the singleton group, yet est is exact 1
    assert all(r["kmv_est"] == 1 for r in by_type["zz_solo_zero"])
    assert all(r["kmv_est"] == 3 for r in by_type["zz_few_users"])
    healthy = [t for t in by_type if not t.startswith("zz_")]
    # sf0.001 types hold 15 < k = 16 distinct users: exact mode too
    assert healthy and all(
        r["kmv_est"] == 15 for t in healthy for r in by_type[t]
    )


def test_lttb_empty_buckets_carry_anchor_and_drop_seed(spark, tmp_path):
    """A series with < 10 interior days leaves some LTTB buckets empty:
    the [-1,0,0] fold seed must NOT surface as a fabricated (0,0)
    point, and the next bucket must anchor on the previous REAL pick
    (corpus.py ts_lttb_downsample + _lttb_sql) — identical on both
    engines."""
    from datetime import datetime

    # 5 distinct days -> 3 interior points across 8 buckets
    extra = spark.createDataFrame(
        [
            (9_100_000 + 10 * day + i, datetime(2024, 2, 1 + day, 8, 0, 0),
             50 + i, "zz_short_series", 1.0, "{}")
            for day, n in [(0, 2), (1, 5), (2, 1), (3, 4), (4, 2)]
            for i in range(n)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = _doctored_dir(tmp_path, spark, "events", extra)
    spec = load_all()["ts_lttb_downsample"]
    con = _doctored_duck(d)
    run_compare("ts_lttb_downsample", spec, spark, con, d)
    con.close()
    rows = [
        r
        for r in spec.fn(spark, d).collect()
        if r["event_type"] == "zz_short_series"
    ]
    # first + last + 3 interior picks = 5 rows; 5 empty buckets dropped
    assert len(rows) == 5, rows
    sel = {r["sel_idx"] for r in rows}
    assert 0 in sel and 9 in sel
    # every emitted point is a real series point, never the (0,0) seed
    real = {(0, 2), (1, 5), (2, 1), (3, 4), (4, 2)}
    got_pts = {(r["day_idx"] - 31, r["day_value"]) for r in rows}
    assert got_pts <= real, got_pts


def _lttb_reference(series: dict[int, int]) -> set[tuple[int, int, int]]:
    """Plain-Python LTTB over one {day: count} series, same contract as
    ts_lttb_downsample: 8 buckets by rank, the third point is the next
    non-empty bucket's centroid (else the last point), integer areas,
    ties keep the earliest day, empty buckets emit nothing."""
    days = sorted(series)
    n, first, last = len(days), days[0], days[-1]
    buckets: dict[int, list[int]] = {}
    for rk, t in enumerate(days[1:-1]):
        buckets.setdefault(rk * 8 // (n - 2), []).append(t)
    out = {(0, first, series[first]), (9, last, series[last])}
    at, av = first, series[first]
    for k in range(8):
        later = [j for j in range(k + 1, 8) if j in buckets]
        if later:
            b = buckets[later[0]]
            ct, cv, cc = sum(b), sum(series[t] for t in b), len(b)
        else:
            ct, cv, cc = last, series[last], 1
        best, pick = -1, None
        for t in buckets.get(k, []):
            v = series[t]
            area = abs((at * cc - ct) * (v - av) - (at - t) * (cv - av * cc))
            if area > best:
                best, pick = area, t
        if pick is not None:
            at, av = pick, series[pick]
            out.add((k + 1, at, av))
    return out


def test_lttb_matches_python_reference(spark, duck):
    """Spark and the DuckDB oracle both equal an independent pure-Python
    LTTB at sf0.01 (DuckDB 1.0.0 once returned fold seeds and
    thread-count-dependent picks here while agreeing with nothing)."""
    from collections import Counter

    spec = load_all()["ts_lttb_downsample"]
    daily = Counter(
        (r[0], r[1])
        for r in duck.execute(
            "SELECT event_type, datediff('day', DATE '2024-01-01', "
            "CAST(ts AS DATE)) FROM events"
        ).fetchall()
    )
    want = {
        (et, *pt)
        for et in {et for et, _ in daily}
        for pt in _lttb_reference({t: v for (e, t), v in daily.items() if e == et})
    }
    got_spark = {
        (r["event_type"], r["sel_idx"], r["day_idx"], r["day_value"])
        for r in spec.fn(spark, SF_ORACLE).collect()
    }
    got_duck = set(duck.execute(spec.oracle).fetchall())
    assert got_spark == want
    assert got_duck == want


def test_cramers_v_includes_zero_observed_cells(spark, tmp_path):
    """r7 ADVICE: agg_cramers_v must chi-square over the FULL
    types x dow grid — a type observed on a single day has six
    zero-observed cells, each contributing its expected count r*c/N.
    The real fixtures cover every cell, so a doctored corpus adds a
    one-day type; both engines must agree (full-grid SQL vs full-grid
    plan) and the statistic must exceed the present-cells-only sum."""
    import datetime

    extra = spark.createDataFrame(
        [
            (
                9_000_001 + i,
                datetime.datetime(2024, 1, 3, 12, 0, 0),
                9_000_001,
                "zz-oneday",
                1.0,
                "{}",
            )
            for i in range(3)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = _doctored_dir(tmp_path, spark, "events", extra)
    spec = load_all()["agg_cramers_v"]
    con = _doctored_duck(d)
    run_compare("agg_cramers_v", spec, spark, con, d)
    # present-cells-only chi-square (the pre-fix formulation) computed
    # in DuckDB on the same doctored corpus
    present_only = con.sql(
        """
        WITH daily AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) % 7 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ),
        rowt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
                 FROM daily GROUP BY event_type),
        colt AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c
                 FROM daily GROUP BY dow),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM daily)
        SELECT CAST(SUM(CAST(floor(1000000.0
                 * (CAST(d.o * t.n - rt.r * ct.c AS DOUBLE)
                    * CAST(d.o * t.n - rt.r * ct.c AS DOUBLE))
                 / (CAST(t.n AS DOUBLE) * rt.r * ct.c)
                 + 0.5) AS BIGINT)) AS BIGINT)
        FROM daily d JOIN rowt rt USING (event_type)
        JOIN colt ct USING (dow) CROSS JOIN tot t
        """
    ).fetchone()[0]
    con.close()
    got = spec.fn(spark, d).collect()[0]
    assert got["n_rows"] == 6  # the doctored type joined the grid
    assert got["chisq_micro"] > present_only, (
        "zero-observed cells contributed nothing — full-grid fix regressed"
    )


def test_priority_mix_shift_counts_vanished_categories(spark, tmp_path):
    """r7 ADVICE: analytics_priority_mix_shift must FULL-OUTER pair
    month shares so a priority present in month m-1 but absent in m
    enters with p = 0 (the vanished direction).  TPC-H's 5 priorities
    are always present, so a doctored orders table adds a priority
    that exists only in 1995-03; 1995-04's pairing must then hold 6
    priorities, and both engines must agree on the JS divergence."""
    import datetime

    extra = spark.createDataFrame(
        [
            (
                9_000_001 + i,
                1 + i,
                "O",
                1000.0,
                datetime.date(1995, 3, 10 + i),
                "9-ZZVANISH",
            )
            for i in range(3)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    d = _doctored_dir(tmp_path, spark, "orders", extra)
    spec = load_all()["analytics_priority_mix_shift"]
    con = _doctored_duck(d)
    run_compare("analytics_priority_mix_shift", spec, spark, con, d)
    con.close()
    got = {r["month_idx"]: r for r in spec.fn(spark, d).collect()}
    m_mar = 1995 * 12 + 3 - 1  # the month the priority exists
    assert got[m_mar]["n_priorities"] == 6  # appearing direction (q=0)
    assert got[m_mar + 1]["n_priorities"] == 6  # vanished direction (p=0)
    # a control month far from the doctoring still has the 5 TPC-H
    # priorities on both sides
    assert got[m_mar + 3]["n_priorities"] == 5


def test_fisher_exact_matches_pure_python_hypergeometric(spark):
    """agg_fisher_exact's stepwise-integer-division binomials and
    two-sided tail must equal an independent math.comb reference
    exactly (same integers, so no tolerance)."""
    import math

    from covid_data_pipeline_spark.io import load as load_table
    import pyspark.sql.functions as F

    got = {
        r["event_type"]: r
        for r in load_all()["agg_fisher_exact"].fn(spark, SF_SMOKE).collect()
    }
    daily = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("t"),
        )
        .count()
        .collect()
    )
    by_type: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        by_type.setdefault(r["event_type"], []).append((r["t"], r["count"]))
    for et, rows in by_type.items():
        n = len(rows)
        s = sum(x for _, x in rows)
        c1 = sum(1 for t, _ in rows if t % 7 in (5, 6))
        r1 = sum(1 for _, x in rows if x * n > s)
        a = sum(1 for t, x in rows if t % 7 in (5, 6) and x * n > s)
        lo, hi = max(0, c1 - (n - r1)), min(r1, c1)
        nums = {
            k: math.comb(r1, k) * math.comb(n - r1, c1 - k)
            for k in range(lo, hi + 1)
        }
        denom = sum(nums.values())
        p = sum(v for v in nums.values() if v <= nums[a]) / denom
        want = math.floor(1_000_000.0 * p + 0.5)
        assert got[et]["n_days"] == n and got[et]["a_obs"] == a
        assert got[et]["p_two_sided_micro"] == want, (et, got[et], want)


def test_incremental_ingest_clean_gate_drops_whitespace_only_doc(
    spark, tmp_path
):
    """pipeline_incremental_ingest's clean gate (length(cleaned) >= 1)
    drops nothing on the real fixtures — every document has text.  A
    doctored whitespace-only document (cleaned to the empty string by
    the trim+fold normalizer) must be counted at 'offered' but die at
    'clean' IDENTICALLY on both engines, and, being outside every
    seeded feed (doc_id % 5 != 0, % 20 not in {0, 10}, % 15 != 1), it
    must not perturb any later stage relative to its own funnel."""
    extra = spark.createDataFrame(
        [(999_983, "   \t  ", "en", "src9", 6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = _doctored_dir(tmp_path, spark, "documents", extra)
    reg = load_all()
    run_compare(
        "pipeline_incremental_ingest",
        reg["pipeline_incremental_ingest"],
        spark,
        _doctored_duck(d),
        d,
    )
    rows = {
        r["stage"]: r["n_docs"]
        for r in reg["pipeline_incremental_ingest"].fn(spark, d).collect()
    }
    base = {
        r["stage"]: r["n_docs"]
        for r in reg["pipeline_incremental_ingest"].fn(spark, SF_SMOKE).collect()
    }
    assert rows["offered"] == base["offered"] + 1
    assert rows["clean"] == base["clean"], "whitespace-only doc must die at clean"
    assert rows["quality"] == base["quality"]
    assert rows["merged_total"] == base["merged_total"]


def test_decontaminate_too_short_doc_has_no_shingles_but_is_reported(
    spark, tmp_path
):
    """pipeline_decontaminate's shingle stage excludes documents shorter
    than the n-gram length (len(tokens) < 3 -> zero grams) — a branch
    no fixture document reaches.  A doctored 2-token TRAIN document
    must appear in its split's n_before/n_after (it cannot leak, so it
    cannot be killed) and the full report must still hash-match the
    DuckDB oracle.  doc_id chosen so the Knuth-hash bucket lands in
    train (b < 80)."""
    from covid_data_pipeline_spark.queries._helpers import KNUTH_MOD, KNUTH_MULT

    doc_id = next(
        i
        for i in range(999_000, 1_000_000)
        if (i * KNUTH_MULT) % KNUTH_MOD % 100 < 80
    )
    extra = spark.createDataFrame(
        [(doc_id, "two tokens", "en", "src9", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = _doctored_dir(tmp_path, spark, "documents", extra)
    reg = load_all()
    run_compare(
        "pipeline_decontaminate",
        reg["pipeline_decontaminate"],
        spark,
        _doctored_duck(d),
        d,
    )
    rows = {
        r["split"]: (r["n_before"], r["n_dropped"], r["n_after"])
        for r in reg["pipeline_decontaminate"].fn(spark, d).collect()
    }
    base = {
        r["split"]: (r["n_before"], r["n_dropped"], r["n_after"])
        for r in reg["pipeline_decontaminate"].fn(spark, SF_SMOKE).collect()
    }
    assert rows["train"][0] == base["train"][0] + 1
    assert rows["train"][1] == base["train"][1], "gram-less doc cannot be killed"
    assert rows["train"][2] == base["train"][2] + 1
    assert rows["test"] == base["test"]
