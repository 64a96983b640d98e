"""Boundary witnesses for the shared helpers behind the as-of joins, the
gap fills, the kNN-graph census, the stream-stream left join and the
daily event-count series (its trailing frames, calendar gaps, Pearson r
and midranks): each query runs on a few hand-built rows placed exactly
on its edges (a gap of exactly the tolerance, equidistant neighbours,
leading and trailing gaps, a degree-1 node, a view exactly one hour
before its purchase, a type one day short of a full frame, a missing
day, a constant series, tied counts), which the generated fixtures
never pin down row by row."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.io import load
from covid_data_pipeline_spark.queries._helpers import _daily_counts
from covid_data_pipeline_spark.queries.corpus import _midrank_x2
from covid_data_pipeline_spark.queries.joins import _ASOF_TOL_US
from covid_data_pipeline_spark.registry import load_all

T0 = datetime(2024, 1, 10, 12, tzinfo=timezone.utc)
TOL = timedelta(microseconds=_ASOF_TOL_US)
US = timedelta(microseconds=1)
HOUR = timedelta(hours=1)


def _write(sf_dir, table: str, schema: pa.Schema, rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    pq.write_table(pa.table(cols, schema=schema), sf_dir / f"{table}.parquet")


def _events_dir(tmp_path, rows) -> str:
    """An sf dir whose events table is ``rows`` of (event_id, ts,
    user_id, event_type, value); a single file, as the stream reader
    wants."""
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    _write(tmp_path, "events", schema, [(*r, "{}") for r in rows])
    return str(tmp_path)


def _run(spark, name, sf_dir, key):
    return {r[key]: r.asDict() for r in load_all()[name].fn(spark, sf_dir).collect()}


def _oracle_rows(name, sf_dir) -> list[dict]:
    """The query's oracle SQL run by DuckDB over the events in ``sf_dir``."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )
        cur = con.execute(load_all()[name].oracle)
        cols = [c[0] for c in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def _oracle(name, sf_dir, key):
    return {r[key]: r for r in _oracle_rows(name, sf_dir)}


def _both(spark, name, sf_dir) -> tuple[list[dict], list[dict]]:
    """The query's rows and its oracle's on ``sf_dir``, in one order."""
    def order(rows):
        return sorted(rows, key=lambda r: [str(r[c]) for c in sorted(r)])
    got = [r.asDict() for r in load_all()[name].fn(spark, sf_dir).collect()]
    return order(got), order(_oracle_rows(name, sf_dir))


@pytest.fixture
def asof_dir(tmp_path):
    """One purchase per user: user 1's only view is exactly the tolerance
    before it, user 2's one microsecond more, user 3 has a view equally
    far before and after, user 4's only view is exactly the tolerance
    after it."""
    d = timedelta(minutes=10)
    return _events_dir(tmp_path, [
        (1, T0, 1, "view", 1.0), (2, T0 + TOL, 1, "purchase", 1.0),
        (3, T0, 2, "view", 1.0), (4, T0 + TOL + US, 2, "purchase", 1.0),
        (5, T0, 3, "view", 1.0), (6, T0 + d, 3, "purchase", 1.0),
        (7, T0 + 2 * d, 3, "view", 1.0),
        (8, T0, 4, "purchase", 1.0), (9, T0 + TOL, 4, "view", 1.0),
    ])


def test_asof_backward_matches_any_prior_view(spark, asof_dir):
    got = _run(spark, "join_asof", asof_dir, "user_id")
    assert got[1]["gap_us"] == _ASOF_TOL_US
    assert got[2]["gap_us"] == _ASOF_TOL_US + 1
    assert got[4]["prior_view_ts"] is None and got[4]["gap_us"] is None


def test_asof_tolerance_keeps_exact_tolerance_and_drops_one_more(spark, asof_dir):
    got = _run(spark, "join_asof_tolerance", asof_dir, "user_id")
    assert (got[1]["gap_us"], got[1]["stale_dropped"]) == (_ASOF_TOL_US, 0)
    assert got[1]["matched_view_ts"] is not None
    assert got[2]["matched_view_ts"] is None and got[2]["gap_us"] is None
    assert got[2]["stale_dropped"] == 1
    # no prior view at all is not stale
    assert got[4]["stale_dropped"] == 0


def test_asof_nearest_tolerance_edges_and_tie_goes_backward(spark, asof_dir):
    got = _run(spark, "join_asof_nearest", asof_dir, "user_id")
    t0_us = int(T0.timestamp()) * 1_000_000
    assert got[1]["matched_view_us"] == t0_us
    assert got[2]["matched_view_us"] is None
    assert got[3]["matched_view_us"] == t0_us  # the earlier of two equidistant
    assert got[4]["matched_view_us"] == t0_us + _ASOF_TOL_US


@pytest.fixture
def gap_dir(tmp_path):
    """User 1 has events on days 2 and 4 of a 5-day spine that user 2's
    events on days 1 and 5 span."""
    day = timedelta(days=1)
    return _events_dir(tmp_path, [
        (1, T0 + day, 1, "view", 2.0), (2, T0 + 3 * day, 1, "view", 4.0),
        (3, T0, 2, "view", 9.0), (4, T0 + 4 * day, 2, "view", 9.0),
    ])


def _user1(spark, name, sf_dir):
    rows = load_all()[name].fn(spark, sf_dir).filter("user_id = 1").orderBy("day")
    return [r.asDict() for r in rows.collect()]


def test_ffill_leaves_leading_gap_null(spark, gap_dir):
    got = [r["v_filled"] for r in _user1(spark, "ts_gapfill_ffill", gap_dir)]
    assert got == [None, 2.0, 2.0, 4.0, 4.0]


def test_bfill_leaves_trailing_gap_null(spark, gap_dir):
    got = [r["v_filled"] for r in _user1(spark, "ts_backfill_bfill", gap_dir)]
    assert got == [2.0, 2.0, 4.0, 4.0, None]


def test_interpolation_flags_neither_edge_gap(spark, gap_dir):
    got = _user1(spark, "ts_interpolate_linear", gap_dir)
    assert [r["v_interp"] for r in got] == [None, 2.0, 3.0, 4.0, None]
    assert [r["is_interp"] for r in got] == [0, 0, 1, 0, 0]


@pytest.fixture
def graph_dir(tmp_path):
    """Customer 1 buys from suppliers 1, 2 and 3 and customer 2 from 1
    and 4: the kNN graph is the triangle 1-2-3 plus the pendant 1-4."""
    baskets = [(1, 1, [1, 2, 3]), (2, 2, [1, 4])]  # (order, customer, suppliers)
    orders = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64())])
    _write(tmp_path, "orders", orders, [(o, c) for o, c, _ in baskets])
    lineitem = pa.schema([("l_orderkey", pa.int64()), ("l_suppkey", pa.int64())])
    _write(tmp_path, "lineitem", lineitem, [(o, s) for o, _, ss in baskets for s in ss])
    return str(tmp_path)


def test_clustering_coeff_pendant_is_null_and_clique_is_one(spark, graph_dir):
    got = _run(spark, "graph_clustering_coeff", graph_dir, "node_id")
    assert {v: (r["degree"], r["n_triangles"], r["local_coeff_micro"])
            for v, r in got.items()} == {
        1: (3, 1, 333333),
        2: (2, 1, 1000000),
        3: (2, 1, 1000000),
        4: (1, 0, None),
    }


def test_knn_triangle_census_of_the_same_graph(spark, graph_dir):
    (row,) = load_all()["graph_knn_triangles"].fn(spark, graph_dir).collect()
    assert row.asDict() == {"n_nodes": 4, "n_edges": 4, "n_wedges": 5, "n_triangles": 1}


def test_stream_left_join_window_edges_and_closable_bound(spark, tmp_path):
    """User 1's view is exactly one hour before the purchase (matched),
    user 2's one microsecond more (NULL view), user 3 has no view (NULL
    view); user 4's purchase lies past max(ts) - 3 h, where the outer
    verdict is not final yet, so it is not emitted.  User 5's late view
    moves the view side's watermark past the unmatched purchases.

    A feed that ends on a click leaves the join's watermark (the earlier
    side's max event time, truncated to ms, - 2 h) before max(ts) - 3 h:
    an unmatched purchase exactly 1 ms before that watermark is emitted,
    one a microsecond later stays parked, and the oracle agrees."""
    sf_dir = _events_dir(tmp_path, [
        (1, T0, 1, "view", 1.0), (2, T0 + HOUR, 1, "purchase", 1.0),
        (3, T0, 2, "view", 1.0), (4, T0 + HOUR + US, 2, "purchase", 1.0),
        (5, T0 + HOUR, 3, "purchase", 1.0),
        (6, T0 + 7 * HOUR, 4, "purchase", 1.0),
        (7, T0 + 9 * HOUR, 5, "view", 1.0),
    ])
    got = _run(spark, "stream_stream_left_join", sf_dir, "user_id")
    assert {u: (r["view_id"], r["gap_us"]) for u, r in got.items()} == {
        1: (1, 3_600_000_000),
        2: (None, None),
        3: (None, None),
    }

    ms = timedelta(milliseconds=1)
    click_dir = tmp_path / "click"
    click_dir.mkdir()
    sf_dir = _events_dir(click_dir, [
        (1, T0, 1, "view", 1.0), (2, T0 + HOUR, 1, "purchase", 1.0),
        (3, T0 + HOUR, 2, "purchase", 1.0),
        (4, T0 + 2 * HOUR - ms, 3, "purchase", 1.0),
        (5, T0 + 2 * HOUR - ms + US, 4, "purchase", 1.0),
        (6, T0 + 4 * HOUR + 700 * US, 5, "view", 1.0),
        (7, T0 + 9 * HOUR, 6, "purchase", 1.0),
        (8, T0 + 10 * HOUR, 7, "click", 1.0),
    ])
    got = _run(spark, "stream_stream_left_join", sf_dir, "user_id")
    assert {u: r["view_id"] for u, r in got.items()} == {1: 1, 2: None, 3: None}
    assert got == _oracle("stream_stream_left_join", sf_dir, "user_id")


DAY = timedelta(days=1)
D0 = datetime(2024, 1, 1, 12, tzinfo=timezone.utc)  # day number 0, a Monday


def _daily_dir(tmp_path, counts: dict[str, list[int]]) -> str:
    """An sf dir whose events give each type ``counts[type][i]`` events
    on day ``i``; a 0 leaves the day out of the series."""
    rows = []
    for etype, xs in counts.items():
        for day, x in enumerate(xs):
            rows += [(len(rows) + j + 1, D0 + day * DAY, 1, etype, 1.0) for j in range(x)]
    return _events_dir(tmp_path, rows)


def _day(i: int) -> str:
    return (D0 + i * DAY).strftime("%Y-%m-%d")


@pytest.mark.parametrize("name, days", [
    ("win_bollinger_exact", 7),
    ("win_stochastic_oscillator", 7),
    ("win_ulcer_index", 7),
    ("win_rsi", 15),  # a 14-row frame of day-over-day diffs
])
def test_trailing_frame_needs_all_its_days(spark, tmp_path, name, days):
    """A type one day short of a complete frame emits nothing; a type with
    exactly enough days emits one row, on its last day."""
    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]
    sf_dir = _daily_dir(tmp_path, {"full": xs[:days], "short": xs[:days - 1]})
    got, want = _both(spark, name, sf_dir)
    assert got == want
    assert [(r["event_type"], r["day"]) for r in got] == [("full", _day(days - 1))]


def test_missing_day_is_absent_and_week_over_week_skips_it(spark, tmp_path):
    """Day 7 has no events: the series has no row for it (not a 0), and
    week-over-week emits neither day 7 nor day 14, whose week-ago day it
    is, while every other day from 8 on meets its week-ago day."""
    xs = [2, 3, 4, 5, 6, 7, 8, 0, 9, 10, 11, 12, 13, 14, 15]
    sf_dir = _daily_dir(tmp_path, {"view": xs})
    series = _daily_counts(load(spark, sf_dir, "events"), "d").collect()
    assert sorted((r["d"].isoformat(), r["x"]) for r in series) == [
        (_day(i), x) for i, x in enumerate(xs) if x
    ]
    got, want = _both(spark, "win_week_over_week", sf_dir)
    assert got == want
    assert [(r["day"], r["n"], r["n_prev"]) for r in got] == [
        (_day(i), xs[i], xs[i - 7]) for i in range(8, 14)
    ]


def test_pearson_r_is_null_without_variance_or_with_one_pair(spark, tmp_path):
    """``b`` is constant, so every r against it is NULL; lags of 2 days
    overlap three-day series in one pair, whose r is NULL too; ``a`` and
    ``c`` correlate 0.5 at lag 0 and -1 at lag 1 (two pairs)."""
    sf_dir = _daily_dir(tmp_path, {"a": [1, 2, 3], "b": [2, 2, 2], "c": [1, 3, 2]})
    got, want = _both(spark, "ts_cross_correlation", sf_dir)
    assert got == want
    r = {(x["type_a"], x["type_b"], x["lag"]): (x["n"], x["r_micro"]) for x in got}
    assert r[("a", "b", 0)] == (3, None) and r[("b", "c", 0)] == (3, None)
    assert r[("a", "c", 0)] == (3, 500000)
    assert r[("a", "c", 1)] == (2, -1000000)
    assert r[("a", "c", 2)] == r[("a", "c", -2)] == (1, None)
    assert ("a", "c", 3) not in r


def test_tied_values_share_one_midrank(spark, tmp_path):
    """Ranks 2-4 tie at midrank 3 and ranks 5-7 at 6 (doubled: 6 and 12).
    Mann-Whitney's weekend days (t % 7 in 5, 6) hold one value of each
    tie group, so 2*U1 = (6 + 12) - 2*3 = 12; Wilcoxon's week-over-week
    diffs +1, -1, +2 tie on |d| = 1 (doubled midrank 3 each), so
    2*W+ = 3 + 6 = 9."""
    xs = [1, 2, 2, 3, 3, 2, 3]
    df = spark.createDataFrame([("v", x) for x in xs], "event_type string, x long")
    assert sorted(
        tuple(r) for r in df.select("x", _midrank_x2(F.col("x"))).collect()
    ) == [(1, 2), (2, 6), (2, 6), (2, 6), (3, 12), (3, 12), (3, 12)]

    got, want = _both(spark, "agg_mannwhitney_u", _daily_dir(tmp_path, {"v": xs}))
    assert got == want
    assert [(r["n_weekend"], r["n_weekday"], r["u1_x2"]) for r in got] == [(2, 5, 12)]

    paired = tmp_path / "paired"
    paired.mkdir()
    sf_dir = _daily_dir(paired, {"v": [5, 5, 5, 1, 1, 1, 1, 6, 4, 7]})
    got, want = _both(spark, "agg_wilcoxon_signed", sf_dir)
    assert got == want
    assert [(r["n_pairs"], r["w_plus_x2"]) for r in got] == [(3, 9)]
