"""Event-time transformations shared by batch twins and true streams.

Reference analogue: the per-scan-cycle aggregation, sessionization and
skip-if-same-hash logic the reference pipeline runs imperatively per
run (SURVEY.md §2.9).  Each function takes an ``events``-shaped
DataFrame (batch or streaming) and returns a lazily-transformed frame,
so the exact same logical plan is oracle-checked in batch and executed
incrementally by Structured Streaming.

Scale notes: every aggregation here keys on bounded state —
(window, event_type) or (user, session) — and relies on watermarks for
state eviction in the streaming path.  All expressions are built-ins
(no Python UDFs), so micro-batches stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..queries._helpers import DEC

HOUR_US = 3_600_000_000
GAP_US = 1_800_000_000  # 30-minute session gap


def hourly_window(df: DataFrame, slide: str | None = None) -> DataFrame:
    """1-hour window count + exact sum of value by event_type: tumbling,
    or sliding every ``slide`` (with a slide of 15 minutes each event
    lands in exactly 4 windows, since the slide divides the width)."""
    return (
        df.groupBy(F.window("ts", "1 hour", slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("ws_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stateful_user_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total) carried in explicit GroupState
    across micro-batches, emitting the updated totals each batch — the
    arbitrary-state escape hatch for operators the built-in windowed
    aggregations can't express (reference analogue: per-source scan
    bookkeeping carried between runs).

    State is one tiny tuple per user (bounded by distinct users, not
    events); at 100 TB the state store shards with the shuffle partitions
    of the user_id grouping.  Arrow-batched — the per-row Python cost is
    amortized across each micro-batch.

    The value total is carried as EXACT integer micro-units
    (floor(value*1e6 + 0.5), summed as int64) rather than a running
    float: integer addition is order-free, so the emitted total is
    bit-identical at any micro-batch split / arrival order — the same
    determinism doctrine as the batch DECIMAL trick (_helpers.DEC), and
    what lets a genuine streaming run hash-check against batch SQL
    (events.value is 2-decimal money, so the quantization is exact).
    The emitted double is one exact division s/1e6."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        import numpy as np

        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            s += int(np.floor(v * 1e6 + 0.5).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s / 1e6]}
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_change_detect(df: DataFrame) -> DataFrame:
    """The reference's core loop as a TRUE incremental stream: GroupState
    holds each source's last content hash; every arriving snapshot is
    classified new / changed / unchanged against it and the state
    advances.  This is ``win_lag_change_detect``'s semantics without any
    window over history — O(1) state per source, which is the only shape
    that works on an unbounded scan stream.

    Events within one micro-batch are ordered by (ts, event_id) inside
    the worker, so replays of the same batch classify identically."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def classify(key, pdfs, state: GroupState):
        (last_hash,) = state.get if state.exists else (None,)
        # vectorized within the Arrow batch: prev-hash is a shift, the
        # classification a nested where — per-row Python (iterrows) here
        # was a 25x slowdown at 100k events
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if len(pdf):
            h = pdf["content_hash"].to_numpy(dtype=object)
            prev = np.empty(len(h), dtype=object)
            prev[1:] = h[:-1]
            prev[0] = last_hash
            status = np.where(
                prev == None,  # noqa: E711 — elementwise None test
                "new",
                np.where(h != prev, "changed", "unchanged"),
            )
            last_hash = h[-1]
            state.update((last_hash,))
            yield pd.DataFrame(
                {
                    "source_key": key[0],
                    "event_id": pdf["event_id"].to_numpy(),
                    "content_hash": h,
                    "status": status,
                }
            )
        else:
            state.update((last_hash,))
            yield pd.DataFrame(
                {"source_key": [], "event_id": [], "content_hash": [], "status": []}
            )

    hashed = df.select(
        F.col("user_id").alias("source_key"),
        "event_id",
        "ts",
        F.sha2("props", 256).alias("content_hash"),
    )
    return hashed.groupBy("source_key").applyInPandasWithState(
        classify,
        outputStructType=(
            "source_key long, event_id long, content_hash string, status string"
        ),
        stateStructType="last_hash string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def daily_bitmap_partials(df: DataFrame) -> DataFrame:
    """Per-(day, bucket) EXACT-distinct bitmap partials — the ingest-time
    streaming job that materializes the table every bitmap operator
    (agg_bitmap_distinct, win_rolling_bitmap_distinct,
    agg_bitmap_overlap) rolls up from.  ONE streaming-legal aggregation
    (Structured Streaming allows a single agg per query): state is
    bounded at days x buckets groups of 4 KB each, and the emitted row
    carries the popcount plus an md5 of the bitmap bytes so downstream
    consumers can verify blob integrity without shipping blobs through
    the test harness."""
    return (
        df.groupBy(
            F.window("ts", "1 day"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position("user_id")
            ).alias("bm")
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("day_us"),
            "bucket",
            F.bitmap_count("bm").alias("n_users"),
            F.md5(F.hex("bm")).alias("bm_md5"),
        )
    )


# Hamming bound of the streaming simhash dedup: the pigeonhole bands
# (llm_dedup.SIMHASH_BANDS_HAM3) guarantee recall exactly 1 up to 3 bits.
SIMHASH_HAM_MAX = 3
# Space-Saving counters kept per event_type.
SPACESAVING_CAPACITY = 8


def stateful_simhash_band_dedup(banded: DataFrame) -> DataFrame:
    """TRUE streaming near-duplicate detection: a banded index that
    grows as documents arrive.  Input rows are (doc_id, lang, simhash,
    band, val) — each document posted under its four pigeonhole simhash
    bands (llm_dedup.SIMHASH_BANDS_HAM3: <=3 corrupted bits always leave
    one band intact, so recall for Hamming <= 3 is EXACTLY 1, not an LSH
    approximation) — and GroupState per (lang, band, val) bucket carries
    every fingerprint ever filed there; each arriving document is
    compared (vectorized XOR+popcount over the bucket's history) and
    near-dup pairs (Hamming <= SIMHASH_HAM_MAX) are emitted incrementally,
    the moment the second copy arrives.  This is the ingest-time twin of
    a batch ham<=3 self-join: no batch pass, just per-bucket state.

    Pairs are canonicalized (doc_a < doc_b), so the drained result is
    arrival-order independent — which is what lets a genuine streaming
    run be hash-checked against a batch SQL oracle.

    Scale: state is bounded by corpus size but SHARDED by bucket key —
    fixture-measured max bucket is 926 docs / 2.58M candidate pairs at
    sf0.1 (vs 2.0M docs^2/2 per lang naive), so per-arrival work stays
    bounded by bucket occupancy; at 100 TB use the RocksDB state store +
    a TTL policy on bucket entries (dedup-within-retention), the
    standard design for streaming dedup."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # byte-table popcount: POP[b] = number of set bits in byte b.  The
    # r11 optimization round replaced the original per-arrival Python
    # loop (one tiny numpy popcount call per incoming row — 20k
    # interpreter round-trips per drain at sf0.1, ~4 s of the query's
    # cost) with BLOCK comparisons: each incoming block XORs against
    # the whole bucket history in one (block x history) int64 matrix
    # and popcounts via this table (guide §4.2 — batches to native
    # code, never rows to the interpreter).  Emission set is identical:
    # an incoming doc still pairs with exactly the entries filed before
    # it (state + earlier-sorted incoming), canonicalized a < b.
    _POP = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
        axis=1, dtype=np.int64
    )
    _BLOCK = 256  # bounds the transient XOR matrix to ~MBs per call

    def file_and_compare(key, pdfs, state: GroupState):
        lang = key[0]
        ids, hashes = state.get if state.exists else ([], [])
        incoming: list[tuple[int, int]] = []
        for pdf in pdfs:
            incoming.extend(
                zip(pdf["doc_id"].astype("int64"), pdf["simhash"].astype("int64"))
            )
        # doc_id order within the batch: emission timing is deterministic
        # (pairs themselves are canonical regardless)
        incoming.sort()
        n0 = len(ids)
        m = len(incoming)
        id_arr = np.empty(n0 + m, dtype=np.int64)
        h_arr = np.empty(n0 + m, dtype=np.int64)
        id_arr[:n0] = ids
        h_arr[:n0] = hashes
        if m:
            inc = np.array(incoming, dtype=np.int64)
            id_arr[n0:] = inc[:, 0]
            h_arr[n0:] = inc[:, 1]
        rows: list[tuple[int, int, str, int]] = []
        for lo in range(0, m, _BLOCK):
            hi = min(lo + _BLOCK, m)
            # every entry filed strictly before incoming row n0+i is a
            # comparison partner: all of state plus earlier incoming
            hist = h_arr[: n0 + hi]
            xor = h_arr[n0 + lo : n0 + hi, None] ^ hist[None, :]
            ham = (
                _POP[xor.view(np.uint8)]
                .reshape(hi - lo, hist.size, 8)
                .sum(axis=2)
            )
            # mask off self-and-later incoming partners (j >= n0 + i)
            cols = np.arange(hist.size)[None, :]
            cut = (n0 + np.arange(lo, hi))[:, None]
            cand = (ham <= SIMHASH_HAM_MAX) & (cols < cut)
            for i, j in zip(*np.nonzero(cand)):
                doc_id = int(id_arr[n0 + lo + i])
                prev_id = int(id_arr[j])
                if prev_id == doc_id:
                    continue
                a, b = (
                    (prev_id, doc_id) if prev_id < doc_id else (doc_id, prev_id)
                )
                rows.append((a, b, lang, int(ham[i, j])))
        state.update((id_arr.tolist(), h_arr.tolist()))
        if rows:  # most buckets emit nothing — skip the empty frame
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "lang", "hamming"])

    return banded.groupBy("lang", "band", "val").applyInPandasWithState(
        file_and_compare,
        outputStructType="doc_a long, doc_b long, lang string, hamming int",
        stateStructType="ids array<bigint>, hashes array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_spacesaving_topk(df: DataFrame) -> DataFrame:
    """Space-Saving heavy hitters per event_type in explicit GroupState:
    at most SPACESAVING_CAPACITY (user, count) counters per key survive any
    stream length — the bounded-memory answer to "top users so far" on
    an unbounded stream, with the classic guarantees (every true count
    <= its estimate; any user with true frequency > n/capacity is
    guaranteed present).

    Events are processed in (ts, event_id) order inside each batch (the
    stateful_change_detect idiom) and evictions tie-break on (count,
    user_id), so the final state is deterministic for a deterministic
    batch sequence.  State is two fixed-length arrays per key —
    O(capacity), never O(users)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_topk(key, pdfs, state: GroupState):
        if state.exists:
            users, counts, n_seen = state.get
            table = dict(zip(users, counts))
        else:
            table, n_seen = {}, 0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for u in pdf["user_id"].tolist():
            n_seen += 1
            if u in table:
                table[u] += 1
            elif len(table) < SPACESAVING_CAPACITY:
                table[u] = 1
            else:
                # evict the deterministic minimum: (count, user_id)
                victim = min(table, key=lambda k: (table[k], k))
                table[u] = table.pop(victim) + 1
        items = sorted(table.items())
        state.update(
            ([int(u) for u, _ in items], [int(c) for _, c in items], n_seen)
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(items),
                "user_id": [u for u, _ in items],
                "est_count": [c for _, c in items],
                "n_seen": [n_seen] * len(items),
            }
        )

    return df.groupBy("event_type").applyInPandasWithState(
        update_topk,
        outputStructType=(
            "event_type string, user_id long, est_count long, n_seen long"
        ),
        stateStructType="users array<long>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_last_touch(df: DataFrame) -> DataFrame:
    """Last-touch attribution as a TRUE incremental stream: GroupState
    holds each user's most recent NON-purchase touch (epoch-us + type);
    every arriving purchase is credited to it when it falls inside the
    7-day lookback, else to 'direct' — the streaming twin of
    ``analytics_last_touch_attribution`` with O(1) state per user (two
    scalars), the only shape that survives an unbounded event stream.

    Events within one micro-batch are ordered by (ts, event_id) inside
    the worker (the stateful_change_detect discipline), and the
    in-batch "latest preceding non-purchase" is a vectorized
    cumulative-max over candidate indices — no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    LOOKBACK_US = 604_800_000_000  # 7 days

    def attribute(key, pdfs, state: GroupState):
        last_us, last_type = state.get if state.exists else (None, None)
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if len(pdf):
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            types = pdf["event_type"].to_numpy(dtype=object)
            n = len(pdf)
            mask = types != "purchase"
            vals = np.where(mask, np.arange(n), -1)
            cm = np.maximum.accumulate(vals)
            prev_idx = np.empty(n, dtype=np.int64)
            prev_idx[0] = -1
            prev_idx[1:] = cm[:-1]
            is_p = ~mask
            out_ids, out_ch = [], []
            for i in np.where(is_p)[0]:
                j = prev_idx[i]
                if j >= 0:
                    ch = (
                        types[j]
                        if us[i] - us[j] <= LOOKBACK_US
                        else "direct"
                    )
                elif last_us is not None:
                    ch = (
                        last_type
                        if us[i] - last_us <= LOOKBACK_US
                        else "direct"
                    )
                else:
                    ch = "direct"
                out_ids.append(int(pdf["event_id"].iloc[i]))
                out_ch.append(ch)
            nz = np.where(mask)[0]
            if len(nz):
                last_us = int(us[nz[-1]])
                last_type = str(types[nz[-1]])
            state.update((last_us, last_type))
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(out_ids), key[0], dtype=np.int64),
                    "event_id": np.array(out_ids, dtype=np.int64),
                    "channel": np.array(out_ch, dtype=object),
                }
            )
        else:
            state.update((last_us, last_type))
            yield pd.DataFrame(
                {"user_id": [], "event_id": [], "channel": []}
            )

    return df.select("user_id", "event_id", "ts", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        attribute,
        outputStructType="user_id long, event_id long, channel string",
        stateStructType="last_us long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_ingest_rank(df: DataFrame) -> DataFrame:
    """Per-(content-hash, quality-flag) first-occurrence ranking in
    GroupState — the intra-increment dedup stage of the incremental
    ingest as a TRUE incremental stream (the stream_incremental_ingest
    operator).  State is ONE counter per (h, ok_quality) key: how many
    documents of this key have already been ranked across all previous
    micro-batches, so ``rn = seen + position`` continues the ranking
    seamlessly at any batch split — exactly the hash-index bookkeeping
    the batch window (``ROW_NUMBER() OVER (PARTITION BY h, ok_quality
    ORDER BY doc_id)``) recomputes from scratch each run.

    Documents within one micro-batch are ranked in doc_id order inside
    the worker, so a single-batch availableNow drain reproduces the
    batch window bit-for-bit (the stream_stateful_totals promotion
    argument); across multiple batches the rank is arrival-order —
    the honest streaming semantics, witnessed separately in
    tests/test_streaming.py.

    Scale: state is one int64 per distinct (content-hash, flag) —
    bounded by distinct documents, sharded by the shuffle partitions
    of the groupBy; the flag columns ride through the Arrow batch
    (a few bools per row), so no post-hoc join is needed to rebuild
    the decision context."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def rank_group(key, pdfs, state: GroupState):
        (seen,) = state.get if state.exists else (0,)
        # guard BEFORE concat: pd.concat([]) raises, and a state-only
        # invocation (empty iterator — possible the moment a timeout
        # conf is ever added) must reach the empty-frame else branch
        # below (which builds its own correctly-typed empty output)
        chunks = list(pdfs)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(pdf):
            pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(
                drop=True
            )
            pdf["rn"] = seen + 1 + pdf.index
            seen += len(pdf)
            state.update((seen,))
            yield pdf[
                [
                    "doc_id",
                    "rn",
                    "ok_clean",
                    "ok_quality",
                    "id_in_corpus",
                    "hash_in_corpus",
                ]
            ]
        else:
            state.update((seen,))
            yield pd.DataFrame(
                {
                    "doc_id": [],
                    "rn": [],
                    "ok_clean": [],
                    "ok_quality": [],
                    "id_in_corpus": [],
                    "hash_in_corpus": [],
                }
            )

    return df.groupBy("h", "ok_quality").applyInPandasWithState(
        rank_group,
        outputStructType=(
            "doc_id long, rn long, ok_clean boolean, ok_quality boolean,"
            " id_in_corpus boolean, hash_in_corpus boolean"
        ),
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
