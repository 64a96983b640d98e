"""Physical-plan audits (SURVEY §4.2): the optimizations we rely on at
100 TB must actually appear in the executed plan — column pruning and
predicate pushdown reaching the parquet scan, broadcast joins for small
dims, partial aggregation, whole-stage codegen, and no Python UDFs in
JVM-only pipelines."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest as _pytest

from covid_data_pipeline_spark.registry import load_all

from .conftest import SF_ORACLE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def q(name, spark):
    return load_all()[name].fn(spark, SF_ORACLE)


def test_scan_projected_prunes_columns(spark):
    plan = plan_of(q("scan_projected", spark))
    assert "ReadSchema" in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    # pruned: none of the other 9 lineitem columns reach the reader
    for col in ("l_comment", "l_quantity", "l_shipdate", "l_returnflag"):
        assert col not in read_schema, f"{col} not pruned:\n{read_schema}"


def test_filter_compound_pushes_predicates(spark):
    plan = plan_of(q("filter_compound", spark))
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    assert "[]" not in pushed.replace("PushedFilters: []", "[]"), (
        f"no filters pushed to parquet:\n{pushed}"
    )
    assert "IsNotNull" in pushed or "GreaterThan" in pushed or "In(" in pushed


def test_join_broadcast_uses_broadcast_hash_join(spark):
    plan = plan_of(q("join_broadcast", spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_agg_is_partial_then_final_codegen(spark):
    df = q("agg_groupby", spark)
    df.collect()  # AQE: codegen ids only appear in the finalized plan
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert plan.count("HashAggregate") >= 2, "expected partial+final agg"
    assert "codegen id" in plan, "whole-stage codegen missing"
    # the shipdate filter must reach the scan, not sit above the agg
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_jvm_only_queries_have_no_python_workers(spark):
    """These queries stay JVM-side — a Python worker here is a
    regression, whether row-at-a-time or Arrow."""
    for name in ("agg_groupby", "join_multikey_chain",
                 "dedup_minhash_lsh", "text_tfidf", "win_lag_change_detect"):
        plan = plan_of(q(name, spark))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                       "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
                       "MapInArrow", "MapInPandas"):
            assert marker not in plan, f"{name} routes through Python: {marker}"


@_pytest.mark.parametrize("name", ["sim_cosine_pairs", "dedup_embedding_cosine"])
def test_label_blocked_cosine_runs_one_block_kernel(spark, name):
    """The label-blocked exact cosine queries score each block in one
    grouped Arrow map (llm_similarity.cosine_pairs): no per-pair
    zip_with/aggregate fold and no pair join."""
    plan = plan_of(q(name, spark), mode="simple")
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    for marker in ("zip_with", "aggregate(", "BroadcastHashJoin"):
        assert marker not in plan, f"{name} plans {marker}:\n{plan}"


def test_udf_suite_uses_arrow_not_row_python_for_vectorized_steps(spark):
    # udf_suite returns an eagerly-localized 3-row result (so it can
    # unpersist its cache in the shared session); assert the Arrow plan
    # shape on the lazy plan it actually executed
    from covid_data_pipeline_spark.io import tune
    from covid_data_pipeline_spark.queries.udfs import _udf_suite_lazy

    from .conftest import SF_ORACLE

    tune(spark)  # the conf udf_suite runs it under
    with_rev, out = _udf_suite_lazy(spark, SF_ORACLE)
    try:
        plan = plan_of(out)
        # the suite deliberately includes one row-Python UDF and the Arrow paths
        assert "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan
    finally:
        with_rev.unpersist()


def test_topk_global_avoids_full_sort(spark):
    plan = plan_of(q("limit_topk_global", spark))
    assert "TakeOrderedAndProject" in plan, (
        "global top-k should be TakeOrderedAndProject, not sort-all + limit"
    )


def test_sort_multi_nulls_rank_window_is_partitioned(spark):
    """The global-rank query must NOT funnel the table through one task:
    its Window is partitioned by the deterministic bucket and the
    offsets join back as a broadcast."""
    plan = plan_of(q("sort_multi_nulls", spark), mode="simple")
    assert "Window" in plan
    # an unpartitioned window plans as 'Window [...], [order...]' with a
    # SinglePartition exchange below it — assert the partition spec made
    # it into the window operator instead
    win_line = next(ln for ln in plan.splitlines() if "Window [" in ln)
    assert "windowspecdefinition(delayed_priority" in win_line, win_line
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_text_tf_topk_avoids_vocabulary_sort(spark):
    """Top-20 terms must be TakeOrderedAndProject over the term counts —
    the vocabulary (which grows with the corpus) is never globally
    sorted by an unpartitioned window."""
    plan = plan_of(q("text_tf", spark), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bm25_is_takeordered_no_explode(spark):
    """BM25 must not explode tokens (tf comes from size(filter(...)) on
    the array) and the top-50 must be TakeOrderedAndProject — at 100 TB
    an explode multiplies the scan x dl and a global sort is unbounded."""
    plan = plan_of(q("text_bm25", spark), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan, "token explode crept into BM25"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_entropy_is_map_only(spark):
    """Per-doc entropy is a pure scan->spread->project: no explode, no
    Python, no aggregation — the per-doc HOF fold rides the scan.  The
    ONLY exchange allowed is the r12 pre-HOF repartition that spreads
    the single-file scan across cores (guide §2.5); any second exchange
    means an aggregation or join crept in."""
    plan = plan_of(q("text_entropy", spark), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "Generate" not in plan
    assert "Python" not in plan


def test_minhash_lsh_has_no_cartesian(spark):
    plan = plan_of(q("dedup_minhash_lsh", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_shuffle(spark):
    """The whole point of join_bucketed: both sides pre-bucketed on the
    join key means the SortMergeJoin runs without any Exchange below it
    (the only exchange in the plan belongs to the downstream groupBy)."""
    df = q("join_bucketed", spark)
    df.collect()
    plan = plan_of(df, mode="simple")
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final
    assert final.count("Bucketed: true") == 2, "both scans must read buckets"
    # in the tree dump the join's children (the scans) come AFTER the
    # SortMergeJoin line — no Exchange may appear among them
    below_join = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, (
        f"shuffle exchange feeding the bucketed join:\n{below_join[:800]}"
    )


def test_bitmap_overlap_scans_events_once(spark):
    """Pair generation uses the static segment dictionary — deriving the
    type list from events re-scans the table twice via Catalyst's
    distinct-pushdown (the round-4 review trap)."""
    plan = plan_of(q("agg_bitmap_overlap", spark), mode="simple")
    assert plan.count("Scan parquet") == 1, plan


def test_topk_sketch_reuses_per_lang_aggregate(spark):
    """The est and merged branches both consume the per-lang sketch
    aggregate; AQE must reuse that exchange so documents is scanned
    once at runtime (statically the subtree prints twice)."""
    df = q("agg_approx_topk_mergeable", spark)
    df.collect()
    final = plan_of(df, mode="simple").split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert "ReusedExchange" in final, final


def test_embedding_dedup_norm_not_inlined_into_lambda(spark):
    """The pre-normalization norm fold must be materialized behind the
    Generate barrier, not re-inlined into the transform lambda by
    CollapseProject (no CSE inside higher-order functions => O(d^2)
    per row; round-4 review find, fixed via explode(array(n))).
    Asserted on the corpus helper — dedup_semdedup_kmeans's
    localCheckpoint hides the normalize lineage from its final plan."""
    import re

    from covid_data_pipeline_spark.queries.llm_similarity import (
        _emb_dedup_corpus,
    )

    df = _emb_dedup_corpus(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the barrier itself must survive optimization...
    assert "Generate explode(array(n0" in plan, plan[:800]
    # ...and the normalize lambda must divide by the materialized
    # attribute, not recompute the fold per element
    assert re.search(r"lambda x[_\d#]*L? / n#\d+", plan) or re.search(
        r"lambdafunction\(\(lambda [^,)]+ / n#\d+\)", plan
    ), plan[:800]


def test_drift_reuses_value_grain_aggregate(spark):
    """KS window, totals and PSI buckets all derive from ONE value-grain
    count aggregate; AQE must reuse that exchange so events is scanned
    once at runtime."""
    df = q("quality_distribution_drift", spark)
    df.collect()
    final = plan_of(df, mode="simple").split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert final.count("ReusedExchange") >= 2, final


def test_rolling_bitmap_distinct_scans_events_once(spark):
    """The spine (days, buckets) must come from the PERSISTED daily
    partials, not three independent re-scans of events — without the
    persist, Catalyst rewrites distinct-of-grouping-key onto the base
    table and plans three parquet scans (round-4 diff-review find)."""
    from covid_data_pipeline_spark.io import load
    from covid_data_pipeline_spark.queries.windows import _rolling_bitmap_lazy

    daily, out = _rolling_bitmap_lazy(load(spark, SF_ORACLE, "events"))
    try:
        plan = plan_of(out, mode="simple")
        assert plan.count("InMemoryTableScan") >= 3, plan
    finally:
        daily.unpersist()


def test_sample_is_map_only_broadcast(spark):
    """Deterministic sampling must not shuffle the corpus: the rate dim
    is broadcast and the hash predicate evaluates map-side."""
    plan = plan_of(q("sample_stratified_hash", spark))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_gapfill_broadcasts_day_spine(spark):
    """Densification joins the fact side to a broadcast day list — the
    events table must not shuffle for the cross join."""
    plan = plan_of(q("ts_gapfill_ffill", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_profile_is_single_pass(spark):
    """One scan of orders computes every per-column metric (the oracle
    needs three)."""
    plan = plan_of(q("profile_columns", spark))
    # one scan NODE (each appears once in the tree and once in the
    # detail section, which repeats its Location line)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_normalize_has_no_shuffle_no_python(spark):
    plan = plan_of(q("sim_normalize_embeddings", spark))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_join_bloom_runtime_injects_filter(spark):
    """The semi-join-reduction contract: Catalyst injected a bloom
    filter built from the selective orders side and probes it on the
    lineitem side before the join shuffle."""
    df = q("join_bloom_runtime", spark)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in opt, f"no runtime bloom filter injected:\n{opt[:2000]}"
    assert "bloom_filter_agg" in opt


def test_join_partition_pruned_uses_dpp(spark):
    """The fact scan must carry a dynamicpruning partition filter fed by
    the dim side — only the joined event_type directories are read."""
    df = q("join_partition_pruned", spark)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan[:3000]}"


def test_analytics_q3_plan_shape(spark):
    """Composite-query audit: date predicates pushed to both fact scans,
    the filtered dim broadcast, and the top-10 as TakeOrderedAndProject
    (never a global sort)."""
    df = q("analytics_shipping_priority", spark)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("GreaterThan" in l or "LessThan" in l for l in pushed), (
        f"date filters not pushed:\n" + "\n".join(pushed)
    )


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 shape is scan-bandwidth bound ONLY if every predicate reaches
    the parquet reader."""
    plan = plan_of(q("analytics_forecast_revenue", spark))
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed:\n{pushed}"


def test_late_orders_is_semi_join(spark):
    """The EXISTS must plan as a semi join (no duplication, no right
    columns), never an inner join + distinct."""
    plan = plan_of(q("analytics_late_orders", spark))
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_small_qty_revenue_single_lineitem_window_shuffle(spark):
    """The correlated scalar subquery must decorrelate into ONE window
    over l_partkey — not an aggregate + self-join (two shuffles of the
    selection)."""
    plan = plan_of(q("analytics_small_qty_revenue", spark))
    assert "Window" in plan
    # part dim joins broadcast-wise; lineitem appears in one scan only
    # (formatted mode lists each scan twice: tree node + detail section,
    # so count distinct scan detail headers via their Location lines)
    assert plan.count("Location: InMemoryFileIndex") <= 2, plan[:2000]


def test_idle_balances_no_collect_roundtrip(spark):
    """The scalar threshold must stay in the plan (broadcast nested loop
    over a 1-row aggregate), not be collect()ed — one job end-to-end."""
    plan = plan_of(q("analytics_idle_balances", spark))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_aqe_splits_skewed_join(spark):
    """The skew story at 100 TB is AQE's, not ours: a hot key that
    lands half the probe side in one shuffle partition must be split at
    runtime (SortMergeJoin(skew=true)) with NO query rewrite.  The
    manual salting fallback (join_skew_salted) exists for the cases AQE
    can't reach; this test proves the default path works so operators
    stay unsalted."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        # thresholds scaled down so the 2M-row fixture-free skew (half
        # the rows on key 0) is flagged at test scale
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        big = spark.range(2_000_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(dim, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        j.collect()  # AQE decisions only exist in the finalized plan
        assert "skew=true" in plan_of(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---- shuffle-budget regression guards -----------------------------------
# Each heavy query's static plan must not grow shuffle exchanges: a new
# Exchange in one of these is a scale regression (at 100 TB every extra
# shuffle re-moves the working set).  Budgets are the current plan's
# count at sf0.01 — broadcast exchanges are deliberately NOT counted
# (they are the cheap alternative we WANT the planner to pick).

_SHUFFLE_BUDGET = {
    "agg_groupby": 1,
    "join_inner": 1,
    "dedup_exact": 1,
    "dedup_near_jaccard": 4,
    "dedup_minhash_lsh": 4,
    # the one label exchange feeding the block kernel (cosine_pairs)
    "sim_cosine_pairs": 1,
    "text_tfidf": 5,
    "win_sessionize": 1,
    "ts_resample_ohlc": 1,
    "dedup_incremental_exact": 3,
    "text_perplexity_proxy": 4,
    "quality_filter_funnel": 1,
    # r12: +1 = the pre-HOF spread of the single-file documents scan
    # (the map-only work itself still adds no exchange)
    "text_repetition_ratio": 1,
    "sort_multi_nulls": 2,
    "text_tf": 1,
    "win_retention_cohort": 2,  # window cohort, not agg+join (3)
    "analytics_revenue_concentration": 2,
    "join_asof_forward": 1,
    "agg_regr_exact": 1,
    "ts_ema_level": 1,
    "sample_importance_weighted": 0,
    "embed_matryoshka_truncate": 0,
    "text_bm25": 1,  # one 1-row stats agg; top-50 is TakeOrdered
    # map-only per-doc HOF fold, no explode; r12: +1 = the pre-HOF
    # spread of the single-file documents scan
    "text_entropy": 1,
    "corpus_temperature_mix": 3,  # source agg + 1-row normalizer + reuse
    "ts_interpolate_linear": 3,  # user-distinct + daily agg + 1-row bounds
    "text_phrase_search": 1,  # one postings groupBy; term filter map-side
    "analytics_copurchase_lift": 5,  # post-checkpoint: pairs agg + dims
    "sample_negative_pairs": 1,  # per-anchor window on broadcast join
    "graph_knn_triangles": 8,  # post-checkpoint census joins + stats
    "ts_seasonal_decompose": 4,  # daily agg + day-window + weekday agg + center
    "embed_random_projection": 0,  # map-only: hash-sign fold, no shuffle at all
    "sample_hard_negatives": 1,  # broadcast anchors + per-anchor window
    "json_variant_ops": 1,  # one groupBy on the bucketed variant field
    "scan_csv_permissive": 2,  # one 2-row agg per projection mode (full+pruned)
    "agg_countmin_mergeable": 0,  # emitted DF is driver model state
    # grouping-sets agg counted once per union branch statically; AQE
    # reuses the exchange at runtime (vs 5 for the naive two-branch plan)
    "agg_bitmap_distinct": 4,
    "win_moving_median": 1,  # one range-partition by supplier
    "text_unicode_normalize": 0,  # map-only Arrow UDF, no shuffle
    "sim_maxsim_rerank": 2,  # (doc,q) max + per-doc fold; top-10 TakeOrdered
    # one fused audit agg per table + the FK anti join (each global agg
    # adds a SinglePartition exchange)
    "quality_expectations": 4,
    "pipeline_snapshot_diff": 3,  # join key x2 + per-status agg
    "pipeline_partition_checksum": 1,  # one partial-agg'd XOR rollup
    # partials agg + per-(pair,bucket) or_agg + final pair agg;
    # events scanned ONCE (static segment dictionary, no type re-scan)
    "agg_bitmap_overlap": 3,
    # per-lang sketch agg (reused at runtime, see dedicated test) +
    # combine + the est/merged union
    "agg_approx_topk_mergeable": 3,
    "stream_bitmap_partials": 1,  # one bounded-state day/bucket agg
    "stream_dedup_simhash": 1,  # memory-sink drain + cross-band distinct
    "text_bpe_encode": 1,  # one per-doc agg; vocab side is checkpointed+broadcast
    # bin agg + flag re-shuffle for the bin walk + final (flag,p) agg —
    # every post-bin stage moves |bins| rows, never data
    "agg_histogram_quantile": 3,
    "agg_mode_exact": 2,  # count agg + struct-argmin agg; no window sort
    "str_collate_group": 1,  # one collated hash-agg; comparator != plan
    # two ranked median passes (sort per group) + final agg; the med/mad
    # scalars rejoin via broadcast — exact-median budget class
    "agg_mad_anomaly": 6,
    # daily count agg + per-type series agg; the CUSUM recurrence is an
    # in-codegen fold over the bounded day array, no extra exchange
    "ts_cusum_changepoint": 2,
    "scan_xml_payload": 0,  # map-only construct->parse round trip
    "sql_parameterized": 1,  # bound literals still push down; one agg
    # per_v counted once per branch statically; runtime = 1 scan + 3
    # ReusedExchange (pinned below)
    "quality_distribution_drift": 9,
    "sink_jdbc_roundtrip": 1,  # 4-way ranged JDBC read + one group agg
    "udf_cogroup_merge": 2,  # one hash exchange per cogrouped side
    "join_shuffle_hash": 3,  # both join sides + the priority agg
    "sink_positional_delete": 1,  # broadcast anti-join, one agg exchange
    # the shared shingle subtree ends in a repartition consumed by four
    # branches (probe/index/verify-a/verify-b) — counted once PER BRANCH
    # statically, ReusedExchange at runtime (same convention as
    # quality_distribution_drift); + the candidate-pair dedup.  The
    # probe/index and verify joins broadcast at fixture scale (SMJ at
    # 100 TB — the inverted-index build).
    "dedup_containment": 9,
    # r12: iterations are checkpoint-truncated (the 2^ITERS lineage
    # replay fix), so the FINAL plan shows only the post-loop top-20 —
    # the per-iteration shape (edges never shuffled; broadcast rank/deg
    # vectors) is pinned by test_pagerank_step_broadcasts_rank_vector
    # on the module-level _pr_step instead.
    "graph_pagerank": 0,
    # zip_with bigrams + unigram vocab agg (counted per join branch
    # statically, ReusedExchange at runtime) + two 1-row totals;
    # top-20 is TakeOrdered, never a global sort
    "text_collocation_pmi": 6,
    # perplexity subtree counted once per consumer statically
    # (ReusedExchange at runtime, pinned below) + milli-grain histogram
    # agg + one bounded per-lang window + cutoff agg + final agg
    "quality_percentile_buckets": 11,
    # duplicated-shingle countDistinct (2 exchanges) + islands window;
    # the (doc_id, anchor) agg reuses the window's doc_id partitioning
    "dedup_span_ngram": 3,
    # 1-row anchor agg (broadcast) + the per-user groupBy
    "agg_decay_weighted": 2,
    # span_ngram's 3 (countDistinct x2 + islands window); the per-doc
    # interval-union fold and the doc left join add NO exchange (the
    # groupBy reuses the window's doc_id partitioning; spans broadcast)
    "dedup_span_removal": 3,
    # daily agg + per-type stats agg (broadcast back) + the calendar-
    # bounded lag window + final per-type agg; all 7 lags ride ONE
    # window pass
    "ts_autocorrelation": 4,
    # islands window (doc-bounded) + word-stats agg + distinct-phrase
    # agg + phrase-word rejoin + per-phrase score agg; the instance agg
    # reuses the window's doc_id partitioning; top-15 is TakeOrdered
    "text_keyphrase_rake": 6,
    # the returned frame reads the complete-mode memory sink — the
    # streaming aggregation's exchange lives inside the drained run
    "stream_decay_weighted": 0,
    # decorrelated lateral: one orders shuffle (WindowGroupLimit prunes
    # to <=2 rows/customer map-side first); customer side broadcasts
    "sql_lateral_topk": 1,
    # post-checkpoint: wedge self-join on the shared endpoint (adj
    # counted per branch statically) + (u,v) agg + degree agg + the two
    # deg rejoins; top-20 is TakeOrdered — pairs never globally sort
    "graph_jaccard_neighbors": 7,
    # daily agg + per-type series agg; the HW recurrence is an
    # in-codegen fold over the bounded day array — no extra exchange,
    # no Window, no Python
    "ts_holt_winters": 2,
    # (source,token) + source-total + vocab + 1-row total aggs (tok
    # subtree counted per branch statically) + final per-source sum;
    # the grid rides two broadcast nested-loop joins of 1-row/20-row
    # frames, never a shuffled cartesian
    "text_js_divergence": 6,
    # daily agg + calendar-bounded running-max window (post-checkpoint);
    # the max-dd scalar rejoins broadcast and the final agg reuses the
    # window's event_type partitioning
    "win_drawdown": 2,
    # the ACF base (daily + stats + lag window + covariance agg, counted
    # statically); the 12 unrolled Durbin-Levinson projections add NO
    # exchange — they are pure column arithmetic on one row per type
    "ts_partial_autocorrelation": 8,
    # daily agg + one shared 7-row frame carrying all four rolling sums
    "win_rolling_regression": 2,
    # (doc, token) counts then per-doc rollup — two partial-agg'd
    # shuffles, no window, no join
    "text_hapax_ratio": 2,
    # PIVOT plans as one grouped scan (single parquet scan, partial+
    # final agg) — a per-value re-scan here is the dynamic-pivot trap
    "sql_pivot_clause": 2,
    # ONE flag shuffle feeds both window passes + the final agg
    # (exact-median budget class: one sort per group)
    "agg_weighted_median": 1,
    # orders-customer join + per-customer rollup + the nation ranked
    # pass (exact-median class) + final nation agg
    "agg_gini_coefficient": 4,
    # one user window, tolerance applied as a post-window projection —
    # zero extra exchanges over the unbounded as-of
    "join_asof_tolerance": 1,
    # mix agg + totals agg + final agg; the join and both downstream
    # aggs reuse the (user_id) partitioning
    "agg_entropy_by_group": 3,
    # post-checkpoint: 1-row anchor + per-customer rollup + three
    # bounded-histogram cutoff branches (each one SinglePartition
    # window) + final segment agg; cutoff frames broadcast back
    "analytics_rfm_segmentation": 7,
    # orders-customer join (2 sides at scale; broadcast here) + the
    # per-customer rollup + final nation agg — pure aggregates, no
    # ranking (unlike Gini)
    "agg_hhi_concentration": 4,
    # hash-group agg (countDistinct adds one) + rejoin + per-source
    # rollup; the seeded mirror union is map-only
    "dedup_source_report": 3,
    # per-part revenue rollup + ONE brand shuffle shared by both window
    # passes and the final class agg (exact-median budget class)
    "analytics_abc_classification": 2,
    # one map-side-combined 1-row reduction over the read-back lines
    "scan_text_roundtrip": 1,
    # the dims and, at this scale, the fact sides broadcast: one agg
    "join_multikey_chain": 1,
    # the window formulation of as-of: one user_id shuffle, no self-join
    "join_asof": 1,
    # the eval shingle set broadcasts into the gram join; the corpus
    # side never shuffles by shingle
    "corpus_contamination_check": 3,
    # segment-hash window + rollup over 3 skinny columns
    "dedup_paragraph_exact": 2,
    # one rank window per (type, user); the rest are calendar-bounded
    "agg_survival_kaplan_meier": 5,
    # the test split's shingles broadcast into the train-side join
    "pipeline_decontaminate": 8,
}


def test_pagerank_topk_is_take_ordered(spark):
    """The rank head must be TakeOrderedAndProject — never a global
    sort of the rank vector — and the unrolled iterations must never
    plan a cartesian (the 1-row node-count frame joins broadcast-wise)."""
    plan = plan_of(q("graph_pagerank", spark))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_step_broadcasts_rank_vector(spark):
    """One PageRank iteration (module-level _pr_step — the per-iteration
    checkpoints hide it from the final plan) must join edges against
    BROADCAST rank/degree vectors: the edge table is never shuffled by
    src (pre-r12 the SortMergeJoins exchanged edges every iteration),
    and the only hash exchange left is the per-dst mass aggregation."""
    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.queries.tpch_extra import _pr_step

    pr = spark.range(10).select(
        "id", F.lit(10.0).alias("n"), F.lit(0.1).alias("pr")
    )
    edges = spark.range(100).select(
        (F.col("id") % 10).alias("src"), ((F.col("id") * 7) % 10).alias("dst")
    )
    # deg stands in for the (tiny, broadcast) degree vector — built
    # without an aggregation so the step's OWN exchanges are isolated
    deg = spark.range(10).select(F.col("id").alias("src"), F.lit(10).alias("deg"))
    plan = plan_of(_pr_step(pr, edges, deg, 1e12), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Exchange hashpartitioning(src" not in plan, plan


def test_shuffle_order_head_is_take_ordered(spark):
    """The per-epoch order head must compile to TakeOrderedAndProject
    (distributed top-k) — never a corpus-wide sort or a per-epoch
    global window; the position window runs over the bounded union
    only."""
    plan = plan_of(q("corpus_shuffle_order", spark))
    assert "TakeOrderedAndProject" in plan


def test_containment_probe_index_share_shingle_exchange(spark):
    """The identically-projected probe and index branches must share the
    shingle repartition via ReusedExchange at runtime (the verify
    branches are pruning-specialized and legitimately recompute — see
    _containment_shingles' docstring for the measured trade)."""
    df = q("dedup_containment", spark)
    df.collect()
    final = plan_of(df, mode="simple").split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final


def test_positional_delete_applies_as_broadcast_anti(spark):
    """Merge-on-read must subtract positions with a BROADCAST anti-join
    (delete sets are KB-scale) — a shuffled anti would re-move the base
    table per delete application."""
    plan = plan_of(q("sink_positional_delete", spark))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_shuffle_hash_hint_plans_shj(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (per
    partition hash build, no sort on either side) — not SortMergeJoin
    and not a broadcast (disabled inside the query)."""
    plan = plan_of(q("join_shuffle_hash", spark))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cogroup_merge_is_cogrouped_map(spark):
    """The cogrouped map must plan as a FlatMapCoGroups node over two
    key-partitioned sides — not a join followed by a grouped map (which
    would re-shuffle the joined rows a third time and materialize the
    orders x events product per key).  r12: the rung moved to the
    Arrow-native ``applyInArrow`` (FlatMapCoGroupsInArrow), same
    cogrouped shuffle shape."""
    plan = plan_of(q("udf_cogroup_merge", spark))
    assert "FlatMapCoGroupsInArrow" in plan
    assert "Join" not in plan


def test_collocation_pmi_topk_is_take_ordered(spark):
    """The PMI top-20 must compile to TakeOrderedAndProject (per-
    partition partial top-k) — the bigram table grows with the corpus
    and must never be globally sorted.  The two corpus totals must join
    broadcast-wise (no cartesian)."""
    plan = plan_of(q("text_collocation_pmi", spark))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_quality_buckets_cutoffs_broadcast_and_subtree_reused(spark):
    """The one-row-per-lang cutoff frame must join the doc table as a
    BROADCAST join (a shuffled join would re-move the corpus to bucket
    it), and the shared perplexity subtree must be ReusedExchange at
    runtime, not computed once per consumer.  No unpartitioned window
    anywhere — the tercile cutoffs come from the bounded per-lang
    histogram, never a per-lang ntile over raw documents."""
    df = q("quality_percentile_buckets", spark)
    static = plan_of(df)
    assert "BroadcastHashJoin" in static
    df.collect()
    final = plan_of(df, mode="simple").split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The LATERAL ORDER BY..LIMIT subquery must decorrelate into a
    WindowGroupLimit with a PARTIAL pre-shuffle pass (map-side top-2
    per customer) — never a per-row re-execution (no nested-loop join
    against the orders scan) and never a full per-group sort."""
    plan = plan_of(q("sql_lateral_topk", spark), mode="simple")
    # partial (map-side, pre-shuffle) + final WindowGroupLimit passes
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert ", Partial" in plan and ", Final" in plan, plan
    assert "CartesianProduct" not in plan


def test_span_ngram_islands_window_is_doc_partitioned(spark):
    """The gaps-and-islands window must partition by doc_id (bounded by
    document length) — a global-order window here would serialize the
    corpus through one task; and the shingle inventory must come from an
    in-codegen transform, never a token self-join (no cartesian)."""
    plan = plan_of(q("dedup_span_ngram", spark), mode="simple")
    assert "CartesianProduct" not in plan
    import re as _re

    win_specs = _re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert win_specs and all("doc_id" in s for s in win_specs), plan


@_pytest.mark.parametrize("name", sorted(_SHUFFLE_BUDGET))
def test_shuffle_budget(name, spark):
    import re

    plan = plan_of(q(name, spark), mode="simple")
    shuffles = len(
        re.findall(
            r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= _SHUFFLE_BUDGET[name], (
        f"{name}: {shuffles} shuffle exchanges > budget "
        f"{_SHUFFLE_BUDGET[name]} — a new Exchange crept into the plan:\n{plan}"
    )


def test_knn_triangles_no_cartesian_and_partitioned_window(spark):
    """The triangle census must stay equi-join shaped — no
    CartesianProduct anywhere, and the only nested-loop joins are the
    final crossJoins of the three 1-ROW stat frames (the
    analytics_idle_balances pattern); the kNN selection must window
    per node, never globally (no SinglePartition window exchange).
    The census side is planned from the final query; the edge-building
    side from the pre-checkpoint helper (the localCheckpoint that stops
    five consumers replaying the projection also hides its lineage from
    the final plan)."""
    from covid_data_pipeline_spark.queries.tpch_extra import _knn_edges

    plan = plan_of(q("graph_knn_triangles", spark), mode="simple")
    assert "CartesianProduct" not in plan
    # the edge/wedge/triangle joins themselves are hash equi-joins
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    )
    eplan = plan_of(_knn_edges(spark, SF_ORACLE), mode="simple")
    assert "CartesianProduct" not in eplan
    win_line = next(ln for ln in eplan.splitlines() if "Window [" in ln)
    assert "windowspecdefinition(src" in win_line, win_line


def test_interpolate_single_window_pair(spark):
    """All four interpolation context columns (prev/next value and day)
    must ride ONE Window node over ONE sort — the backward and forward
    frames share (partitionBy user_id, orderBy day), so Catalyst fuses
    them; a second Sort or a window Exchange would mean the frames were
    accidentally split.  The day spine stays broadcast like its ffill
    sibling, and the whole plan carries exactly two hash exchanges (the
    user-distinct and the daily aggregate)."""
    plan = plan_of(q("ts_interpolate_linear", spark), mode="simple")
    assert plan.count("Window [") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastNestedLoopJoin" in plan


def test_phrase_search_one_shuffle_term_filtered(spark):
    """Phrase search must be index-shaped, not self-join-shaped: the
    term filter sits under the aggregate (only probed terms' postings
    shuffle), posting lists partially collect map-side, and the whole
    query carries exactly ONE exchange and no Python eval."""
    plan = plan_of(q("text_phrase_search", spark), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan
    assert "partial_collect_list" in plan
    assert plan.index("Filter tok") > plan.index("ObjectHashAggregate"), (
        "term filter must evaluate before (below) the aggregate"
    )
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_copurchase_broadcasts_dims_and_takeordered(spark):
    """Pair generation must equi-join on the basket key (no cartesian
    over the catalog), part totals and the basket count must broadcast,
    and the top-20 must be TakeOrderedAndProject, never a global sort."""
    plan = plan_of(q("analytics_copurchase_lift", spark), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Bounded-cardinality pins for every partition-less window (VERDICT r5 #3).
# A Window.orderBy with no partitionBy runs in ONE task; each site below is
# safe only because its driving row count is bounded by construction
# (calendar days, a closed value domain, per-dimension histograms, a
# limit(K) seed set).  These pins measure the ACTUAL sf0.1 cardinality the
# way the near-dup candidate count is pinned, so a fixture regen can never
# silently turn a bounded window into a corpus-sized single-task sort.
# grep inventory: windows.py:193 win_moving_avg,
# corpus.py:857 ts_seasonal_decompose, pipeline.py:1187
# quality_distribution_drift, tpch_extra.py:1143 analytics_rfm_segmentation
# (x3 grains), llm_similarity.py:687/836 PQ+SemDeDup seeds,
# streaming_batch.py:146 stream_watermark_late (test-scale oracle twin),
# tpch_extra.py analytics_skyline_pareto (suffix-min over the p_size
# histogram — closed 1..50 domain).

SF_BENCH = "/root/testdata/sf0.1"


def _card(spark, fn):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_BENCH}/events.parquet")
    o = spark.read.parquet(f"{SF_BENCH}/orders.parquet")
    p = spark.read.parquet(f"{SF_BENCH}/part.parquet")
    return fn(F, ev, o, p)


import pytest  # noqa: E402


@pytest.mark.parametrize(
    "site,bound,counter",
    [
        # win_moving_avg + ts_seasonal_decompose: one window row per
        # calendar day of events (measured 30 at sf0.1)
        (
            "calendar_days(win_moving_avg,ts_seasonal_decompose)",
            500,
            lambda F, ev, o, p: ev.select(F.to_date("ts")).distinct().count(),
        ),
        # quality_distribution_drift: KS window at value grain — 2-decimal
        # prices in [0, 500), a closed <=50k domain (measured 17,792)
        (
            "value_grain(quality_distribution_drift)",
            50_000,
            lambda F, ev, o, p: ev.select("value").distinct().count(),
        ),
        # rfm recency cutoffs: one row per distinct days-ago <= distinct
        # order dates (calendar-bounded; measured 2,405)
        (
            "recency_grain(analytics_rfm_segmentation)",
            10_000,
            lambda F, ev, o, p: o.select("o_orderdate").distinct().count(),
        ),
        # rfm frequency cutoffs: distinct per-customer order counts
        # (measured 23)
        (
            "frequency_grain(analytics_rfm_segmentation)",
            1_000,
            lambda F, ev, o, p: o.groupBy("o_custkey")
            .count()
            .select("count")
            .distinct()
            .count(),
        ),
        # rfm monetary cutoffs: distinct $100 lifetime-revenue grains
        # (measured 12,027)
        (
            "monetary_grain(analytics_rfm_segmentation)",
            50_000,
            lambda F, ev, o, p: o.groupBy("o_custkey")
            .agg(
                F.floor(
                    F.sum(
                        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                            "long"
                        )
                    )
                    / 10000
                ).alias("mon")
            )
            .select("mon")
            .distinct()
            .count(),
        ),
        # skyline suffix-min sweep: one row per distinct part size — a
        # closed 1..50 integer domain (measured 50)
        (
            "size_grain(analytics_skyline_pareto)",
            1_000,
            lambda F, ev, o, p: p.select("p_size").distinct().count(),
        ),
        # stream_watermark_late: the global arrival-order window is the
        # documented TEST-SCALE oracle twin only (the streaming engine
        # tracks its watermark without a global sort) — pin the fixture
        # at test scale so that contract stays true (measured 100,000)
        (
            "events_total(stream_watermark_late oracle twin)",
            2_000_000,
            lambda F, ev, o, p: ev.count(),
        ),
        # last-touch attribution share: the partition-less SUM window
        # runs over the channel rollup — closed event-type domain + 1
        # ('direct'); measured 6 at sf0.1
        (
            "channel_grain(analytics_last_touch_attribution)",
            100,
            lambda F, ev, o, p: ev.select("event_type").distinct().count()
            + 1,
        ),
        # length-mix weights: the partition-less corpus-total window runs
        # over the bucket rollup — a closed 5-value CASE domain
        (
            "bucket_grain(corpus_length_bucket_mix)",
            5,
            lambda F, ev, o, p: 5,
        ),
        # Q-Q table: the pooled-side cumulative window runs over the
        # distinct document-length domain (value-grain, the
        # quality_distribution_drift argument; measured ~3.4k at sf0.1)
        (
            "length_grain(analytics_qq_length_table)",
            50_000,
            lambda F, ev, o, p: __import__("pyspark").sql.SparkSession
            .getActiveSession()
            .read.parquet("/root/testdata/sf0.1/documents.parquet")
            .select("n_chars")
            .distinct()
            .count(),
        ),
    ],
)
def test_global_window_cardinality_bounded(spark, site, bound, counter):
    n = _card(spark, counter)
    assert 0 < n <= bound, (
        f"{site}: partition-less window would run over {n} rows at sf0.1 "
        f"(bound {bound}) — the bounded-domain assumption broke"
    )


def test_seed_window_limits_are_constants():
    """The PQ / SemDeDup seed windows (llm_similarity.py:687/836) run
    AFTER a limit(K) — bounded structurally; pin the K dials so a future
    retune can't quietly make the seed sort corpus-sized."""
    from covid_data_pipeline_spark.queries import llm_similarity as ls

    assert ls._PQ_K <= 4096
    assert ls._SEM_K <= 4096


def test_ts_twa_single_shuffle_no_python(spark):
    """The lead window and the groupBy share the event_type
    partitioning — one exchange moves corpus data, and the whole plan
    stays JVM-side."""
    plan = plan_of(q("ts_twa", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_moments_exact_partial_agg_no_python(spark):
    """The integer power sums must partially aggregate map-side (the
    mergeable-moments contract) and never leave codegen."""
    plan = plan_of(q("agg_moments_exact", spark), mode="simple")
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1, plan


def test_zipf_fit_partitioned_rank_no_python(spark):
    """The vocabulary rank must window PER LANG (no partition-less
    sort), and Spark's WindowGroupLimit must push the rn <= K filter
    into the shuffle (top-K, not full-vocab rank-then-filter)."""
    plan = plan_of(q("text_zipf_fit", spark), mode="extended")
    assert "EvalPython" not in plan
    assert "windowspecdefinition(lang" in plan
    assert "WindowGroupLimit" in plan


def test_hampel_no_cartesian(spark):
    """The +/-3-day frame join must be a bounded range join over the
    daily rollup, never a cartesian over raw events."""
    plan = plan_of(q("win_hampel_outliers", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_skyline_broadcasts_cutoffs_no_pairs(spark):
    """Dominance must resolve through the broadcast size-histogram
    sweep — no self-join of the catalog, no cartesian."""
    plan = plan_of(q("analytics_skyline_pareto", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_compression_ratio_map_only(spark):
    """The zlib signal is embarrassingly parallel: exactly one Arrow
    UDF eval and ZERO shuffles."""
    plan = plan_of(q("text_compression_ratio", spark), mode="simple")
    assert "ArrowEvalPython" in plan
    assert plan.count("Exchange") == 0, plan


def test_croston_no_python(spark):
    plan = plan_of(q("ts_croston", spark), mode="simple")
    assert "EvalPython" not in plan


def test_fixed_width_parse_no_python(spark):
    plan = plan_of(q("scan_fixed_width", spark), mode="simple")
    assert "EvalPython" not in plan


def test_calendar_spine_is_generated_not_scanned(spark):
    """The spine derives only min/max from orders (aggregate pushdown
    territory) and generates rows — no join, no window, no Python."""
    plan = plan_of(q("source_calendar_spine", spark), mode="simple")
    assert "Generate" in plan  # the explode(sequence(...))
    assert "EvalPython" not in plan
    assert "Window" not in plan


def test_week_over_week_is_copartitioned_join(spark):
    """WoW joins the daily rollup to itself on (type, date) — an
    equi-join, never a window over raw events or a cartesian."""
    plan = plan_of(q("win_week_over_week", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_try_cast_map_only_until_rollup(spark):
    plan = plan_of(q("cast_try_permissive", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1, plan


def test_blockhash_dedup_no_cartesian(spark):
    """Pair generation must route through the (band, hash) equi-join —
    never a payload cross product."""
    plan = plan_of(q("multimodal_blockhash_dedup", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_lttb_folds_are_array_ops_no_python(spark):
    """The 8 unrolled bucket argmaxes run as array expressions over one
    ~30-element array per type — no Python, no partition-less window,
    no cartesian."""
    plan = plan_of(q("ts_lttb_downsample", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_langid_confusion_single_scan_broadcast_share(spark):
    plan = plan_of(q("text_langid_confusion", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_normalized_dedup_no_cartesian(spark):
    plan = plan_of(q("dedup_exact_normalized", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_bottomk_sketch_rank_is_partitioned(spark):
    """The KMV rank windows per type over the deduplicated (type,
    user) set; the kth-hash joins back broadcast."""
    plan = plan_of(q("sample_bottomk_sketch", spark), mode="extended")
    assert "windowspecdefinition(event_type" in plan
    assert "EvalPython" not in plan


def test_spatial_grid_join_no_cartesian(spark):
    """The radius join must resolve through the grid-cell equi-join —
    never a theta/cartesian pairing of the point sets."""
    plan = plan_of(q("join_spatial_grid", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_bollinger_shares_one_frame_no_python(spark):
    """Both rolling sums must come from ONE window node (shared frame
    fusion — the house doctrine) with no Python."""
    plan = plan_of(q("win_bollinger_exact", spark), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "EvalPython" not in plan


def test_winsorized_mean_broadcasts_bounds(spark):
    plan = plan_of(q("agg_winsorized_mean", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_mann_kendall_pair_join_no_cartesian(spark):
    """The S-statistic pair join must resolve through the event_type
    equi-key (range condition as post-filter) — never a cartesian of
    the daily rollups — and stay JVM-side."""
    plan = plan_of(q("ts_mann_kendall", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_theil_sen_partitioned_median_no_python(spark):
    """The slope median must window PER TYPE over the calendar-bounded
    pair set — no partition-less sort, no Python."""
    plan = plan_of(q("ts_theil_sen", spark), mode="extended")
    assert "windowspecdefinition(event_type" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_novelty_shuffles_on_shingle_no_python(spark):
    """First-occurrence resolution is the inverted-index shape: explode,
    aggregate min(doc_id) per shingle (map-side combine), re-join on
    the same key — never a doc-pair join, never Python."""
    plan = plan_of(q("text_ngram_novelty", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "partial_min" in plan, plan  # map-side combine on min(doc_id)


def test_readability_map_only(spark):
    """Flesch scoring is embarrassingly parallel: tokenize + two regex
    scans, ZERO shuffles, no Python."""
    plan = plan_of(q("text_readability", spark), mode="simple")
    assert plan.count("Exchange") == 0, plan
    assert "EvalPython" not in plan


def test_rsi_windows_share_one_exchange(spark):
    """The lag pass and the rolling gain/loss pass share the
    (event_type, d) sort order — sequential Window nodes over ONE
    exchange of the daily rollup, no Python."""
    plan = plan_of(q("win_rsi", spark), mode="simple")
    assert "EvalPython" not in plan
    # one exchange for the daily agg, one for the shared window sort
    assert plan.count("Exchange") <= 2, plan


def test_ljung_box_single_window_pass_no_python(spark):
    """All 7 lag products must ride ONE window node (the ACF shape)."""
    plan = plan_of(q("ts_ljung_box", spark), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "EvalPython" not in plan


def test_weighted_reservoir_rank_pushes_topk(spark):
    """The A-ES rank must window per type AND push the rk <= 5 filter
    into the shuffle (WindowGroupLimit — top-k, never a full sort
    then filter)."""
    plan = plan_of(q("sample_weighted_reservoir", spark), mode="extended")
    assert "windowspecdefinition(event_type" in plan
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_markov_transitions_broadcast_row_totals(spark):
    """The row-normalization join is |types|-sized — must broadcast;
    the sequence window partitions per user (no global sort)."""
    plan = plan_of(q("analytics_markov_transitions", spark), mode="extended")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(user_id" in plan
    assert "EvalPython" not in plan


def test_hodges_lehmann_walsh_join_no_cartesian(spark):
    """Walsh pairs must come through the event_type equi-join (range
    as post-filter) with integer-ordered median windows per type."""
    plan = plan_of(q("agg_hodges_lehmann", spark), mode="extended")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "windowspecdefinition(event_type" in plan


def test_runs_test_windows_share_sort_no_python(spark):
    """The diff lag and the sign-change lag share the (event_type, d)
    order — sequential Window nodes, no Python, bounded exchanges."""
    plan = plan_of(q("ts_runs_test", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_chisq_cells_broadcast_margins(spark):
    """Row/col/grand totals are cell-grid-sized and must broadcast back
    onto the cells — nothing after the first aggregate may shuffle
    corpus-sized data."""
    plan = plan_of(q("analytics_chisq_cells", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_group_by_all_is_one_hash_aggregate(spark):
    """GROUP BY ALL is analysis-time sugar: the plan must be the same
    single partial+final hash aggregate as the explicit list — no
    extra exchange, no expand."""
    plan = plan_of(q("sql_group_by_all", spark), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Expand" not in plan


def test_mannwhitney_rank_partitioned_no_python(spark):
    """Doubled tie mid-ranks must window PER TYPE over the
    calendar-bounded daily rollup; everything stays JVM-side."""
    plan = plan_of(q("agg_mannwhitney_u", spark), mode="extended")
    assert "windowspecdefinition(event_type" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_burstiness_one_window_one_agg(spark):
    """The gap lag is ONE window pass partitioned per type over raw
    events; the three power sums partially aggregate map-side."""
    plan = plan_of(q("analytics_interarrival_burstiness", spark), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "partial_sum" in plan, plan
    assert "EvalPython" not in plan


def test_spatial_nearest_grid_no_cartesian_topk_pushed(spark):
    """The 1-NN join must ride the grid-cell equi-join (never theta/
    cartesian over the point sets) and WindowGroupLimit must push the
    rn = 1 argmin into the shuffle."""
    plan = plan_of(q("join_spatial_nearest", spark), mode="extended")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_sttr_map_only_no_explode(spark):
    """STTR chunking rides higher-order array expressions — zero
    shuffles, zero generators, no Python."""
    plan = plan_of(q("text_sttr_lexical_diversity", spark), mode="simple")
    assert plan.count("Exchange") == 0, plan
    assert "Generate" not in plan, plan
    assert "EvalPython" not in plan


def test_csv_evil_roundtrip_reads_back_with_schema(spark):
    """The round-trip read must carry the declared schema (no inference
    pass) and stay JVM-side end to end."""
    plan = plan_of(q("sink_csv_quoted_escapes", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "Scan csv" in plan or "FileScan csv" in plan, plan


def test_rollup_merge_two_aggregates_no_python(spark):
    """The merge path is exactly two aggregation levels (daily partial,
    monthly merge) — no third pass, no Python."""
    plan = plan_of(q("pipeline_rollup_merge", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_seasonal_naive_one_window_one_agg(spark):
    """Lag-7 rides one per-type window over the daily rollup; the error
    sums partially aggregate."""
    plan = plan_of(q("win_seasonal_naive_error", spark), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "partial_sum" in plan, plan
    assert "EvalPython" not in plan


def test_hybrid_rrf_single_scoring_pass(spark):
    """Both retriever scores come from ONE broadcast scoring pass (the
    corpus never shuffles for the join) and all three rank windows
    partition by query_id."""
    plan = plan_of(q("sim_hybrid_rrf", spark), mode="extended")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "windowspecdefinition(query_id" in plan
    assert "EvalPython" not in plan


def test_mmr_steps_join_bounded_candidates(spark):
    """Every greedy step joins top-k-bounded candidate tables — no
    cartesian over the corpus, no Python; the candidate pool is
    localCheckpoint-truncated so the scoring pass isn't replayed per
    step."""
    plan = plan_of(q("sim_mmr_diversify", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_percentile_cont_positional_fetch(spark):
    """Value selection is positional: one rank window per group, then a
    rank-targeted join — never a percentile built-in (engine-varying
    float accumulation)."""
    plan = plan_of(q("agg_percentile_cont_exact", spark), mode="extended")
    assert "windowspecdefinition(prio" in plan
    assert "percentile" not in plan.lower()
    assert "EvalPython" not in plan


def test_scd2_pit_two_windows_one_shuffle(spark):
    """The change detector and the carry-forward must share the
    (user_id, (ts, event_id)) partitioning — one exchange, never a
    range join against an intervals table."""
    plan = plan_of(q("join_scd2_point_in_time", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1, plan


def test_new_vs_returning_shares_user_shuffle(spark):
    """The (user, day) dedup and the per-user first-day aggregate ride
    the same user-keyed exchange; counts partially aggregate."""
    plan = plan_of(q("analytics_new_vs_returning", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "partial_min" in plan or "partial_count" in plan, plan


def test_star_except_prunes_scan(spark):
    """* EXCEPT must narrow the parquet read itself — the excepted fat
    columns may not appear in ReadSchema."""
    plan = plan_of(q("sql_star_except", spark))
    assert "ReadSchema" in plan
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:400], plan


def test_benford_digit_extraction_in_codegen(spark):
    """Digit extraction is integer/string arithmetic inside codegen (no
    float log to get the digit); the 9-row total broadcasts back."""
    plan = plan_of(q("agg_benford_deviation", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_case_profile_map_only(spark):
    """Three in-array regex filters, zero shuffles, no generators."""
    plan = plan_of(q("text_case_pattern_profile", spark), mode="simple")
    assert plan.count("Exchange") == 0, plan
    assert "Generate" not in plan
    assert "EvalPython" not in plan


def test_file_metadata_rides_the_scan(spark):
    """_metadata provenance must come from the parquet scan itself (no
    extra I/O pass) with map-side combined per-file aggregates."""
    plan = plan_of(q("scan_parquet_file_metadata", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "partial_min" in plan, plan
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan parquet") == 1, plan


def test_named_window_clause_same_plan_as_inline(spark):
    """The WINDOW clause is analysis-time sugar: named and inline specs
    over the same partitioning resolve to Window nodes over ONE
    user-key exchange, no Python."""
    plan = plan_of(q("sql_window_named_clause", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1, plan


def test_string_agg_is_sort_aggregate_with_order(spark):
    """listagg WITHIN GROUP must plan as an ordered aggregate (the
    determinism guarantee) — never an arrival-order concat."""
    plan = plan_of(q("agg_string_agg_ordered", spark), mode="extended")
    assert "listagg" in plan, plan
    assert "EvalPython" not in plan


def test_adamic_adar_wedge_contrib_quantized_before_sum(spark):
    """Wedge enumeration through shared neighbors only (no node-pair
    cartesian); the degree dim broadcasts onto the wedge center; the
    per-pair score is an exact integer sum (partial_sum present)."""
    plan = plan_of(q("graph_adamic_adar", spark), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan, plan
    assert "EvalPython" not in plan


def test_dau_mau_single_dedup_feeds_both_grains(spark):
    """One (user, day) dedup feeds the day- and month-grain rollups;
    the monthly dim broadcasts back; all JVM-side."""
    plan = plan_of(q("analytics_dau_mau", spark), mode="simple")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_trimmed_mean_positional_cut_no_python(spark):
    """The trim is pure integer rank arithmetic over one per-group rank
    window; the kept sum partially aggregates."""
    plan = plan_of(q("agg_trimmed_mean", spark), mode="extended")
    assert "windowspecdefinition(l_returnflag" in plan
    assert "percentile" not in plan.lower()
    assert "EvalPython" not in plan


def test_boilerplate_one_shuffle_topk(spark):
    """Line counting is one shuffle on the line key with map-side
    combine; the report comes back via TakeOrderedAndProject."""
    plan = plan_of(q("text_boilerplate_lines", spark), mode="simple")
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "EvalPython" not in plan


def test_exists_correlated_compiles_to_semi_and_anti_join(spark):
    """The EXISTS/NOT EXISTS pair must decorrelate into a left-semi and
    a left-anti hash join — no per-row subquery execution, no
    cartesian."""
    plan = plan_of(q("sql_exists_correlated", spark), mode="simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_correlated_scalar_decorrelates_to_aggregate_join(spark):
    """The correlated scalar average must become aggregate-then-join:
    exactly one extra HashAggregate pair on the subquery side, joined
    back on the correlation key."""
    plan = plan_of(q("sql_correlated_scalar", spark), mode="simple")
    assert "HashAggregate" in plan
    assert "Join" in plan
    assert "CartesianProduct" not in plan


def test_key_skew_profiler_all_jvm_and_partial(spark):
    """Five frequency aggregates with map-side partial aggregation;
    nothing leaves the JVM."""
    plan = plan_of(q("profile_key_skew", spark), mode="extended")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "EvalPython" not in plan


def test_aggregate_pushdown_reads_only_footers(spark):
    """With the DSv2 reader + aggregatePushdown (the query's registered
    conf, still in force when its DataFrame is planned), the grouped
    MIN/MAX/COUNT must appear in the scan as PushedAggregation +
    PushedGroupBy — the whole answer comes from parquet footers."""
    df = q("scan_aggregate_pushdown", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [MIN(value), MAX(value), COUNT(*)]" in plan, plan
    assert "PushedGroupBy: [event_type]" in plan, plan


def test_bigram_lm_broadcasts_vocab_no_python(spark):
    """The vocab dim must broadcast onto the corpus-sized probability
    join; the count shuffles partially aggregate; all JVM-side."""
    plan = plan_of(q("text_bigram_lm_crossentropy", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_heaps_law_windows_per_lang_no_python(spark):
    """The growth window must partition per lang (no partition-less
    sort over the curve), and the whole fit stays JVM-side."""
    plan = plan_of(q("text_heaps_law", spark), mode="extended")
    assert "windowspecdefinition(lang" in plan
    assert "EvalPython" not in plan


def test_ltv_curve_broadcasts_cohort_sizes(spark):
    """Cohort sizes are a broadcast-back dim; the curve window
    partitions per cohort month."""
    plan = plan_of(q("analytics_cohort_ltv_curve", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_silhouette_broadcasts_panel_not_corpus(spark):
    """The panel side broadcasts into the pair join — the corpus is
    never shuffled for pairing."""
    plan = plan_of(q("sim_silhouette_labels", spark), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "EvalPython" not in plan


def test_corpus_build_is_one_plan_no_intermediate_action(spark):
    """pipeline_corpus_build (the round-8 LLM flagship composition) must
    stay fully declarative at build time: constructing the DataFrame
    runs NO Spark jobs (no collect / eager checkpoint between stages —
    the r11 fan-out truncations are LAZY localCheckpoints, which defer
    to first action), the plan is a single Union over the per-stage
    funnel aggregates, and the whole build stays JVM-side."""
    from covid_data_pipeline_spark.registry import load_all as _la
    from pyspark.sql import DataFrame as _DF

    called = []
    orig = _DF.collect
    _DF.collect = lambda self: (called.append(1), orig(self))[1]
    try:
        df = _la()["pipeline_corpus_build"].fn(spark, SF_ORACLE)
    finally:
        _DF.collect = orig
    assert not called, "stage boundary used collect() — not one fused plan"
    plan = plan_of(df, mode="simple")
    assert "Union" in plan, plan
    assert "EvalPython" not in plan, "composition must stay JVM-side"
    # every funnel stage contributes an aggregate branch to the union:
    # 6 stage rows + pack + split rows >= 8 HashAggregate subtrees
    assert plan.count("HashAggregate") >= 8, plan


def test_vwap_both_cumsums_share_one_window(spark):
    """win_vwap's two cumulative sums use the same frame, so the plan
    holds exactly ONE Window operator (one shuffle + one sort per
    supplier) and stays JVM-side."""
    plan = plan_of(q("win_vwap", spark), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "EvalPython" not in plan


def test_quality_report_one_wide_agg_per_table_and_anti_joins(spark):
    """pipeline_quality_report computes each table's checks in ONE wide
    aggregate whose row explodes into the check rows — so each table is
    scanned exactly once for its own checks (plus one extra scan of
    orders/lineitem as FK-orphan probes), with no Python and no
    cartesian products.  The union-branch-per-check shape this replaced
    re-instantiated the aggregate subtree per check (4 events scans,
    round-8 plan audit)."""
    plan = plan_of(q("pipeline_quality_report", spark), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("LeftAnti") == 2, plan
    assert "CartesianProduct" not in plan
    assert plan.count("events.parquet") == 1, plan
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("orders.parquet") == 3, plan  # agg + orphan probe + lineitem-orphan build
    assert plan.count("lineitem.parquet") == 2, plan  # agg + orphan probe


def test_srm_exact_integer_flag_no_float_compare(spark):
    """analytics_ab_srm's 5%-critical flag must be the cross-multiplied
    integer comparison, never a float threshold — assert the doubled
    literal appears in the analyzed plan and the flag column is int."""
    df = q("analytics_ab_srm", spark)
    plan = plan_of(df, mode="extended")
    assert "3841459" in plan
    assert dict(df.dtypes)["srm_flag"] == "int"


def test_experiment_readout_single_scan_all_jvm(spark):
    """pipeline_experiment_readout reads events exactly ONCE (the whole
    readout hangs off one per-user rollup), keeps the SRM gate as the
    exact-integer comparison, and stays JVM-side."""
    df = q("pipeline_experiment_readout", spark)
    plan = plan_of(df, mode="extended")
    assert "EvalPython" not in plan
    assert "3841459" in plan
    simple = plan_of(df, mode="simple")
    assert simple.count("Scan parquet") == 1, simple


def test_incremental_ingest_one_wide_agg_bounded_scans(spark):
    """pipeline_incremental_ingest (the round-9 flagship composition)
    follows the one-wide-aggregate discipline: stage gates are per-row
    flags folded by ONE conditional aggregate and exploded into report
    rows — NOT a union of per-stage aggregate subtrees — so documents
    is scanned exactly 4x (two increment feed branches + the corpus
    hash index + the corpus count), with one intra-dedup window, no
    driver action between stages, no Python eval, and no cartesian
    product."""
    from covid_data_pipeline_spark.registry import load_all as _la
    from pyspark.sql import DataFrame as _DF

    called = []
    orig = _DF.collect
    _DF.collect = lambda self: (called.append(1), orig(self))[1]
    try:
        df = _la()["pipeline_incremental_ingest"].fn(spark, SF_ORACLE)
    finally:
        _DF.collect = orig
    assert not called, "stage boundary used collect() — not one fused plan"
    plan = plan_of(df, mode="simple")
    assert "EvalPython" not in plan, "composition must stay JVM-side"
    assert "CartesianProduct" not in plan, plan
    assert plan.count("documents.parquet") == 4, plan
    # exactly one window: the intra-increment dedup rank
    assert plan.count("Window") == 1, plan
    # the one-wide-aggregate discipline, pinned on aggregate subtrees
    # directly (round-9 advice): 3 logical aggregates — the ONE wide
    # conditional report aggregate, the corpus-index DISTINCT, and the
    # corpus count — each a partial/final HashAggregate pair, so 6
    # physical nodes; corpus_build's 9-report-subtree shape would blow
    # well past this
    assert plan.count("HashAggregate") == 6, plan


def test_daily_series_report_one_scan_shared_sort(spark):
    """pipeline_daily_series_report reads events exactly ONCE; the three
    window passes share the (event_type, day-index) sort order, and the
    whole report stays JVM-side with no cartesian product."""
    df = q("pipeline_daily_series_report", spark)
    plan = plan_of(df, mode="simple")
    assert plan.count("events.parquet") == 1, plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_merged_snapshot_corpus_never_shuffled(spark):
    """pipeline_merged_snapshot's serving plan: downstream of the
    increment-sized localCheckpoint (which truncates the admitted
    subtree so it is computed ONCE, not once per merge arm), the
    corpus-sized side is ONE parquet scan feeding ONE broadcast hash
    join plus the union — the corpus is never shuffled, no window and
    no aggregate run at corpus grain, and nothing leaves the JVM."""
    df = q("pipeline_merged_snapshot", spark)
    plan = plan_of(df, mode="simple")
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    # the intra-dedup window ranks the increment inside the checkpoint
    # build; the corpus-grain serving plan itself must carry none
    assert plan.count("Window") == 0, plan


def test_ann_bucketed_probe_join_is_broadcast_no_cartesian(spark):
    """sim_ann_bucketed's 100 TB shape (round 11: literal planes +
    radius-1 multi-probe): candidates must meet via a bucket equi-join
    with the 70-row probed query side BROADCAST — never a cartesian
    product, never a corpus shuffle-for-shuffle's-sake — and the probe
    fan-out must be a query-side Generate (explode), leaving corpus
    vectors in exactly one bucket each."""
    plan = plan_of(q("sim_ann_bucketed", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the radius-1 probe fan-out: a Generate node whose detail section
    # shows the explode over the 7 probe buckets
    assert "Generate" in plan and "explode" in plan, plan
