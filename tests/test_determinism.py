"""Partitioning-invariance: the repo's determinism doctrine (decimal
sums, ordered folds, hash-gated sampling, seeded sketches) exists so
results are BIT-IDENTICAL under any partitioning — which is what makes
a 100 TB job reproducible across cluster sizes, AQE decisions, retries
and speculative re-execution.

This test actually varies the execution geometry: reduce-side
parallelism (spark.sql.shuffle.partitions via SPARK_GRAFT_SHUFFLE, which
io.tune re-reads when the registry wrapper calls it before each query
body) AND map-side split sizing
(spark.sql.files.maxPartitionBytes), then asserts the canonical digest
of every float-emitting query under test is unchanged.  A raw double
SUM would fail this immediately — partial-aggregation order changes
with both knobs.
"""

from __future__ import annotations

import os

import pytest

from covid_data_pipeline_spark.registry import load_all

from .conftest import SF_ORACLE
from .golden_utils import strict_digest

# Queries whose outputs ride the riskiest reductions: decimal-trick
# sums/averages, ordered HOF folds, normalizer folds, seeded sketches,
# window-frame float math, regression moments.
_QUERIES = (
    "agg_groupby",
    "agg_weighted_avg",
    "agg_regr_exact",
    "sim_label_centroids",
    "sim_normalize_embeddings",
    "text_entropy",
    "text_bm25",
    "corpus_temperature_mix",
    "analytics_revenue_concentration",
    "win_anomaly_zscore",
    "ts_ema_level",
    "agg_countmin_mergeable",
    "dedup_embedding_cosine",
    "sim_maxsim_rerank",
    "win_moving_median",
    "pipeline_snapshot_diff",
    "pipeline_partition_checksum",
    # round-4 late additions: interpolation float chain, PQ fold +
    # Lloyd means, SemDeDup Lloyd means, lift division
    "ts_interpolate_linear",
    "sim_pq_adc_rerank",
    "dedup_semdedup_kmeans",
    "analytics_copurchase_lift",
    # round-5 additions: ln+round ranking, perplexity-fold terciles,
    # power-of-two decayed decimal sums, integer ACF's final division,
    # RAKE's decimal score sums
    "text_collocation_pmi",
    "quality_percentile_buckets",
    "agg_decay_weighted",
    "ts_autocorrelation",
    "text_keyphrase_rake",
    # late round-5: sequential float fold (order fixed by sort_array,
    # but the collect itself must not leak partition order), wedge-
    # blocked integer Jaccard's final division
    "ts_holt_winters",
    "graph_jaccard_neighbors",
    "text_js_divergence",
    "ts_partial_autocorrelation",
    "agg_entropy_by_group",
    "agg_gini_coefficient",
    "agg_hhi_concentration",
    # round-9 additions: the three new compositions (funnel counters
    # must not depend on which partition sees a duplicate first; the
    # daily-series trailing average is the round's one new float
    # division) and the promoted quantized-fold k-means
    "pipeline_incremental_ingest",
    "pipeline_decontaminate",
    "pipeline_daily_series_report",
    "sim_kmeans_lloyd",
    # round-8 compositions, retroactively swept: each chains multiple
    # stage reductions whose interactions the per-stage operators'
    # entries don't cover
    "pipeline_corpus_build",
    "pipeline_quality_report",
    "pipeline_experiment_readout",
    "pipeline_dedup_funnel",
)

_GEOMETRIES = (
    {"SPARK_GRAFT_SHUFFLE": "32", "maxPartitionBytes": None},
    {"SPARK_GRAFT_SHUFFLE": "3", "maxPartitionBytes": str(1 << 20)},
)


@pytest.mark.parametrize("name", _QUERIES)
def test_partitioning_invariance(name, spark):
    spec = load_all()[name]
    saved_env = os.environ.get("SPARK_GRAFT_SHUFFLE")
    saved_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    digests = []
    try:
        for geo in _GEOMETRIES:
            os.environ["SPARK_GRAFT_SHUFFLE"] = geo["SPARK_GRAFT_SHUFFLE"]
            if geo["maxPartitionBytes"] is not None:
                spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", geo["maxPartitionBytes"]
                )
            elif saved_mpb is not None:
                spark.conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)
            else:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
            digests.append(strict_digest(spec.fn(spark, SF_ORACLE)))
    finally:
        if saved_env is None:
            os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
        else:
            os.environ["SPARK_GRAFT_SHUFFLE"] = saved_env
        if saved_mpb is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)
        else:
            # initially-unset must be RESTORED to unset, or the 1 MB
            # geometry leaks into the shared session and collapses the
            # map-side-split axis for every later instance (review find)
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert digests[0] == digests[1], (
        f"{name} is partitioning-SENSITIVE: {digests[0]} vs {digests[1]} — "
        "an order-dependent float reduction (or unseeded nondeterminism) "
        "crept in"
    )
