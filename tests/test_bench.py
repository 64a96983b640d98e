"""bench.py's warm-up list, checked without a SparkSession."""

from __future__ import annotations

import bench
from covid_data_pipeline_spark.registry import load_all


def test_warmup_names_are_registered_queries():
    assert set(bench.WARMUP) <= set(load_all())


def test_warmup_leaves_headline_cold_except_flagship():
    """A warmed HEADLINE query would be timed warm, so its number would
    stop being comparable with earlier rounds; only the flagship, which
    has always been the JVM/codegen warm-up, may be in both."""
    assert set(bench.WARMUP) & set(bench.HEADLINE) == {"agg_groupby"}
