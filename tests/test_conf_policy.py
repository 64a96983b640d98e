"""The session-conf policy: ``registry.query`` wraps every query so that
``io.tune`` sets the baseline, returns the other keys some query
overrides to the session default, and applies the query's own ``conf``.
An override stays in force after the body returns (the caller plans the
returned DataFrame later) and ends at the next registered call."""

from __future__ import annotations

import importlib
import pathlib
import re

import pytest

from covid_data_pipeline_spark import registry
from covid_data_pipeline_spark.io import QUERY_CONF_KEYS, tune
from covid_data_pipeline_spark.queries import joins
from covid_data_pipeline_spark.registry import load_all

from .conftest import SF_SMOKE


def _watched(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in sorted(QUERY_CONF_KEYS)}


def test_override_lasts_until_next_registered_call(spark):
    specs = load_all()
    # the module-level name is the wrapper: a direct import or a nested
    # call between queries is tuned too
    assert joins.join_shuffle_hash is specs["join_shuffle_hash"].fn
    tune(spark)
    baseline = _watched(spark)
    # a baseline key (broadcast threshold) and two keys the baseline
    # does not name (the DSv2 reader + aggregate pushdown)
    for name in ("join_shuffle_hash", "scan_aggregate_pushdown"):
        conf = specs[name].conf
        assert conf and any(baseline[k] != v for k, v in conf.items())
        specs[name].fn(spark, SF_SMOKE)
        assert {k: spark.conf.get(k) for k in conf} == conf, name
        specs["scan_parquet"].fn(spark, SF_SMOKE)
        assert _watched(spark) == baseline, name


def test_query_modules_never_write_session_conf():
    """Source guard: conf changes go through ``@query(conf=...)`` only."""
    qdir = pathlib.Path(registry.__file__).parent / "queries"
    pat = re.compile(r"\btune\(|spark\.conf\.(set|unset)\b")
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(qdir.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, hits


def test_load_all_raises_on_missing_query_module(monkeypatch):
    """A query module that fails to import must fail load_all, never
    turn into a smaller registry."""
    real = importlib.import_module
    blocked = f"{registry.__package__}.queries.training"

    def import_module(name, *a, **kw):
        if name == blocked:
            raise ModuleNotFoundError(f"No module named {name!r}", name=name)
        return real(name, *a, **kw)

    monkeypatch.setattr(registry, "_loaded", False)
    monkeypatch.setattr(registry.importlib, "import_module", import_module)
    with pytest.raises(ModuleNotFoundError, match="queries.training"):
        load_all()
