"""The session-conf policy: ``registry.query`` wraps every query so that
``io.tune`` sets the baseline, returns the other keys some query
overrides to the session default, and applies the query's own ``conf``.
An override stays in force after the body returns (the caller plans the
returned DataFrame later) and ends at the next registered call."""

from __future__ import annotations

import importlib
import inspect
import pathlib
import re
import types

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
    """Source guard: ``io.tune`` is the package's one writer of session
    conf; queries change it only through ``@query(conf=...)``, never by
    calling ``tune`` themselves."""
    pkg = pathlib.Path(registry.__file__).parent
    writes = re.compile(r"\.conf\.(set|unset)\b")
    calls_tune = re.compile(r"\btune\(")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        if path == pkg / "io.py":
            assert inspect.getsource(tune) in text
            text = text.replace(inspect.getsource(tune), "")
        hits += [
            f"{path.relative_to(pkg)}: {line.strip()}"
            for line in text.splitlines()
            if writes.search(line)
            or (path.parent.name == "queries" and calls_tune.search(line))
        ]
    assert not hits, hits


def test_tune_raises_naming_the_key_it_cannot_write():
    """A query whose conf cannot be written must not run on whatever the
    session holds: ``tune`` raises, and the message names the key."""
    locked = "spark.sql.session.timeZone"

    def set_conf(key, value):
        if key == locked:
            raise RuntimeError("conf is read-only")

    fake = types.SimpleNamespace(
        conf=types.SimpleNamespace(set=set_conf, unset=lambda key: None)
    )
    with pytest.raises(RuntimeError, match=re.escape(repr(locked))):
        tune(fake)


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


def test_nanos_events_read_as_the_same_micros_rows(spark, tmp_path):
    """The TIMESTAMP(NANOS) branch of ``io.load`` and
    ``read_events_stream``: with only tune()'s baseline conf, a
    nanos-written events file reads, batch and streaming, as exactly
    the rows of the same events written in µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from covid_data_pipeline_spark.io import load
    from covid_data_pipeline_spark.streaming import (
        read_events_stream,
        run_available_now,
    )

    micros = pq.read_table(f"{SF_SMOKE}/events.parquet").slice(0, 200)
    ts = micros.schema.get_field_index("ts")
    nanos = micros.set_column(ts, "ts", micros["ts"].cast(pa.timestamp("ns")))
    rows = {}
    for unit, table in (("us", micros), ("ns", nanos)):
        path = tmp_path / unit / "events.parquet"
        path.parent.mkdir()
        pq.write_table(table, path)
        assert pq.read_schema(path).field("ts").type.unit == unit
        tune(spark)
        sf_dir = str(path.parent)
        stream = read_events_stream(spark, sf_dir)
        rows[unit] = [
            sorted(df.collect(), key=lambda r: r.event_id)
            for df in (
                load(spark, sf_dir, "events"),
                run_available_now(stream, output_mode="append"),
            )
        ]
    assert rows["us"][0] == rows["us"][1]
    assert rows["ns"] == rows["us"]
