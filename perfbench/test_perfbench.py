"""Self-tests of the benchmark harness.  They need no Spark session: the
pass loop runs over stand-in DataFrames.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workload  # noqa: E402
from probes import ProcessTree  # noqa: E402


class _Chain:
    """Stands in for the writer call chain a query run touches."""

    def __getattr__(self, _name):
        return lambda *a, **kw: self


class FakeDF:
    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf
        self.write = _Chain()

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


class UntracedSpark:
    """A session on which tracing calls fail the test."""

    def __init__(self) -> None:
        def forbidden(*_a, **_kw):
            raise AssertionError("untraced run touched a tracing hook")

        self.streams = types.SimpleNamespace(addListener=forbidden)
        self.sparkContext = types.SimpleNamespace(setJobGroup=forbidden)


def _spec(fn):
    return types.SimpleNamespace(fn=fn, oracle=None)


GOOD = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})


def _ok(_spark, _sf):
    return FakeDF(GOOD)


def _raises(_spark, _sf):
    raise RuntimeError("boom")


def _run(specs: dict, expected: dict) -> tuple[workload.Run, dict]:
    r = workload.Run(UntracedSpark(), specs, "unused", ProcessTree(), tracer=None)
    names = list(specs)
    r.timed(names, seed=1, seconds=0)
    wrong = r.check(names, expected)
    summary = workload.summarize(r, wrong, len(names))
    summary["check_s"] = 0.0
    return r, summary


def _fake_result(summary: dict) -> dict:
    return {"setup": {"setup_s": 5.0}, "summary": summary}


def test_every_end_to_end_metric_is_printed_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    _r, summary = _run({"a": _spec(_ok)}, {"a": workload.digest(GOOD)})
    record, result = run.compose("llm_corpus", 1, 5, 0, [5.0, 5.2], _fake_result(summary))
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # the non-gating ones are on the record line, by name and unit
    for name, unit in run.REPORTED_UNITS.items():
        assert record["metrics"][name]["unit"] == unit


def test_p90_is_withheld_below_ten_samples_above_it():
    assert workload.p90_or_none([float(i) for i in range(50)]) is None
    p90 = workload.p90_or_none([float(i) for i in range(200)])
    assert p90 is not None and sum(1 for i in range(200) if i > p90) >= 10


def test_a_query_that_raises_raises_failed_frac(capsys):
    specs = {"a": _spec(_ok), "b": _spec(_raises)}
    r, s = _run(specs, {"a": workload.digest(GOOD), "b": workload.digest(GOOD)})
    # b fails in the cold pass, the six passes after it and the check
    assert s["failed"] == 8 and s["attempted"] == 7 * 2 + 2
    assert s["failed_frac"] == pytest.approx(8 / 16)
    assert any("FAIL pass 0 b: RuntimeError: boom" in line for line in capsys.readouterr().err.splitlines())
    # the failed runs still count toward every pass wall time
    assert all(len(p["queries"]) == 2 for p in r.passes)


def test_a_wrong_digest_raises_failed_frac():
    wrong = workload.digest(GOOD.assign(v=GOOD.v + 1))
    _r, s = _run({"a": _spec(_ok)}, {"a": wrong})
    assert s["failed"] == 1 and s["failed_frac"] == pytest.approx(1 / 8)


def test_rows_only_expectations_compare_rows_and_columns():
    got = workload.digest(GOOD)
    assert workload.matches(got, {"rows": 3, "cols": ["k", "v"]})
    assert not workload.matches(got, {"rows": 4, "cols": ["k", "v"]})


def test_an_untraced_run_registers_no_listener_and_records_no_spans():
    # UntracedSpark fails the test on addListener / setJobGroup
    r, s = _run({"a": _spec(_ok), "b": _spec(_ok)}, {"a": workload.digest(GOOD), "b": workload.digest(GOOD)})
    assert r.tracer is None and s["failed"] == 0
    _record, result = run.compose("llm_corpus", 1, 5, 0, [5.0], _fake_result(s))
    assert "spans" not in result and "layers" not in _record


def test_seed_orders_queries_and_nothing_else():
    specs = {n: _spec(_ok) for n in "abcdef"}
    orders = []
    for seed in (1, 1, 2):
        r = workload.Run(UntracedSpark(), specs, "unused", ProcessTree())
        r.timed(list(specs), seed=seed, seconds=0)
        orders.append([[q["query"] for q in p["queries"]] for p in r.passes])
    assert orders[0] == orders[1] != orders[2]
    assert all(sorted(p) == list("abcdef") for p in orders[2])


def test_passes_fill_the_seconds_and_the_second_half_count_as_warm():
    def _slow(_spark, _sf):
        time.sleep(0.01)
        return FakeDF(GOOD)

    r = workload.Run(UntracedSpark(), {"a": _spec(_slow)}, "unused", ProcessTree())
    r.timed(["a"], seed=1, seconds=0.4)
    assert len(r.passes) - 1 > workload.MIN_PASSES
    assert r.warm == r.passes[1 + (len(r.passes) - 1) // 2 :]
    r = workload.Run(UntracedSpark(), {"a": _spec(_ok)}, "unused", ProcessTree())
    r.timed(["a"], seed=1, seconds=0)
    assert len(r.passes) == 1 + workload.MIN_PASSES and len(r.warm) == workload.MIN_PASSES // 2


def test_every_workload_query_has_an_expected_result():
    with open(workload.EXPECTED_PATH) as f:
        expected = json.load(f)
    for names in workload.WORKLOADS.values():
        assert all(n in expected for n in names)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_stopping_a_child_ends_what_it_started_in_other_process_groups(tmp_path):
    # as pyspark.daemon does: a grandchild in a process group of its own,
    # still running after the child has exited
    pid_file = tmp_path / "pid"
    code = (
        "import os, subprocess, sys\n"
        "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'],"
        " preexec_fn=lambda: os.setpgid(0, 0))\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
    )
    proc = run.subprocess.Popen([sys.executable, "-c", code], start_new_session=True)
    proc.wait()
    grandchild = int(pid_file.read_text())
    assert _alive(grandchild)
    run._stop_group(proc)
    assert not _alive(grandchild)
