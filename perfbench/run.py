#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh engine process.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 20 --trace 0

Steps, all inside the checkout:

1. start the engine once only to time its set-up (``get_spark`` and
   ``load_all`` in a fresh process), then once more for the workload run
   (``workload.py``), which times its own set-up too; ``setup_s`` is the
   median of those samples;
2. print one record line (seed, load, sample counts, every metric with its
   unit, failures), then the result line: end-to-end metrics when
   ``--trace 0``, per-layer metrics when ``--trace 1``.

The inputs are the engine's seed-42 sf0.1 fixtures, kept read-only under
``perfbench/fixtures/sf0.1``.  ``--seed`` orders the queries of every pass;
the data never change.  The default seed is 1; seed 7919 is held out for
validating later claims.
Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import load_record, steal_share  # noqa: E402
from workload import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "fixtures", "sf0.1")
DEFAULT_SEED = 1
SETUP_PROBES = 1  # set-up-only processes; the workload process gives one more sample
RUN_BUDGET_S = 165.0  # the whole run, every child included

END_TO_END_UNITS = {
    "setup_s": "s",
    "warm_pass_s": "s",
}
# reported on the record line; they do not gate: the cold pass is one
# sample per run and follows the machine's speed (spread up to a fifth
# between runs on a quiet machine), the median query flips
# between queries of different sizes from run to run (spread up to a fifth
# on a quiet machine), p90 needs 10 samples above it, failed_frac is 0 when
# the engine is correct, and the JVM's peak RSS follows its GC timing
REPORTED_UNITS = {"cold_pass_s": "s", "query_p50_s": "s", "query_p90_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def child_env(run_dir: str) -> dict[str, str]:
    """Keep every file the engine writes inside ``run_dir``.  The engine
    puts its scratch on /dev/shm by default; here it lands on the
    checkout's file system, so streaming checkpoints and state-store
    commits are disk-backed."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "stream", "scratch", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_STREAM_SCRATCH=dirs["stream"],
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={dirs['tmp']} pyspark-shell"
        ),
    )
    return env


def _become_subreaper() -> None:
    """Have orphaned engine processes (the JVM and the Python daemon
    outlive the workload process) reparented to this process, so they are
    stopped and reaped here and not left to init."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap_orphans() -> bool:
    """Reap every ended child; True while some child is still running."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def _leftovers(sid: int) -> list[int]:
    """Processes of session ``sid`` and every process reparented here.
    The session holds the child, the JVM and ``pyspark.daemon``, which
    moves itself and its workers into a process group of their own."""
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()  # state ppid pgrp session ...
        if fields[0] != "Z" and (int(fields[3]) == sid or int(fields[1]) == me):
            pids.append(int(name))
    return pids


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process the child started (the JVM, the Python daemon
    and its workers, whatever process group they are in) and wait until
    each has ended and is reaped.  Nothing there holds state worth a
    graceful shutdown: its files live in the run directory, which is
    removed afterwards."""
    proc.kill()
    proc.wait()
    t_end = time.monotonic() + 10.0
    while time.monotonic() < t_end:
        pids = _leftovers(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if not _reap_orphans() and not pids:
            return
        time.sleep(0.01)
    print(f"perfbench: processes {_leftovers(proc.pid)} did not end", file=sys.stderr)


def run_child(args: list[str], env: dict, cwd: str, deadline: float) -> dict:
    out = os.path.join(cwd, f"result-{len(os.listdir(cwd))}.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), *args, "--out", out]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"workload process {args} ended with {rc}, no result")
    with open(out) as f:
        res = json.load(f)
    res["wall_s"] = time.monotonic() - t0
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    engine = os.path.join(ROOT, "covid_data_pipeline_spark", "__init__.py")
    harness = os.path.join(ROOT, "tests", "oracle_harness.py")
    if not (os.path.isfile(engine) and os.path.isfile(harness) and os.path.isdir(DATA)):
        print(f"perfbench: engine or fixtures not found next to {HERE}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_BUDGET_S
    _become_subreaper()
    # a stop request unwinds through run_child, which stops its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = load_record()
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        env = child_env(run_dir)
        common = ["--workload", a.workload, "--data", DATA]
        probes_ = [
            run_child([*common, "--setup-only"], env, run_dir, deadline)
            for _ in range(SETUP_PROBES)
        ]
        setups = [p["setup"]["setup_s"] for p in probes_]
        res = run_child(
            [*common, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            env,
            run_dir,
            deadline,
        )
    except Exception as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    setups.append(res["setup"]["setup_s"])
    record, result = compose(a.workload, a.seed, a.seconds, a.trace, setups, res)
    load_end = load_record()
    record.update(
        load_start=load_start,
        load_end=load_end,
        cpu_steal_share=steal_share(load_start, load_end),
        process_wall_s=[p["wall_s"] for p in probes_] + [res["wall_s"]],
    )
    if a.trace:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"record": record, "spans": res["spans"], "passes": res["passes"]}, f)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"perfbench": record}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def compose(workload: str, seed: int, seconds: float, trace: int, setups: list, res: dict):
    """The record line and the result line of one run.  The result carries
    the end-to-end metrics untraced and the per-layer metrics traced."""
    s = res["summary"]
    values = {
        "setup_s": statistics.median(setups),
        **{k: s[k] for k in (*END_TO_END_UNITS, *REPORTED_UNITS) if k != "setup_s"},
    }
    units = {**END_TO_END_UNITS, **REPORTED_UNITS}
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "samples": {
            "setup_s": len(setups),
            "cold_pass_s": 1,
            "warm_pass_s": s["warm_passes"],
            "query_p50_s": s["query_samples"],
            "query_p90_s": s["query_samples"],
            "peak_rss_mb": 1,
            "failed_frac": s["attempted"],
        },
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        "setup_samples_s": setups,
        "check_s": s["check_s"],
        "pass_walls_s": s["pass_walls_s"],
        "per_query_warm_median_s": s["per_query_warm_median_s"],
        "failures": s["failures"],
    }
    if trace:
        record["layers"] = res["layers"]
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: record["metrics"][k] for k in END_TO_END_UNITS}
    result = {
        "correct": s["failed"] == 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": metrics,
    }
    return record, result


if __name__ == "__main__":
    sys.exit(main())
