"""One workload run in one fresh process: set up, a cold pass, warm-up
passes, the warm passes, then the output check.  One client, closed loop: a query is sent
only when the previous one has completed.

Normally started by ``run.py``, which also takes the repeated set-up
samples and prints the result; run by hand for a single process::

    python3 perfbench/workload.py --workload llm_corpus --data DIR --out OUT.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# Queries per workload.  Each list is a slice of the workload described in
# README.md, cut so that set-up, a cold pass, the warm passes and the
# output check fit one run of well under a minute on 4 cores.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "llm_corpus": (
        "dedup_exact",
        "sim_cosine_pairs",
        "str_clean_pipeline",
        "multimodal_decode_pipeline",
        "multimodal_audio_features",
    ),
    "stream_ingest": (
        "stream_dedup_ttl",
        "stream_upsert_foreachbatch",
        "sink_parquet_partitioned",
    ),
}
# Passes follow the cold pass until they have filled ``--seconds``, and
# never fewer than this.  The JIT keeps compiling over the first four or so
# of them (each pass faster than the one before), so the first half are
# warm-up passes and only the second half count as warm.
MIN_PASSES = 6

EXPECTED_PATH = os.path.join(HERE, "expected.json")
P90_MIN_ABOVE = 10  # samples that must lie above p90 before it is reported


def digest(pdf) -> dict:
    """Order-insensitive digest of a pandas result, using the loose (1e-9)
    float canonicalization of the oracle harness."""
    from tests.oracle_harness import _rowset

    h = hashlib.sha256()
    for row in _rowset(pdf, strict=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"rows": len(pdf), "cols": sorted(pdf.columns), "sha256": h.hexdigest()}


def matches(got: dict, want: dict) -> bool:
    """Rows-only expectations carry no sha256: rows and columns must match."""
    return all(got[k] == v for k, v in want.items())


def p90_or_none(samples: list[float]) -> float | None:
    """p90, withheld (None) unless at least P90_MIN_ABOVE samples lie above it."""
    if len(samples) < 2:
        return None
    p90 = statistics.quantiles(samples, n=10)[8]
    above = sum(1 for s in samples if s > p90)
    return p90 if above >= P90_MIN_ABOVE else None


class Run:
    """The pass loop.  ``tracer`` is None on untraced runs: then no
    listener is registered, no job group is set and no span is kept."""

    def __init__(self, spark, specs, sf_dir, tree, tracer=None) -> None:
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.tree = tree
        self.tracer = tracer
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.last_df: dict = {}  # query -> DataFrame of its latest successful run

    def _fail(self, where: str, name: str, err: BaseException | str) -> None:
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {str(err).splitlines()[0] if str(err) else ''}"
        line = f"{where} {name}: {msg}"
        self.failures.append(line)
        print(f"# perfbench FAIL {line}", file=sys.stderr, flush=True)

    def query(self, pass_no: int, name: str) -> dict:
        """One execution: the build (``fn``), then the ``noop`` write, which
        plans and runs the DataFrame once, as a batch job's write does."""
        qid = f"{pass_no}:{name}"
        tr = self.tracer
        rec = {"query": name, "id": qid, "ok": False}
        cpu0 = self.tree.sample()
        if tr:
            tr.begin(qid)
        df = None
        t0 = time.perf_counter()
        try:
            df = self.specs[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1)
            self.last_df[name] = df
        except Exception as e:  # a failure is counted, never dropped
            self.last_df.pop(name, None)
            self._fail(f"pass {pass_no}", name, e)
            t2 = time.perf_counter()
        rec["wall_s"] = t2 - t0
        if tr:
            tr.end(qid, df if rec["ok"] else None)
            tr.add(qid, "python_worker.cpu_s", self.tree.sample() - cpu0)
            tr.span(qid, name, f"pass {pass_no}", t0, rec["wall_s"], ok=rec["ok"])
            if rec["ok"]:
                # the write plans before it runs: its planning phases open
                # the write's time
                plan = min(tr.write_plan_s.get(qid, 0.0), rec["exec_s"])
                tr.span(qid, "build", name, t0, rec["build_s"])
                tr.span(qid, "plan", name, t1, plan)
                tr.span(qid, "execute", name, t1 + plan, rec["exec_s"] - plan)
        else:
            self.tree.sample()
        return rec

    def one_pass(self, pass_no: int, order: list[str]) -> dict:
        t0 = time.perf_counter()
        recs = [self.query(pass_no, q) for q in order]
        wall = time.perf_counter() - t0
        if self.tracer:
            self.tracer.span(str(pass_no), f"pass {pass_no}", "workload", t0, wall)
        p = {"pass": pass_no, "wall_s": wall, "queries": recs}
        self.passes.append(p)
        return p

    def timed(self, names: list[str], seed: int, seconds: float) -> None:
        """The cold pass, then passes until they have filled ``seconds``,
        at least MIN_PASSES."""
        rng = random.Random(seed)
        t0 = time.perf_counter()
        self.one_pass(0, rng.sample(names, len(names)))
        t_end = time.perf_counter() + seconds
        pass_no = 1
        while pass_no <= MIN_PASSES or time.perf_counter() < t_end:
            self.one_pass(pass_no, rng.sample(names, len(names)))
            pass_no += 1
        if self.tracer:
            self.tracer.span("workload", "workload", None, t0, time.perf_counter() - t0)

    @property
    def warm(self) -> list[dict]:
        """The second half of the passes after the cold one."""
        after = self.passes[1:]
        return after[len(after) // 2 :]

    def check(self, names: list[str], expected: dict) -> int:
        """Untimed output check of each query's result from the last pass
        (rebuilt if that run failed); returns the number of wrong results.
        Streaming queries return their sink's contents, so the check reads
        what the timed drain wrote instead of draining again."""
        wrong = 0
        for name in names:
            try:
                df = self.last_df.get(name)
                if df is None:
                    df = self.specs[name].fn(self.spark, self.sf_dir)
                got = digest(df.toPandas())
            except Exception as e:
                self._fail("check", name, e)
                wrong += 1
                continue
            want = expected.get(name)
            if want is None or not matches(got, want):
                self._fail("check", name, f"result {got} != expected {want}")
                wrong += 1
        return wrong


def per_query_warm_median_s(run: Run) -> dict[str, float]:
    warm = run.warm
    return {
        q: statistics.median(r["wall_s"] for p in warm for r in p["queries"] if r["query"] == q)
        for q in sorted(r["query"] for r in run.passes[0]["queries"])
    }


def summarize(run: Run, wrong: int, n_checked: int) -> dict:
    cold, warm = run.passes[0], run.warm
    samples = [r["wall_s"] for p in warm for r in p["queries"]]
    timed = [r for p in run.passes for r in p["queries"]]
    failed = sum(1 for r in timed if not r["ok"]) + wrong
    attempted = len(timed) + n_checked
    per_query = per_query_warm_median_s(run)
    return {
        "cold_pass_s": cold["wall_s"],
        # the sum of per-query medians: one slow execution moves only its
        # own query's term
        "warm_pass_s": sum(per_query.values()),
        "warm_passes": len(warm),
        "pass_walls_s": [p["wall_s"] for p in run.passes],
        "query_p50_s": statistics.median(samples),
        "query_p90_s": p90_or_none(samples),
        "query_samples": len(samples),
        "failed_frac": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "peak_rss_mb": run.tree.peak_rss_mb(),
        "per_query_warm_median_s": per_query,
        "failures": run.failures,
    }


def layer_metrics(run: Run, tracer, setup: dict, cores: int) -> dict:
    """Per-layer figures from a traced run: sums per warm pass (median over
    the warm passes), ratios from the warm totals, cold - warm exec."""
    warm = run.warm
    per_pass: list[dict[str, float]] = []
    for p in warm:
        tot: dict[str, float] = {}
        for r in p["queries"]:
            for k, v in tracer.counters.get(r["id"], {}).items():
                tot[k] = (max if k in PEAK_KEYS else float.__add__)(tot.get(k, 0.0), v)
            for k in ("build_s", "wall_s"):
                tot[f"q.{k}"] = tot.get(f"q.{k}", 0.0) + r.get(k, 0.0)
            # a streaming query drains inside its fn call: that is not build
            drain = tracer.counters.get(r["id"], {}).get("streaming.runner.drain_s", 0.0)
            tot["q.build_s"] -= min(drain, r.get("build_s", 0.0))
        tot["pass_wall_s"] = p["wall_s"]
        per_pass.append(tot)

    def med(key: str) -> float:
        return statistics.median(t.get(key, 0.0) for t in per_pass)

    sums = {k: sum(t.get(k, 0.0) for t in per_pass) for k in ("q.build_s", "q.wall_s", "spark.exec.run_s", "pass_wall_s")}
    cold = {r["query"]: r.get("exec_s", 0.0) for r in run.passes[0]["queries"]}
    warm_exec = {
        q: statistics.median(r.get("exec_s", 0.0) for p in warm for r in p["queries"] if r["query"] == q)
        for q in cold
    }
    out = {
        "session.start_s": setup["start_s"],
        "registry.load_s": setup["load_s"],
        "registry.queries": setup["queries"],
        "session.conf_drift_queries": sum(
            c.get("session.conf_drift_queries", 0.0) for c in tracer.counters.values()
        ),
        "queries.build_s": med("q.build_s"),
        "queries.build_share": sums["q.build_s"] / sums["q.wall_s"],
        "spark.exec.idle_share": 1.0 - sums["spark.exec.run_s"] / (sums["pass_wall_s"] * cores),
        "spark.exec.cold_minus_warm_s": sum(cold[q] - warm_exec[q] for q in cold),
        "python_worker.procs": len(run.tree.workers_seen),
        "trace.warm_pass_s": sum(per_query_warm_median_s(run).values()),
    }
    for key in SUMMED_KEYS + PEAK_KEYS:
        out.setdefault(key, med(key))
    return out


SUMMED_KEYS = (
    "io.load_calls",
    "io.load_s",
    "spark.plan.analysis_s",
    "spark.plan.optimizer_s",
    "spark.plan.planning_s",
    "spark.exec.jobs",
    "spark.exec.stages",
    "spark.exec.tasks",
    "spark.exec.failed_tasks",
    "spark.exec.run_s",
    "spark.exec.cpu_s",
    "spark.exec.gc_s",
    "spark.exec.shuffle_write_bytes",
    "spark.exec.shuffle_read_bytes",
    "spark.exec.spill_bytes",
    "spark.exec.input_bytes",
    "spark.exec.output_bytes",
    "spark.exec.output_files",
    "python_worker.cpu_s",
    "streaming.runner.drain_s",
    "streaming.runner.batches",
    "streaming.runner.phase.latestOffset_s",
    "streaming.runner.phase.getBatch_s",
    "streaming.runner.phase.queryPlanning_s",
    "streaming.runner.phase.addBatch_s",
    "streaming.runner.phase.walCommit_s",
    "streaming.runner.phase.commitOffsets_s",
    "streaming.runner.state_commit_s",
)
PEAK_KEYS = (
    "spark.exec.task_skew",
    "streaming.runner.state_rows",
    "streaming.runner.state_memory_bytes",
)


def setup_spark() -> tuple:
    """The measured set-up: engine import, ``get_spark``, ``load_all``."""
    import covid_data_pipeline_spark as pkg
    from covid_data_pipeline_spark.registry import load_all
    from covid_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    specs = load_all()
    t2 = time.perf_counter()
    from probes import process_age_s

    info = {"setup_s": process_age_s(), "start_s": t1 - t0, "load_s": t2 - t1, "queries": len(specs)}
    return pkg, spark, specs, info


# where the engine writes sinks, checkpoints, scratch tables and the
# warehouse (run.child_env); Spark's local dirs hold shuffle files and are
# left out
OUTPUT_ENV = ("SPARK_GRAFT_STREAM_SCRATCH", "SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_WAREHOUSE", "TMPDIR")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args(argv)

    pkg, spark, specs, setup = setup_spark()
    if a.setup_only:
        _write(a.out, {"setup": setup})
        return 0

    import probes

    names = list(WORKLOADS[a.workload])
    out_dirs = [os.environ[k] for k in OUTPUT_ENV if k in os.environ]
    tracer = probes.Tracer(spark, pkg, out_dirs) if a.trace else None
    run = Run(spark, specs, a.data, probes.ProcessTree(), tracer)
    try:
        run.timed(names, a.seed, a.seconds)
        with open(EXPECTED_PATH) as f:
            expected = json.load(f)
        t_check = time.perf_counter()
        wrong = run.check(names, expected)
        result = {"setup": setup, "summary": summarize(run, wrong, len(names))}
        result["summary"]["check_s"] = time.perf_counter() - t_check
        if tracer:
            cores = spark.sparkContext.defaultParallelism
            result["layers"] = layer_metrics(run, tracer, setup, cores)
            result["spans"] = tracer.spans
        result["passes"] = run.passes
    except Exception:
        traceback.print_exc()
        return 1
    _write(a.out, result)
    return 0


def _write(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    # the parent stops the JVM and the Python workers (run.py
    # _stop_group); a graceful spark.stop() would only add shutdown time
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
