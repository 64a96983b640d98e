"""Read-only probes the benchmark takes from outside the engine.

* ``/proc``: peak resident memory and CPU time of the driver, the JVM and
  the Python workers (psutil is not available, so the files are parsed
  directly).
* Spark, for traced runs only: a QueryExecutionListener for the phase
  tracker of every action, the status tracker and status store per job
  group, a StreamingQueryListener for micro-batch progress, and a wrapper
  around the public ``io.load``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was created (``/proc/self/stat``
    starttime against the boot clock it is counted on)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def load_record() -> dict:
    """1-minute load average, the runnable/total task counts, and the
    machine's CPU time so far: all of it and the part stolen by the
    hypervisor for other guests (``/proc/stat``)."""
    with open("/proc/loadavg") as f:
        one, _five, _fifteen, procs, _last = f.read().split()
    running, total = procs.split("/")
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {
        "loadavg_1m": float(one),
        "runnable": int(running),
        "tasks": int(total),
        "cpu_s": sum(ticks) / _TICK,
        "cpu_steal_s": ticks[7] / _TICK,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of the machine's CPU time stolen between two load records."""
    total = end["cpu_s"] - start["cpu_s"]
    return (end["cpu_steal_s"] - start["cpu_steal_s"]) / total if total > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """A Python process running a ``pyspark.*`` module (the worker daemon,
    its forked workers, data source workers); not the JVM, whose command
    line names ``pyspark-shell``."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return False
    return os.path.basename(argv[0]).startswith(b"python") and any(
        a.startswith(b"pyspark.") for a in argv[1:]
    )


class ProcessTree:
    """Descendants of this driver process: the JVM and the Python workers
    it forks.  ``sample()`` is cheap enough to call at every query
    boundary; it keeps the peak RSS of every process it has seen, so a
    worker that exits later still counts."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.hwm_kb: dict[int, int] = {}
        self.workers_seen: set[int] = set()

    def _descendants(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children[int(st[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> float:
        """Record peaks; return the Python workers' CPU seconds so far
        (their own plus that of exited workers the daemon reaped)."""
        cpu = 0.0
        for pid in self._descendants():
            hwm = _hwm_kb(pid)
            if hwm > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = hwm
            if pid != self.root and _is_python_worker(pid):
                self.workers_seen.add(pid)
                st = _stat(pid)
                if st is not None:
                    cpu += sum(int(x) for x in st[11:15]) / _TICK
        return cpu

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0


def _java_list(jvm, seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


class StreamProbe:
    """StreamingQueryListener that files every progress event under the
    query execution that was running when its stream started."""

    def __init__(self, tracer: "Tracer") -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                probe.owner[str(event.id)] = tracer.current
                probe.started[str(event.id)] = time.perf_counter()

            def onQueryProgress(self, event):
                probe.on_progress(str(event.progress.id), event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                sid = str(event.id)
                t0 = probe.started.pop(sid, None)
                owner = probe.owner.get(sid)
                if t0 is not None and owner is not None:
                    tracer.add(owner, "streaming.runner.drain_s", time.perf_counter() - t0)

        self.tracer = tracer
        self.owner: dict[str, str | None] = {}
        self.started: dict[str, float] = {}
        self.listener = _Listener()

    def on_progress(self, sid: str, p) -> None:
        owner = self.owner.get(sid)
        if owner is None:
            return
        add = self.tracer.add
        add(owner, "streaming.runner.batches", 1)
        dur = dict(p.durationMs or {})
        for phase in PHASES:
            add(owner, f"streaming.runner.phase.{phase}_s", dur.get(phase, 0) / 1000.0)
        rows = mem = commit = 0
        for op in p.stateOperators or ():
            rows += op.numRowsTotal
            mem += op.memoryUsedBytes
            commit += op.commitTimeMs or 0
        self.tracer.peak(owner, "streaming.runner.state_rows", rows)
        self.tracer.peak(owner, "streaming.runner.state_memory_bytes", mem)
        add(owner, "streaming.runner.state_commit_s", commit / 1000.0)
        self.tracer.span(
            owner,
            f"batch {p.batchId}",
            "build",
            time.perf_counter() - dur.get("triggerExecution", 0) / 1000.0,
            dur.get("triggerExecution", 0) / 1000.0,
            phases_ms=dur,
        )


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

PLAN_PHASES = {
    "analysis": "spark.plan.analysis_s",
    "optimization": "spark.plan.optimizer_s",
    "planning": "spark.plan.planning_s",
}


class PlanProbe:
    """QueryExecutionListener (a py4j callback) that files the planning
    phases of every action under the query execution that ran it.  The
    phases come from each action's own QueryExecution, so nothing is
    planned a second time for the sake of measuring it."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.seen: set[int] = set()  # QueryExecution ids already filed

    def file(self, qid: str, qe) -> float:
        """Add ``qe``'s phase times to ``qid``; return their sum."""
        if qe.id() in self.seen:
            return 0.0
        self.seen.add(qe.id())
        phases = _java_list(self.tracer.jvm, qe.tracker().phases())
        total = 0.0
        for key, name in PLAN_PHASES.items():
            ph = phases.get(key)
            if ph is not None:
                total += ph.durationMs() / 1000.0
                self.tracer.add(qid, name, ph.durationMs() / 1000.0)
        return total

    def onSuccess(self, funcName, qe, durationNs):
        owner = self.tracer.current
        if owner is not None:
            # the query's write is its last action
            self.tracer.write_plan_s[owner] = self.file(owner, qe)

    def onFailure(self, funcName, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


STAGE_FIELDS = {
    "spark.exec.run_s": ("executorRunTime", 1e-3),
    "spark.exec.cpu_s": ("executorCpuTime", 1e-9),
    "spark.exec.gc_s": ("jvmGcTime", 1e-3),
    "spark.exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.exec.input_bytes": ("inputBytes", 1),
    "spark.exec.output_bytes": ("outputBytes", 1),
}


class Tracer:
    """In-memory spans and counters for one traced workload run.

    Every query execution gets an id (``<pass>:<query>``) that is also its
    Spark job group, so jobs, stages, streaming batches and spans all join
    on it.  Nothing is registered or recorded unless a Tracer exists."""

    def __init__(self, spark, pkg, out_dirs: list[str]) -> None:
        self.spark = spark
        self.out_dirs = out_dirs
        self._files_before = 0
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.current: str | None = None
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.spans: list[dict] = []
        self.write_plan_s: dict[str, float] = {}
        self.conf_baseline = dict(spark.conf.getAll)
        self.streams = StreamProbe(self)
        spark.streams.addListener(self.streams.listener)
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self.plans = PlanProbe(self)
        spark._jsparkSession.listenerManager().register(self.plans)
        self._wrap_io_load(pkg)

    # counters -----------------------------------------------------------
    def add(self, qid: str, key: str, value: float) -> None:
        self.counters[qid][key] += value

    def peak(self, qid: str, key: str, value: float) -> None:
        c = self.counters[qid]
        c[key] = max(c[key], value)

    def span(self, qid: str, name: str, parent: str | None, start: float, dur: float, **attrs) -> None:
        """``qid`` is the query execution the span belongs to; ``parent``
        names the span that caused it."""
        self.spans.append(
            {"id": qid, "name": name, "parent": parent, "start": start, "dur_s": dur, **attrs}
        )

    def _wrap_io_load(self, pkg) -> None:
        orig = pkg.io.load
        tracer = self

        def load(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                if tracer.current is not None:
                    tracer.add(tracer.current, "io.load_calls", 1)
                    tracer.add(tracer.current, "io.load_s", time.perf_counter() - t0)

        for name, mod in list(sys.modules.items()):
            if name.startswith(pkg.__name__) and getattr(mod, "load", None) is orig:
                mod.load = load

    # query boundaries ---------------------------------------------------
    def _count_files(self) -> int:
        return sum(len(files) for d in self.out_dirs for _root, _dirs, files in os.walk(d))

    def begin(self, qid: str) -> None:
        self.current = qid
        self._files_before = self._count_files()
        self.sc.setJobGroup(qid, qid)

    def end(self, qid: str, df=None) -> None:
        """Drain the listener bus (so the plan and streaming listeners have
        filed this query's events), add the analysis the returned DataFrame
        went through while it was built, then pull the query's job, stage
        and task figures from the status tracker and status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        if df is not None:
            self.plans.file(qid, df._jdf.queryExecution())
        st = self.store
        d3 = getattr(st, "stageData$default$3")()
        d5 = getattr(st, "stageData$default$5")()
        quant = self.sc._gateway.new_array(self.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        skews = []
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(qid):
            info = tracker.getJobInfo(job)
            self.add(qid, "spark.exec.jobs", 1)
            for sid in info.stageIds if info else ():
                for sd in _java_list(self.jvm, st.stageData(sid, False, d3, False, d5)):
                    if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                        continue
                    self.add(qid, "spark.exec.stages", 1)
                    self.add(qid, "spark.exec.tasks", sd.numTasks())
                    self.add(qid, "spark.exec.failed_tasks", sd.numFailedTasks())
                    for key, (getter, scale) in STAGE_FIELDS.items():
                        self.add(qid, key, getattr(sd, getter)() * scale)
                    self.add(
                        qid,
                        "spark.exec.spill_bytes",
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    )
                    if sd.numTasks() > 1:
                        summ = st.taskSummary(sid, sd.attemptId(), quant)
                        if summ.isDefined():
                            rt = summ.get().executorRunTime()
                            if rt.apply(0) > 0:
                                skews.append(rt.apply(1) / rt.apply(0))
        if skews:
            self.peak(qid, "spark.exec.task_skew", statistics.median(skews))
        self.add(
            qid, "spark.exec.output_files", max(0, self._count_files() - self._files_before)
        )
        if dict(self.spark.conf.getAll) != self.conf_baseline:
            self.add(qid, "session.conf_drift_queries", 1)
        self.sc.setJobGroup("", "")
        self.current = None
