"""SparkSession builder for tests and bench (the driver brings its own).

Most of a fresh session's start-up is the driver JVM loading ~11.5k
classes, ~10k of them from ``$SPARK_HOME/jars``, outside the JDK's own
class-data-sharing archive.  ``get_spark`` therefore starts the JVM
from an application CDS archive (JEP 350) of the classes a session
start loads, kept under ``~/.cache/spark-graft/``.  On a cache miss it
first builds that archive once, in a child process that starts a
session with ``-XX:ArchiveClassesAtExit`` and lets its JVM exit
normally (the archive is written at JVM exit, so a process that is
killed, as benchmarks kill theirs, never leaves one).  The cache key
covers everything the archive depends on: the JDK build, Spark's jar
list, the conf dir, the pyspark version and the driver memory.

The archive is used only where the JVM can map it: CDS refuses any
non-empty directory on the class path, and Spark puts its conf dir
first, so a conf dir holding anything but ``*.template`` files (which
Spark never reads) starts exactly as without this cache.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import time

from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .io import tune, warehouse_dir

# the JVM logs a rejected archive as a [warning][cds] line on stdout by
# default, which would corrupt a caller's stdout (bench.py prints one
# JSON line); route all JVM logging at warning level to stderr instead
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
_BUILD_TIMEOUT_S = 600
# the directory holding this package, wherever it was imported from
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _builder(app: str, cpus: int, mem: str) -> SparkSession.Builder:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.warehouse.dir", warehouse_dir())
        # SQL runtime confs (shuffle width, AQE, time zone) are set by
        # tune() below and before every registered query
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers unpickle package functions by import path; Spark
        # puts this entry between its own python path and the inherited
        # $PYTHONPATH, so a driver that found the package only through
        # sys.path still has workers that can import it
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        # local-mode driver == the only executor.  8g vs 32g was A/B'd at
        # r3 on the heavy dedup queries: no consistent difference (run
        # variance dominates), so the smaller footprint stays the default
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
    )


def _log(msg: str) -> None:
    print(f"spark-graft: {msg}", file=sys.stderr, flush=True)


def _cache_dir() -> str:
    """Private per-user cache of driver class archives; never a shared
    temp dir, where another user could plant classes for the JVM."""
    return os.path.join(os.path.expanduser("~"), ".cache", "spark-graft")


def _conf_dir(spark_home: str) -> str:
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")


def _java_home() -> str:
    """The JDK ``spark-submit`` launches: $JAVA_HOME, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def _stat(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return "-"
    return f"{st.st_size}:{st.st_mtime_ns}"


def _archive_key(spark_home: str, java_home: str, conf_dir: str, mem: str) -> str:
    """Digest of everything a driver class archive depends on: the JDK
    build, the jars on Spark's class path (name, size, mtime), the conf
    dir, the pyspark version, and the driver memory (the heap size
    decides compressed oops)."""
    import pyspark

    h = hashlib.sha256()
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        h.update(b"-")
    h.update(_stat(os.path.join(java_home, "lib", "server", "libjvm.so")).encode())
    jars = os.path.join(spark_home, "jars")
    with contextlib.suppress(OSError):
        for name in sorted(os.listdir(jars)):
            if name.endswith(".jar"):
                h.update(f"\0{name}:{_stat(os.path.join(jars, name))}".encode())
    for part in (conf_dir, pyspark.__version__, mem):
        h.update(f"\0{part}".encode())
    return h.hexdigest()[:20]


def _published(cache: str, key: str) -> str | None:
    """The archive published for ``key``, or None.  Its name records the
    size it was published with; a file of any other size (a truncated
    archive crashes the JVM when it is mapped) is deleted unused."""
    with contextlib.suppress(OSError):
        for name in os.listdir(cache):
            stem, dash, size = name.removesuffix(".jsa").rpartition("-")
            if stem != key or not dash or not name.endswith(".jsa"):
                continue
            path = os.path.join(cache, name)
            if size.isdigit() and os.path.getsize(path) == int(size):
                return path
            _log(f"deleting {path}: its size does not match the recorded {size}")
            os.unlink(path)
    return None


def _build(cache: str, key: str, cpus: int, mem: str) -> str | None:
    """Build the archive for ``key`` in a child process, publish it, and
    delete every other cached key.  Runs under the cache's build lock."""
    for name in os.listdir(cache):
        if name.endswith(".tmp"):  # left by a builder that was killed
            os.unlink(os.path.join(cache, name))
    tmp = os.path.join(cache, f"{key}.tmp")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (_PKG_PARENT, env.get("PYTHONPATH")) if p)
    cmd = [
        sys.executable,
        "-c",
        "from covid_data_pipeline_spark.session import _dump_archive; "
        f"_dump_archive({tmp!r}, {cpus}, {mem!r})",
    ]
    _log(f"building the driver class archive in {cache} (once per JDK, Spark and conf)")
    t0 = time.perf_counter()
    try:
        # the child's stdout goes to stderr: callers own their stdout
        rc = subprocess.run(
            cmd, env=env, stdin=subprocess.DEVNULL, stdout=2, timeout=_BUILD_TIMEOUT_S
        ).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    size = os.path.getsize(tmp) if os.path.exists(tmp) else 0
    if rc != 0 or not size:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        with open(os.path.join(cache, f"{key}.failed"), "w") as f:
            f.write(f"exit {rc}\n")
        _log(f"archive build failed (exit {rc}); starting without one "
             f"until {cache} is removed")
        return None
    path = os.path.join(cache, f"{key}-{size}.jsa")
    os.replace(tmp, path)
    for name in os.listdir(cache):
        if not name.startswith(key) and (name.endswith(".jsa") or name.endswith(".failed")):
            os.unlink(os.path.join(cache, name))
    _log(f"built {path} ({size / 1e6:.1f} MB) in {time.perf_counter() - t0:.1f} s")
    return path


def _archive(spark_home: str, cpus: int, mem: str) -> str | None:
    """The class archive to start the driver JVM from, building it on a
    miss; None where the JVM cannot use one or another process is
    building it (that start does not wait)."""
    conf_dir = _conf_dir(spark_home)
    with contextlib.suppress(OSError):
        extra = [n for n in os.listdir(conf_dir) if not n.endswith(".template")]
        if extra:
            _log(f"starting without a class archive: {conf_dir} holds {sorted(extra)[:3]}, "
                 "and CDS refuses a non-empty directory on the class path")
            return None
    cache = _cache_dir()
    os.makedirs(cache, mode=0o700, exist_ok=True)
    os.chmod(cache, 0o700)
    key = _archive_key(spark_home, _java_home(), conf_dir, mem)
    found = _published(cache, key)
    if found or os.path.exists(os.path.join(cache, f"{key}.failed")):
        return found
    with open(os.path.join(cache, "build.lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            _log("another process is building the class archive; starting without it")
            return None
        return _published(cache, key) or _build(cache, key, cpus, mem)


def _launch(builder: SparkSession.Builder, cds_opt: str) -> SparkSession:
    """Start the session with ``cds_opt`` on the driver JVM and an empty
    conf dir first on its class path (the conf dir holds only templates,
    see ``_archive``).  The launcher reads $SPARK_CONF_DIR only while the
    gateway JVM starts.  ``spark.driver.defaultJavaOptions`` leaves the
    caller's ``--driver-java-options`` in place."""
    empty = os.path.join(_cache_dir(), "conf")
    os.makedirs(empty, mode=0o700, exist_ok=True)
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty
    try:
        return builder.config(
            "spark.driver.defaultJavaOptions", f"{_JVM_LOG} {cds_opt}"
        ).getOrCreate()
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _dump_archive(path: str, cpus: int, mem: str) -> None:
    """Archive-build child: start a session that writes every class it
    loaded to ``path`` when its JVM exits, load the registry, then stop
    the session and end the JVM by closing the gateway's stdin."""
    from .registry import load_all

    # CDS warns once per class it cannot archive (~50 generated
    # reflection accessors, JFR event classes); keep only its errors
    spark = _launch(
        _builder("spark-graft-archive", cpus, mem),
        f"-XX:ArchiveClassesAtExit={path} -Xlog:cds*=error:stderr",
    )
    tune(spark)
    load_all()
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    sys.exit(proc.wait())


def get_spark(app: str = "covid-data-pipeline-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    archive = _archive(_find_spark_home(), cpus, mem)
    if archive is None:
        spark = _builder(app, cpus, mem).getOrCreate()
    else:
        try:
            spark = _launch(_builder(app, cpus, mem), f"-XX:SharedArchiveFile={archive}")
        except PySparkRuntimeError:
            _log(f"the driver JVM did not start from {archive}; deleting it")
            with contextlib.suppress(FileNotFoundError):
                os.unlink(archive)
            spark = _builder(app, cpus, mem).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
