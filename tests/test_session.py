"""The driver class archive behind ``session.get_spark``.

Each test starts its own ``get_spark`` in a subprocess with a private
HOME, so the archive cache the rest of the suite uses is never touched.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys

import pytest

from covid_data_pipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEM = "1g"

# starts a session and records the CDS option its driver JVM got and the
# value of a conf key only a spark-defaults.conf sets
PROBE = """
import json, sys
from covid_data_pipeline_spark.session import get_spark
s = get_spark("session-probe", cpus=1)
jvm_args = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
with open(sys.argv[1], "w") as f:
    json.dump({
        "cds": [a for a in jvm_args if a.startswith("-XX:SharedArchiveFile=")],
        "marker": s.sparkContext.getConf().get("spark.graft.test.marker", None),
    }, f)
s.stop()
"""


def _probe(home, tmp_path, **env) -> tuple[dict, subprocess.CompletedProcess]:
    out = tmp_path / "probe.json"
    full = dict(os.environ, HOME=str(home), SPARK_GRAFT_DRIVER_MEM=MEM, PYTHONPATH=REPO)
    full.pop("PYSPARK_SUBMIT_ARGS", None)
    full.update(env)
    run = subprocess.run(
        [sys.executable, "-c", PROBE, str(out)],
        env=full, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    with open(out) as f:
        return json.load(f), run


def _cache(home) -> str:
    return os.path.join(str(home), ".cache", "spark-graft")


def _key() -> str:
    spark_home = session._find_spark_home()
    return session._archive_key(
        spark_home, session._java_home(), session._conf_dir(spark_home), MEM
    )


def _archives(home) -> list[str]:
    cache = _cache(home)
    return sorted(n for n in os.listdir(cache) if n.endswith(".jsa")) if os.path.isdir(cache) else []


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A HOME whose cache holds an archive built by a first start."""
    home = tmp_path_factory.mktemp("home")
    got, run = _probe(home, tmp_path_factory.mktemp("run"))
    (name,) = _archives(home)
    assert name.startswith(_key() + "-")
    assert got["cds"] == [f"-XX:SharedArchiveFile={os.path.join(_cache(home), name)}"]
    assert os.stat(_cache(home)).st_mode & 0o777 == 0o700
    # the build child keeps CDS's per-class skip warnings off stderr
    assert "[warning][cds]" not in run.stderr, run.stderr[-3000:]
    return home


def test_spark_context_loads_from_the_archive(built, tmp_path):
    log = tmp_path / "class-load.log"
    got, _ = _probe(
        built, tmp_path,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xlog:class+load:file={log} pyspark-shell",
    )
    assert got["cds"]
    lines = [ln for ln in log.read_text().splitlines() if " org.apache.spark.SparkContext " in ln]
    assert lines and "source: shared objects file (top)" in lines[0], lines


def test_archive_key_follows_jars_and_driver_memory(tmp_path):
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    java_home = session._java_home()

    def key(mem="8g"):
        return session._archive_key(str(spark_home), java_home, str(spark_home / "conf"), mem)

    base = key()
    assert key() == base
    st = os.stat(spark_home / "jars" / "b.jar")
    os.utime(spark_home / "jars" / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = key()
    assert moved != base
    assert key("4g") != moved


def test_truncated_archive_is_never_passed_to_the_jvm(built, tmp_path):
    """A truncated archive at the key path is deleted unused; with the
    build lock held elsewhere the start neither builds nor waits."""
    home = tmp_path / "home"
    cache = _cache(home)
    os.makedirs(cache)
    (src,) = _archives(built)
    size = int(src.removesuffix(".jsa").rpartition("-")[2])
    bad = os.path.join(cache, f"{_key()}-{size}.jsa")
    with open(os.path.join(_cache(built), src), "rb") as f, open(bad, "wb") as g:
        g.write(f.read(size // 2))
    with open(os.path.join(cache, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        got, run = _probe(home, tmp_path)
    assert got["cds"] == []
    assert not os.path.exists(bad)
    assert "another process is building" in run.stderr


def test_mismatched_archive_leaves_stdout_empty(tmp_path):
    """An archive the JVM rejects (dumped over another class path) makes
    it start without one; its CDS warning must not reach stdout, which
    callers such as bench.py own."""
    jar = tmp_path / "launcher.jar"
    (src,) = [n for n in os.listdir(os.path.join(session._find_spark_home(), "jars"))
              if n.startswith("spark-launcher")]
    shutil.copyfile(os.path.join(session._find_spark_home(), "jars", src), jar)
    tiny = tmp_path / "tiny.jsa"
    java = os.path.join(session._java_home(), "bin", "java")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={tiny}", "-cp", str(jar), "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120,
    )
    home = tmp_path / "home"
    os.makedirs(_cache(home))
    planted = os.path.join(_cache(home), f"{_key()}-{tiny.stat().st_size}.jsa")
    shutil.copyfile(tiny, planted)
    got, run = _probe(home, tmp_path)
    assert got["cds"] == [f"-XX:SharedArchiveFile={planted}"]
    assert "[cds" in run.stderr
    assert run.stdout == ""


def test_real_conf_dir_starts_without_archive_and_is_honoured(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.test.marker  honoured\n")
    home = tmp_path / "home"
    got, run = _probe(home, tmp_path, SPARK_CONF_DIR=str(conf))
    assert got == {"cds": [], "marker": "honoured"}
    assert "starting without a class archive" in run.stderr
    assert _archives(home) == []


# imports the package through sys.path alone, then runs a package
# function and a module only the inherited $PYTHONPATH holds in Python
# workers, and records the workers' PYTHONPATH
WORKER_PROBE = """
import json, os, sys
sys.path.insert(0, sys.argv[2])
from covid_data_pipeline_spark.queries._helpers import sql_dsum
from covid_data_pipeline_spark.session import get_spark
s = get_spark("worker-probe", cpus=1)
rdd = s.sparkContext.parallelize([1.5], 1)
got = {
    "dsum": rdd.map(sql_dsum).collect(),
    "inherited": rdd.map(lambda _: __import__("inherited_mod").VALUE).collect(),
    "path": rdd.map(lambda _: os.environ["PYTHONPATH"]).collect()[0].split(os.pathsep),
}
with open(sys.argv[1], "w") as f:
    json.dump(got, f)
s.stop()
"""


def test_workers_import_the_package_found_only_through_sys_path(built, tmp_path):
    """A Spark driver run from outside the checkout, with the package on
    sys.path but not on $PYTHONPATH, still has Python workers that
    import it; the inherited $PYTHONPATH stays on the workers' path."""
    from covid_data_pipeline_spark.queries._helpers import sql_dsum

    inherited = tmp_path / "inherited"
    inherited.mkdir()
    (inherited / "inherited_mod.py").write_text("VALUE = 7\n")
    out = tmp_path / "workers.json"
    env = dict(os.environ, HOME=str(built), SPARK_GRAFT_DRIVER_MEM=MEM, PYTHONPATH=str(inherited))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    run = subprocess.run(
        [sys.executable, "-c", WORKER_PROBE, str(out), REPO],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    with open(out) as f:
        got = json.load(f)
    assert got["dsum"] == [sql_dsum(1.5)]
    assert got["inherited"] == [7]
    assert REPO in got["path"] and str(inherited) in got["path"], got["path"]
