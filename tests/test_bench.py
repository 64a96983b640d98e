"""bench.py's warm-up list, the experiments/ harness and the package's
source, checked without a SparkSession."""

from __future__ import annotations

import ast
import pathlib
import re
import subprocess
import sys

import pytest

import bench
from covid_data_pipeline_spark.registry import load_all

REPO = pathlib.Path(__file__).resolve().parents[1]
EXPERIMENTS = sorted((REPO / "experiments").glob("*.py"))
# a concrete script or round plan-dump path; `<sha>:<path>` citations of
# deleted files and placeholders such as plans/<name>_<tag>.txt do not match
CITED_PATH = re.compile(
    r"(?<![\w:/.-])(experiments/[\w-]+\.py|plans/r1\d/[\w.-]*\w)(?![\w.*{<-])"
)


def test_warmup_names_are_registered_queries():
    assert set(bench.WARMUP) <= set(load_all())


def test_warmup_leaves_headline_cold_except_flagship():
    """A warmed HEADLINE query would be timed warm, so its number would
    stop being comparable with earlier rounds; only the flagship, which
    has always been the JVM/codegen warm-up, may be in both."""
    assert set(bench.WARMUP) & set(bench.HEADLINE) == {"agg_groupby"}


@pytest.mark.parametrize("script", EXPERIMENTS, ids=lambda p: p.name)
def test_experiment_imports_with_its_dir_first_on_path(script, tmp_path):
    """``python experiments/<x>.py`` puts experiments/ first on sys.path,
    so a script named like a stdlib module shadows it for every import
    (a ``profile.py`` breaks ``cProfile``).  Import each script that way,
    from a neutral cwd, in a fresh interpreter."""
    assert script.stem not in sys.stdlib_module_names
    code = (
        f"import sys; sys.path.insert(0, {str(script.parent)!r}); "
        f"import {script.stem}"
    )
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True
    )
    assert run.returncode == 0, run.stderr


def test_cited_experiment_and_plan_paths_exist():
    docs = ["bench.py", "README.md", "SCALE.md", "MIGRATION.md",
            ".claude/skills/verify/SKILL.md"]
    files = [REPO / d for d in docs]
    for pkg in ("covid_data_pipeline_spark", "tests"):
        files += sorted((REPO / pkg).rglob("*.py"))
    missing = [
        f"{f.relative_to(REPO)}: {m}"
        for f in files
        for m in CITED_PATH.findall(f.read_text())
        if not (REPO / m).is_file()
    ]
    assert not missing, missing


def test_package_modules_reference_every_imported_name():
    """An import the module never references is dead code a refactor left
    behind, and makes the imported helper look more widely used than it
    is.  ``__init__.py`` files are exempt: their imports are re-exports."""
    unused = []
    for f in sorted((REPO / "covid_data_pipeline_spark").rglob("*.py")):
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    unused.append(f"{f.relative_to(REPO)}:{node.lineno}: {name}")
    assert not unused, unused


def test_profile_summary_median_of_even_reps_is_the_middle_mean(monkeypatch):
    """Two reps report their mean as the median, not the slower one."""
    monkeypatch.syspath_prepend(str(REPO / "experiments"))
    from profile_queries import summary

    assert summary([3.0, 1.0]) == (2.0, 1.0, 3.0)
    assert summary([4.0, 1.0, 2.0, 3.0]) == (2.5, 1.0, 4.0)
    assert summary([2.0, 9.0, 1.0]) == (2.0, 1.0, 9.0)
