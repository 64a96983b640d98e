"""bench.py's warm-up list, the experiments/ harness and the package's
source, checked without a SparkSession."""

from __future__ import annotations

import ast
import io
import itertools
import pathlib
import re
import subprocess
import sys
import tokenize

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

# Near-twin scan: two top-level function bodies are near twins when they
# share >= MIN_SHARED shingles of SHINGLE consecutive tokens, and those
# are >= MIN_SHARE of the smaller body's shingles.
SHINGLE = 12
MIN_SHARED = 60
MIN_SHARE = 0.5
_SKIPPED_TOKENS = {tokenize.COMMENT, tokenize.NL, tokenize.INDENT}
# The near-twin pairs the package still holds, as (module:function,
# module:function) under covid_data_pipeline_spark/.  A pair not listed
# here is a new copy: fold it into a shared helper instead of adding it.
NEAR_TWINS_ALLOWED = {
    # distinct TPC-H queries (Q5 / Q10, Q8 / Q9) whose join chains share a prefix
    ("queries/pipeline.py:analytics_local_supplier_volume",
     "queries/pipeline.py:analytics_returned_items"),
    ("queries/tpch_extra.py:analytics_market_share",
     "queries/tpch_extra.py:analytics_product_profit"),
}


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


def _function_shingles(path: pathlib.Path, root: pathlib.Path) -> dict[str, set]:
    """The SHINGLE-token shingles of each top-level ``def`` in ``path``,
    keyed ``module:function``: its tokens from the ``def`` line to its
    end, with comments, NL and INDENT tokens and the docstring dropped."""
    src = path.read_text()
    lines = src.splitlines(keepends=True)
    out = {}
    for node in ast.parse(src).body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        doc = node.body[0]
        doc_at = None
        if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant) \
                and isinstance(doc.value.value, str):
            doc_at = (doc.lineno - node.lineno + 1, doc.col_offset)
        text = "".join(lines[node.lineno - 1:node.end_lineno])
        toks = [
            t.string
            for t in tokenize.generate_tokens(io.StringIO(text).readline)
            if t.type not in _SKIPPED_TOKENS and t.start != doc_at
        ]
        shingles = {tuple(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}
        out[f"{path.relative_to(root).as_posix()}:{node.name}"] = shingles
    return out


def near_twins(root: pathlib.Path) -> set[tuple[str, str]]:
    """Every near-twin pair of top-level functions under ``root``."""
    shingles = {}
    for path in sorted(root.rglob("*.py")):
        shingles.update(_function_shingles(path, root))
    pairs = set()
    for a, b in itertools.combinations(sorted(shingles), 2):
        shared = len(shingles[a] & shingles[b])
        smaller = min(len(shingles[a]), len(shingles[b]))
        if shared >= MIN_SHARED and shared >= MIN_SHARE * smaller:
            pairs.add((a, b))
    return pairs


def test_package_holds_no_new_near_twin_functions():
    new = near_twins(REPO / "covid_data_pipeline_spark") - NEAR_TWINS_ALLOWED
    assert not new, f"near-twin function bodies, fold them: {sorted(new)}"


def test_near_twin_scan_flags_a_copied_function(tmp_path):
    """A query copied into another module under a new name is a pair;
    the scan skips the copy's docstring and comments."""
    src = REPO / "covid_data_pipeline_spark" / "queries" / "joins.py"
    body = ast.get_source_segment(
        src.read_text(),
        next(n for n in ast.parse(src.read_text()).body
             if isinstance(n, ast.FunctionDef) and n.name == "join_asof_nearest"),
    )
    (tmp_path / "a.py").write_text(body + "\n")
    copy = body.replace("def join_asof_nearest", "def nearest_copy", 1)
    copy = copy.replace('"""', '"""Reworded. ', 1).splitlines()
    copy.insert(-1, "    # a comment the scan skips")
    (tmp_path / "b.py").write_text("\n".join(copy) + "\n")
    (tmp_path / "c.py").write_text("def small():\n    return 1\n")
    assert near_twins(tmp_path) == {("a.py:join_asof_nearest", "b.py:nearest_copy")}
