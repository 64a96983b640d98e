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
from covid_data_pipeline_spark.queries.tpch_extra import _KNN_SQL_CTES
from covid_data_pipeline_spark.registry import load_all

REPO = pathlib.Path(__file__).resolve().parents[1]
EXPERIMENTS = sorted((REPO / "experiments").glob("*.py"))
# a concrete script or round plan-dump path; `<sha>:<path>` citations of
# deleted files and placeholders such as plans/<name>_<tag>.txt do not match
CITED_PATH = re.compile(
    r"(?<![\w:/.-])(experiments/[\w-]+\.py|plans/r1\d/[\w.-]*\w)(?![\w.*{<-])"
)

# Near-twin scan: two token sequences -- top-level function bodies in
# Python tokens, or SQL source literals in SQL tokens -- are near twins
# when they share >= MIN_SHARED shingles of SHINGLE consecutive tokens,
# and those are >= MIN_SHARE of the smaller one's shingles -- or when
# they share >= MIN_SHARED_BLOCK shingles whatever the share (eight or so
# dense lines pasted between two long functions) -- or when they are one
# sequence of >= SHINGLE tokens spelled twice.
SHINGLE = 12
MIN_SHARED = 60
MIN_SHARE = 0.5
MIN_SHARED_BLOCK = 100
_SKIPPED_TOKENS = {tokenize.COMMENT, tokenize.NL, tokenize.INDENT}
# SQL tokens: a quoted string, a number, a word, a two-character operator
# or any other single character; ``--`` comments are matched to be dropped.
_SQL_TOKEN = re.compile(
    r"--[^\n]*|'(?:[^']|'')*'|\d+(?:\.\d*)?(?:[eE][-+]?\d+)?|\w+"
    r"|<>|<=|>=|!=|::|->|\|\||<<|>>|\S"
)
# The near-twin pairs the package still holds, as (module:function,
# module:function) under covid_data_pipeline_spark/, or as SQL literal
# keys (see _sql_literals).  A pair not listed here is a new copy: fold
# it into a shared helper or SQL fragment instead of adding it; a pair
# belongs here only when that helper would have to branch on which
# query it serves.
NEAR_TWINS_ALLOWED = {
    # distinct TPC-H queries (Q5 / Q10, Q8 / Q9) whose join chains share a
    # prefix: one builder for both would branch on the query's own joins
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


def _function_tokens(path: pathlib.Path, root: pathlib.Path) -> dict[str, list[str]]:
    """The tokens of each top-level ``def`` in ``path``, keyed
    ``module:function``: from the ``def`` line to its end, with
    comments, NL and INDENT tokens and the docstring dropped."""
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
        out[f"{path.relative_to(root).as_posix()}:{node.name}"] = [
            t.string
            for t in tokenize.generate_tokens(io.StringIO(text).readline)
            if t.type not in _SKIPPED_TOKENS and t.start != doc_at
        ]
    return out


def _is_str(node: ast.AST) -> bool:
    return isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Constant) and isinstance(node.value, str)
    )


def _sql_tokens(node: ast.expr) -> list[str]:
    """The SQL tokens of a string or f-string literal as written in the
    source: each ``{...}`` placeholder is one token, comments are
    dropped and words are lower-cased."""
    toks = []
    for part in node.values if isinstance(node, ast.JoinedStr) else [node]:
        if isinstance(part, ast.Constant):
            toks += [
                t if t[0] == "'" else t.lower()
                for t in _SQL_TOKEN.findall(part.value)
                if not t.startswith("--")
            ]
        else:
            toks.append("{" + ast.unparse(part.value) + "}")
    return toks


def _outer_strings(node: ast.AST):
    """The string literals under ``node`` that are not part of another."""
    for child in ast.iter_child_nodes(node):
        if _is_str(child):
            yield child
        else:
            yield from _outer_strings(child)


def _sql_literals(path: pathlib.Path, root: pathlib.Path) -> dict[str, list[str]]:
    """The SQL tokens of the SQL source literals in ``path``: each
    ``@query(name, oracle=<literal>)`` keyed by the query name, each
    module-level string constant keyed ``module:NAME``, and each string
    holding a SELECT inside a top-level function (a fragment builder, a
    ``spark.sql`` text) keyed ``module:function``, numbered ``#i`` from
    the second one on; docstrings are skipped."""
    mod = path.relative_to(root).as_posix()
    out = {}
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign) and _is_str(node.value):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    out[f"{mod}:{target.id}"] = _sql_tokens(node.value)
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for deco in node.decorator_list:
            if isinstance(deco, ast.Call) and getattr(deco.func, "id", None) == "query":
                for kw in deco.keywords:
                    if kw.arg == "oracle" and _is_str(kw.value):
                        out[deco.args[0].value] = _sql_tokens(kw.value)
        body = node.body
        if isinstance(body[0], ast.Expr) and _is_str(body[0].value):
            body = body[1:]
        found = [
            toks
            for stmt in body
            for lit in _outer_strings(stmt)
            if "select" in (toks := _sql_tokens(lit))
        ]
        for i, toks in enumerate(found):
            out[f"{mod}:{node.name}" + (f"#{i}" if i else "")] = toks
    return out


def _shingles(toks: list[str]) -> set[tuple[str, ...]]:
    return {tuple(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


def _twins(tokens: dict[str, list[str]]) -> set[tuple[str, str]]:
    """Every near-twin pair of the keyed token sequences ``tokens``."""
    shingles = {k: _shingles(t) for k, t in tokens.items()}
    pairs = set()
    for a, b in itertools.combinations(sorted(shingles), 2):
        shared = len(shingles[a] & shingles[b])
        smaller = min(len(shingles[a]), len(shingles[b]))
        if shared >= MIN_SHARED_BLOCK or (
            shared >= MIN_SHARED and shared >= MIN_SHARE * smaller
        ) or (len(tokens[a]) >= SHINGLE and tokens[a] == tokens[b]):
            pairs.add((a, b))
    return pairs


def near_twins(root: pathlib.Path) -> set[tuple[str, str]]:
    """Every near-twin pair of top-level functions under ``root``."""
    tokens = {}
    for path in sorted(root.rglob("*.py")):
        tokens.update(_function_tokens(path, root))
    return _twins(tokens)


def sql_twins(root: pathlib.Path) -> set[tuple[str, str]]:
    """Every near-twin pair of SQL source literals under ``root``.  A
    fragment interpolated into several literals is one literal of its
    own, so the scan reads the source, never the rendered SQL."""
    tokens = {}
    for path in sorted(root.rglob("*.py")):
        tokens.update(_sql_literals(path, root))
    return _twins(tokens)


def test_package_holds_no_new_near_twin_functions():
    new = near_twins(REPO / "covid_data_pipeline_spark") - NEAR_TWINS_ALLOWED
    assert not new, f"near-twin function bodies, fold them: {sorted(new)}"


def test_package_holds_no_new_sql_twins():
    new = sql_twins(REPO / "covid_data_pipeline_spark") - NEAR_TWINS_ALLOWED
    assert not new, f"near-twin SQL literals, fold them into fragments: {sorted(new)}"


def _long_host(name: str, block: list[str], pad: int) -> str:
    """A function of ``pad`` distinct filler lines around ``block``."""
    filler = [f"    {name}_{i} = x * {i} + {pad * i + 7}" for i in range(pad)]
    half = pad // 2
    body = filler[:half] + block + filler[half:]
    return "\n".join([f"def {name}(x):", *body, f"    return {name}_0"]) + "\n"


def _sql_query(name: str, oracle: str) -> str:
    """A module-level query ``name`` whose oracle is the literal ``oracle``."""
    return f"@query({name!r}, oracle={oracle})\ndef {name}(spark, sf_dir):\n    return None\n\n\n"


def test_near_twin_scan_flags_a_copied_function(tmp_path):
    """A query copied into another module under a new name is a pair;
    the scan skips the copy's docstring and comments.  A 25-line block
    pasted between two long functions is a pair too, although it is far
    under half of either body.  In SQL, a CTE chain copied into two
    oracle literals is a pair, and so is a short oracle spelled twice;
    the same chain interpolated into both from one constant is not."""
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
    block = [
        f'    s{i} = F.sum(F.when(F.col("t") % 7 == {i % 7}, F.col("x{i}")))'
        for i in range(25)
    ]
    (tmp_path / "d.py").write_text(_long_host("host_a", block, 120))
    (tmp_path / "e.py").write_text(_long_host("host_b", block, 120))
    tokens = {
        **_function_tokens(tmp_path / "d.py", tmp_path),
        **_function_tokens(tmp_path / "e.py", tmp_path),
    }
    shared = _shingles(tokens["d.py:host_a"]) & _shingles(tokens["e.py:host_b"])
    assert MIN_SHARED_BLOCK <= len(shared) < MIN_SHARE * len(_shingles(tokens["d.py:host_a"]))

    chain = _KNN_SQL_CTES
    exact = '"SELECT COUNT(*) AS n FROM t GROUP BY x"'
    (tmp_path / "sql").mkdir()
    for m in "fg":
        (tmp_path / "sql" / f"{m}.py").write_text(
            _sql_query(f"copied_{m}", f'"""\n    WITH {chain}\n    SELECT {m} FROM edges\n    """')
            + _sql_query(f"exact_{m}", exact)
        )
    (tmp_path / "folded").mkdir()
    (tmp_path / "folded" / "h.py").write_text(
        f'CHAIN = """{chain}"""\n\n\n'
        + "".join(
            _sql_query(f"shared_{m}", f'f"""\n    WITH {{CHAIN}}\n    SELECT {m} FROM edges\n    """')
            for m in "fg"
        )
    )
    assert len(_sql_literals(tmp_path / "sql" / "f.py", tmp_path)["exact_f"]) == SHINGLE
    assert sql_twins(tmp_path / "sql") == {("copied_f", "copied_g"), ("exact_f", "exact_g")}
    assert sql_twins(tmp_path / "folded") == set()
    assert near_twins(tmp_path) == {
        ("a.py:join_asof_nearest", "b.py:nearest_copy"),
        ("d.py:host_a", "e.py:host_b"),
    }


def _is_half(node: ast.AST) -> bool:
    """``0.5`` or ``F.lit(0.5)``."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
            and node.func.attr == "lit" and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def rounding_copies(root: pathlib.Path) -> list[str]:
    """Every ``F.floor(<e> + 0.5).cast("long")`` under ``root`` outside
    ``queries/_helpers.py``, as ``path:line``: the output rounding is
    ``_helpers.round_long`` and is spelled nowhere else."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "queries/_helpers.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "cast" and len(node.args) == 1
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value in ("long", "bigint")):
                continue
            fl = node.func.value
            if (isinstance(fl, ast.Call) and isinstance(fl.func, ast.Attribute)
                    and fl.func.attr == "floor" and len(fl.args) == 1
                    and isinstance(fl.args[0], ast.BinOp)
                    and isinstance(fl.args[0].op, ast.Add)
                    and _is_half(fl.args[0].right)):
                found.append(f"{rel}:{node.lineno}")
    return found


def test_package_spells_the_output_rounding_once():
    copies = rounding_copies(REPO / "covid_data_pipeline_spark")
    assert not copies, f"call _helpers.round_long instead: {copies}"


def test_rounding_scan_flags_a_planted_copy(tmp_path):
    """Inline, split over lines, with a bare 0.5, or inside a local
    helper: each spelling is a copy; the one in _helpers is not."""
    (tmp_path / "queries").mkdir()
    (tmp_path / "queries" / "_helpers.py").write_text(
        "def round_long(e):\n"
        "    return F.floor(e + F.lit(0.5)).cast(\"long\")\n"
    )
    (tmp_path / "queries" / "q.py").write_text(
        "def q(df):\n"
        "    micro = lambda c: F.floor(F.lit(1e6) * c + F.lit(0.5)).cast(\"long\")\n"
        "    return df.select(\n"
        "        F.floor(F.col(\"x\") * 100 + 0.5).cast(\"long\"),\n"
        "        F.floor(\n"
        "            F.lit(1e6) * F.col(\"a\") / F.col(\"b\")\n"
        "            + F.lit(0.5)\n"
        "        )\n"
        "        .cast(\"long\"),\n"
        "        F.floor(F.col(\"y\") + F.lit(0.25)).cast(\"long\"),\n"
        "        micro(F.col(\"z\")),\n"
        "    )\n"
    )
    assert rounding_copies(tmp_path) == ["queries/q.py:2", "queries/q.py:4", "queries/q.py:5"]


def _unwrapped(node: ast.AST) -> ast.AST:
    """``node`` without its trailing ``.alias(..)`` and non-date
    ``.cast(..)`` calls."""
    while (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
           and (node.func.attr == "alias"
                or (node.func.attr == "cast"
                    and not (node.args and isinstance(node.args[0], ast.Constant)
                             and node.args[0].value == "date")))):
        node = node.func.value
    return node


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_ts(node: ast.AST) -> bool:
    """``"ts"`` or ``F.col("ts")``."""
    if _call_name(node) == "col" and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == "ts"


def _is_day_of_ts(node: ast.AST) -> bool:
    """The calendar day of ``ts`` as a DATE (``F.to_date(ts)``,
    ``ts.cast("date")``) or as a day number (``_day_idx()``, or a
    ``datediff`` from such a DATE)."""
    node = _unwrapped(node)
    name = _call_name(node)
    if name == "cast":
        return _is_ts(node.func.value)
    if name == "to_date":
        return bool(node.args) and _is_ts(node.args[0])
    if name == "datediff":
        return bool(node.args) and _is_day_of_ts(node.args[0])
    return name == "_day_idx"


def daily_series_copies(root: pathlib.Path) -> list[str]:
    """Every per-event-type daily count under ``root`` outside
    ``queries/_helpers.py``, as ``path:line``: a ``groupBy`` on
    ``event_type`` and the day of ``ts`` only, aggregated by one bare
    ``count``.  That series is ``_helpers._daily_counts`` and is spelled
    nowhere else."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "queries/_helpers.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if _call_name(node) != "agg" or len(node.args) != 1:
                continue
            gb = node.func.value
            if _call_name(gb) not in ("groupBy", "groupby"):
                continue
            keys = [k for k in gb.args
                    if not (isinstance(k, ast.Constant) and k.value == "event_type")]
            if (len(keys) < len(gb.args) and keys and all(map(_is_day_of_ts, keys))
                    and _call_name(_unwrapped(node.args[0])) == "count"):
                found.append(f"{rel}:{gb.lineno}")
    return found


def test_package_spells_the_daily_series_once():
    copies = daily_series_copies(REPO / "covid_data_pipeline_spark")
    assert not copies, f"call _helpers._daily_counts instead: {copies}"


def test_daily_series_scan_flags_a_planted_copy(tmp_path):
    """Inline, split over lines, with ``to_date`` or the day number:
    each spelling is a copy.  A second aggregate, a day of week, another
    key beside the day, and the copy in _helpers are not."""
    (tmp_path / "queries").mkdir()
    (tmp_path / "queries" / "_helpers.py").write_text(
        "def _daily_counts(e):\n"
        "    return e.groupBy(\"event_type\", _day_idx().alias(\"t\")).agg(F.count(F.lit(1)))\n"
    )
    (tmp_path / "queries" / "q.py").write_text(
        "def q(e):\n"
        "    a = e.groupBy(\"event_type\", F.col(\"ts\").cast(\"date\").alias(\"d\")).agg(F.count(F.lit(1)).alias(\"x\"))\n"
        "    b = e.groupBy(\n"
        "        \"event_type\",\n"
        "        F.col(\"ts\").cast(\"date\"),\n"
        "    ).agg(\n"
        "        F.count(F.lit(1)).cast(\"long\").alias(\"n\")\n"
        "    )\n"
        "    c = e.groupBy(\"event_type\", F.to_date(\"ts\").alias(\"d\")).agg(F.count(\"*\"))\n"
        "    d = e.groupBy(\"event_type\", _day_idx().cast(\"long\").alias(\"t\")).agg(F.count(F.lit(1)))\n"
        "    f = e.groupBy(\"event_type\", F.to_date(\"ts\")).agg(F.count(F.lit(1)), F.sum(\"value\"))\n"
        "    g = e.groupBy(\"event_type\", (_day_idx() % 7).alias(\"dow\")).agg(F.count(F.lit(1)))\n"
        "    h = e.groupBy(\"event_type\", F.to_date(\"ts\"), \"user_id\").agg(F.count(F.lit(1)))\n"
        "    i = e.groupBy(\"user_id\", F.to_date(\"ts\")).agg(F.count(F.lit(1)))\n"
        "    return a, b, c, d, f, g, h, i\n"
    )
    assert daily_series_copies(tmp_path) == [
        "queries/q.py:2", "queries/q.py:3", "queries/q.py:9", "queries/q.py:10",
    ]
