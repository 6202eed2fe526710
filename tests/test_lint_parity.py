"""The float-parity lint (tools/lint_parity.py) — verdict r6 task #6.

Positive fixtures are the ORIGINAL shapes of bugs this project actually
hit (each cost a red driver/sweep row before being fixed); the lint
must flag every one.  The repo itself must lint clean — that's the
standing gate that keeps the seven NOTES rules mechanical.
"""

import ast
import io
import os
import re
import sys
import tokenize

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from lint_parity import (  # noqa: E402
    lint_module_source,
    lint_output_types,
    lint_query,
    run,
)


def _rules(findings):
    return {r for (r, _, _) in findings}


def test_r6_flags_the_original_cms_bucket_bug():
    # sketch.py's _bucket before this round's fix — verbatim shape.
    old = (
        'h = F.conv(\n'
        '    F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), '
        'key.cast("string"))), 1, 15),\n    16,\n    10,\n).cast("long")\n'
    )
    assert "R6" in _rules(lint_module_source("sketch.py", old))


def test_r6_silent_on_null_propagating_concat():
    fixed = 'h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))\n'
    assert lint_module_source("sketch.py", fixed) == []


def test_r1_flags_concat_ws_vs_pipe_oracle_asymmetry():
    py = 'u = F.md5(F.concat_ws(":", F.lit("4242"), F.col("k").cast("string")))'
    sql = "SELECT md5('4242:' || CAST(k AS VARCHAR)) AS u FROM t"
    assert "R1" in _rules(lint_query("q", py, sql))
    # Symmetric CONCAT_WS on both engines is fine (table_checksum shape).
    sql_sym = "SELECT md5(CONCAT_WS('|', a, b)) AS u FROM t"
    assert lint_query("q", py, sql_sym) == []


def test_r2_flags_rank_on_raw_float_aggregate():
    # NOTES rule #7: pipeline_rating_slide's original sf0.1 failure shape.
    sql = "SELECT rank() OVER (ORDER BY avg(rating) DESC, title) FROM r GROUP BY title"
    assert "R2" in _rules(lint_query("q", "", sql))
    ok = "SELECT rank() OVER (ORDER BY round(avg(rating), 1) DESC, title) FROM r GROUP BY title"
    assert lint_query("q", "", ok) == []


def test_r3_flags_unrounded_transcendental():
    sql = "SELECT ln(CAST(n AS DOUBLE)) AS x FROM t"
    assert "R3" in _rules(lint_query("q", "", sql))
    ok = "SELECT round(ln(CAST(n AS DOUBLE)), 6) AS x FROM t"
    assert lint_query("q", "", ok) == []


def test_r5_flags_decimal_sum_cast_to_double():
    # NOTES rule #6: the ewma_control_daily sf0.1 failure shape — a
    # decimal sum whose unscaled value can exceed 2^53 cast to double.
    sql = "SELECT CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS s FROM t"
    assert "R5" in _rules(lint_query("q", "", sql))
    # Integer sums are exempt: (double)int64 rounds correctly everywhere.
    ok = "SELECT CAST(SUM(n) AS DOUBLE) AS s FROM t"
    assert lint_query("q", "", ok) == []


def test_repo_lints_clean():
    assert run(verbose=False) == []


def test_r7_no_nonscalar_driver_gated_output(spark, sf_dir):
    # The inverted_index_postings r7 red row: an ARRAY column crashes
    # the driver's pandas canonicalizer before the values compare.
    # Every queries() entry must resolve to an all-atomic schema.
    assert lint_output_types(spark, sf_dir) == []


# Eager materialization has one home: operators/materialize.py owns the
# plan-only skip, the checkpoint-not-cache rule, the id re-key and the
# job label, so no other package module may pin a plan itself.
_MATERIALIZE_CALLS = re.compile(
    r"localCheckpoint\s*\(|\.\s*persist\s*\(|\.\s*cache\s*\(\s*\)|\bis_plan_only\b"
)
_PROSE = {tokenize.COMMENT, tokenize.STRING}


def _materialization_calls(source: str) -> list[str]:
    """Code lines (comments and string literals, docstrings included,
    blanked out) that pin a plan outside ``materialize``."""
    toks = tokenize.generate_tokens(io.StringIO(source).readline)
    code: dict[int, list[str]] = {}
    for t in toks:
        if t.type not in _PROSE:
            code.setdefault(t.start[0], []).append(t.string)
    return [
        " ".join(parts)
        for _, parts in sorted(code.items())
        if _MATERIALIZE_CALLS.search(" ".join(parts))
    ]


def test_materialization_scan_ignores_prose():
    src = (
        '"""Pinned with localCheckpoint, never .cache() or .persist()."""\n'
        "# is_plan_only() used to guard this\n"
        "a = df.localCheckpoint(eager=True)\n"
        "b = df.persist()\n"
        "c = df.cache()\n"
        "if not is_plan_only():\n"
        "    pass\n"
    )
    assert len(_materialization_calls(src)) == 4


def test_materialization_has_one_module():
    pkg = os.path.join(
        os.path.dirname(__file__), "..", "imdb_metacritic_data_warehouse_spark"
    )
    home = os.path.join("operators", "materialize.py")
    found = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if name.endswith(".py") and rel != home:
                with open(path) as fh:
                    found += [f"{rel}: {ln}" for ln in _materialization_calls(fh.read())]
    assert found == [], "pin plans through operators.materialize.materialize"


# Every top-level package function or class needs a caller outside the
# tests: a query builder, the Warehouse, bench.py, __spark_entry__.py,
# tools/ or perfbench/.  A name reached only by its own body, an
# ``__all__`` list, a package ``__init__`` re-export or a test is dead
# code.  Registered ``@query`` builders are reached through the registry.
_REPO = os.path.join(os.path.dirname(__file__), "..")
_PKG = "imdb_metacritic_data_warehouse_spark"
_CALLER_ROOTS = (_PKG, "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _py_sources():
    for root in _CALLER_ROOTS:
        path = os.path.join(_REPO, root)
        if path.endswith(".py"):
            yield root, path
            continue
        for dirpath, _dirs, files in os.walk(path):
            for name in sorted(files):
                if name.endswith(".py") and not name.startswith("test_"):
                    full = os.path.join(dirpath, name)
                    yield os.path.relpath(full, _REPO), full


def _referenced_names(node, skip_imports: bool) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias) and not skip_imports:
            names.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            names.add(n.value)  # getattr-style lookups
    return names


def _is_all(stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _is_query(fn) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def _uncalled_package_names() -> list[str]:
    defined: dict[str, list[str]] = {}
    used: set[str] = set()
    for rel, path in _py_sources():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        in_pkg = rel.startswith(_PKG + os.sep)
        reexports = in_pkg and rel.endswith("__init__.py")
        for stmt in tree.body:
            if _is_all(stmt):
                continue
            own = None
            if in_pkg and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_query(stmt):
                own = stmt.name
                defined.setdefault(own, []).append(f"{rel}:{stmt.lineno} {own}")
            used |= _referenced_names(stmt, reexports) - {own}
    return sorted(loc for name, locs in defined.items() if name not in used for loc in locs)


def test_every_package_function_has_a_caller():
    assert _uncalled_package_names() == []
