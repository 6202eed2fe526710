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


# Every defaulted parameter of an operator-layer function must take a
# second value at some call site (tests included): one that every caller
# leaves at one value is a constant, not a knob.  Name-based like the
# scan above, so a function reached through ``*args``/``**kwargs`` or
# passed around as a value is skipped rather than guessed at.
_KNOB_DIRS = tuple(
    os.path.join(_PKG, d) + os.sep for d in ("operators", "sources", "functions", "plans")
)


def _call_trees():
    for rel, path in _py_sources():
        with open(path) as fh:
            yield rel, ast.parse(fh.read())
    for root, prefix in (("tests", ""), ("perfbench", "test_")):
        for name in sorted(os.listdir(os.path.join(_REPO, root))):
            if name.startswith(prefix) and name.endswith(".py"):
                with open(os.path.join(_REPO, root, name)) as fh:
                    yield os.path.join(root, name), ast.parse(fh.read())


def _knob_defs(rel, tree):
    """(name, args, leading params a call does not pass, location) for
    every function and method in the module; a constructor goes by its
    class name."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield stmt.name, stmt.args, 0, f"{rel}:{stmt.lineno} {stmt.name}"
        elif isinstance(stmt, ast.ClassDef):
            for fn in stmt.body:
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                static = any(
                    getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list
                )
                name = stmt.name if fn.name == "__init__" else fn.name
                loc = f"{rel}:{fn.lineno} {stmt.name}.{fn.name}"
                yield name, fn.args, 0 if static else 1, loc


def _single_valued_parameters() -> list[str]:
    trees = list(_call_trees())
    defs = [
        d for rel, tree in trees if rel.startswith(_KNOB_DIRS) for d in _knob_defs(rel, tree)
    ]
    names = {d[0] for d in defs}
    calls: dict[str, list[ast.Call]] = {n: [] for n in names}
    skipped: set[str] = set()
    for _rel, tree in trees:
        callees = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                if name in calls:
                    callees.add(id(n.func))
                    calls[name].append(n)
                    if any(isinstance(a, ast.Starred) for a in n.args) or any(
                        k.arg is None for k in n.keywords
                    ):
                        skipped.add(name)
        for n in ast.walk(tree):  # a bare reference passes the function as a value
            if id(n) in callees:
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load) and n.id in names:
                skipped.add(n.id)
            elif (
                isinstance(n, ast.Attribute) and n.attr in names and isinstance(n.ctx, ast.Load)
            ):
                skipped.add(n.attr)
    found = []
    for name, args, lead, loc in defs:
        if name in skipped or not calls[name]:
            continue
        positional = args.posonlyargs + args.args
        defaulted = list(zip(positional[len(positional) - len(args.defaults):], args.defaults))
        defaulted += [
            (a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
        ]
        index = {a.arg: i - lead for i, a in enumerate(positional)}
        for arg, default in defaulted:
            values = set()
            for call in calls[name]:
                given = [k.value for k in call.keywords if k.arg == arg.arg]
                i = index.get(arg.arg, -1)
                if not given and 0 <= i < len(call.args):
                    given = [call.args[i]]
                values.add(ast.dump(given[0] if given else default))
            if len(values) == 1:
                found.append(f"{loc}({arg.arg}={ast.unparse(default)})")
    return sorted(found)


def test_every_operator_parameter_takes_two_values():
    assert _single_valued_parameters() == []
