"""The package's import surface: exported names, the names the
benchmark's traced run wraps, and the names the examples import.

A rename that breaks any of them fails here, in tier-1, instead of in a
benchmark run or an example nobody runs. No Spark session is needed."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tia_data_pipeline_spark"


@pytest.mark.parametrize("pkg", ["operators", "streaming"])
def test_all_names_resolve(pkg):
    mod = importlib.import_module(f"{PKG}.{pkg}")
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, f"{pkg}.__all__ names that do not resolve: {missing}"


def _wraps() -> tuple:
    tree = ast.parse(open(os.path.join(ROOT, "perfbench", "layers.py")).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "WRAPS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/layers.py defines no WRAPS")


def test_traced_run_wraps_resolve():
    wraps = _wraps()
    assert wraps
    missing = [
        f"{mod}.{attr}"
        for mod, attr, *_ in wraps
        if not hasattr(importlib.import_module(f"{PKG}.{mod}"), attr)
    ]
    assert not missing, f"perfbench WRAPS entries that do not resolve: {missing}"


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(ROOT, "examples", "*.py"))), ids=os.path.basename
)
def test_example_imports_resolve(path):
    missing = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(mod, alias.name):
                    try:
                        importlib.import_module(f"{node.module}.{alias.name}")
                    except ImportError:
                        missing.append(f"{node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    importlib.import_module(alias.name)
    assert not missing, f"{os.path.basename(path)} imports names that do not resolve: {missing}"


def _calls(tree, match) -> list[tuple[int, str | None]]:
    """(line, enclosing top-level function) of every call in ``tree``
    whose callee ``match`` accepts."""
    found = []
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for n in ast.walk(top):
            if isinstance(n, ast.Call) and match(n.func):
                found.append((n.lineno, owner))
    return found


def _rename_calls(tree) -> list[tuple[int, str | None]]:
    """Every directory move in ``tree``: ``os.rename``, ``shutil.move``,
    any ``*.rename(`` call, and a bare call of a ``rename``/``move``
    imported from os/shutil."""
    imported = {
        a.asname or a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and n.module in ("os", "shutil")
        for a in n.names
        if a.name in ("rename", "move", "replace")
    }
    return _calls(
        tree,
        lambda f: (
            (isinstance(f, ast.Attribute) and f.attr == "rename")
            or (isinstance(f, ast.Attribute) and f.attr in ("move", "replace")
                and isinstance(f.value, ast.Name) and f.value.id in ("os", "shutil"))
            or (isinstance(f, ast.Name) and f.id in imported)
        ),
    )


def test_directory_moves_only_in_replace_dir():
    """Every staged rewrite publishes through
    ``operators.scale.replace_dir``; a hand-rolled rename swap anywhere
    else in the package fails here."""
    allowed = {("operators/scale.py", "replace_dir"), ("operators/scale.py", "heal_replaced_dir")}
    pkg = os.path.join(ROOT, PKG)
    bad = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        for line, owner in _rename_calls(ast.parse(open(path).read())):
            if (rel, owner) not in allowed:
                bad.append(f"{rel}:{line} ({owner or 'module level'})")
    assert not bad, f"directory moves outside replace_dir: {bad}"


def _layout_facts(tree: ast.Module) -> list[tuple[int, str]]:
    """Where a module spells out the persisted-index layout by hand:
    a ``"_tombstones"`` string (docstrings aside) or a
    ``StructType.fromJson`` row-schema parse."""
    docstrings = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    found = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and "_tombstones" in n.value
            and id(n) not in docstrings
        ):
            found.append((n.lineno, "_tombstones"))
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "fromJson":
            found.append((n.lineno, "fromJson"))
    return found


def test_index_layout_owned_by_index_core():
    """``operators/index.py`` is the one owner of the persisted-index
    layout: the tombstone dir and the row-schema parse appear nowhere
    else in the package, so every family reads them through
    ``(family, meta)``."""
    pkg = os.path.join(ROOT, PKG)
    bad = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("operators", "index.py"):
            continue
        for line, what in _layout_facts(ast.parse(open(path).read())):
            bad.append(f"{rel}:{line} {what}")
    assert not bad, f"index layout spelled out outside operators/index.py: {bad}"


def _is_partitioned_write(f) -> bool:
    """``<frame>.write[.mode(…)…].partitionBy(…)``."""
    if not (isinstance(f, ast.Attribute) and f.attr == "partitionBy"):
        return False
    node = f.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def test_index_rows_appended_only_by_index_core():
    """All five index families append rows through
    ``operators.index._write_partitioned`` (after ``_append_delta``): a
    partitioned write anywhere else under ``operators/`` or
    ``streaming/`` fails here. The two build writes are exempt; they
    skip the keyed shuffle so a build is not capped at
    ``n_lists``/``n_buckets`` tasks."""
    allowed = {
        ("operators/similarity.py", "ivf_write_index"),
        ("operators/text_index.py", "build_text_index"),
    }
    pkg = os.path.join(ROOT, PKG)
    bad = []
    for sub in ("operators", "streaming"):
        for path in sorted(glob.glob(os.path.join(pkg, sub, "**", "*.py"), recursive=True)):
            rel = os.path.relpath(path, pkg)
            if rel == os.path.join("operators", "index.py"):
                continue
            for line, owner in _calls(ast.parse(open(path).read()), _is_partitioned_write):
                if (rel, owner) not in allowed:
                    bad.append(f"{rel}:{line} ({owner or 'module level'})")
    assert not bad, f"partitioned index writes outside operators/index.py: {bad}"


# The instr-digit md5 SQL is the DuckDB oracles' spelling of the
# portable hashes; Spark plans take the same values from the column
# twins in operators/dedup.py (md5_int, md5_words + md5_bit), which
# parse the digits with one conv per row.
_MD5_SQL_CALLS = {"md5_int_sql", "_md5_bit_expr", "hash_bucket_sql"}
_MD5_SQL_NAMES = {"_DSIR_BUCKET_SQL"}


def _callee(f) -> str | None:
    return f.attr if isinstance(f, ast.Attribute) else f.id if isinstance(f, ast.Name) else None


def _holds_md5_sql(node, tainted: set[str]) -> bool:
    """Whether ``node`` spells md5 hex-digit SQL: a literal holding the
    hex alphabet, a call of an oracle-fragment builder, or a name bound
    to such a value."""
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and "0123456789abcdef" in n.value:
            return True
        if isinstance(n, ast.Call) and _callee(n.func) in _MD5_SQL_CALLS:
            return True
        if isinstance(n, (ast.Name, ast.Attribute)) and _callee(n) in tainted:
            return True
    return False


def _tainted(assigns, tainted: set[str]) -> set[str]:
    """``tainted`` plus every target of ``assigns`` bound to md5
    hex-digit SQL, to a fixed point (a name built from a tainted name
    is tainted too)."""
    tainted = set(tainted)
    while True:
        more = {
            t.id
            for n in assigns
            if _holds_md5_sql(n.value, tainted)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        if more <= tainted:
            return tainted
        tainted |= more


def _md5_sql_exprs(trees: dict[str, ast.Module]) -> list[str]:
    """``expr``/``selectExpr`` calls over md5 hex-digit SQL. Names are
    scoped: module-level bindings count package-wide (they are
    imported), a function's own bindings only inside it."""
    module_level = _tainted(
        [n for tree in trees.values() for n in tree.body if isinstance(n, ast.Assign)],
        _MD5_SQL_NAMES,
    )
    bad = []
    for rel, tree in trees.items():
        scopes = [(tree, module_level)] + [
            (f, _tainted([n for n in ast.walk(f) if isinstance(n, ast.Assign)], module_level))
            for f in ast.walk(tree)
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope, tainted in scopes:
            for n in ast.walk(scope):
                if (
                    isinstance(n, ast.Call)
                    and _callee(n.func) in ("expr", "selectExpr")
                    and any(
                        _holds_md5_sql(a, tainted)
                        for a in [*n.args, *(k.value for k in n.keywords)]
                    )
                ):
                    bad.append(f"{rel}:{n.lineno}")
    return sorted(set(bad))


def test_no_md5_digit_sql_in_spark_expressions():
    """Spark plans hash through ``md5_int`` / ``md5_words`` +
    ``md5_bit``, never through ``F.expr`` (or ``selectExpr``) over the
    oracles' per-digit ``instr`` SQL, which costs one lookup chain per
    digit and per bit. Oracle strings are not Spark expressions and
    stay allowed."""
    pkg = os.path.join(ROOT, PKG)
    trees = {
        os.path.relpath(path, pkg): ast.parse(open(path).read())
        for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
    }
    bad = _md5_sql_exprs(trees)
    assert not bad, f"F.expr over md5 hex-digit SQL (use dedup.md5_int / md5_bit): {bad}"
    # the guard sees each spelling it names
    for src in (
        'F.expr(md5_int_sql("_sh"))',
        "F.expr(f\"sum(2 * {_md5_bit_expr('tok', 3)} - 1)\")",
        "F.expr(_DSIR_BUCKET_SQL)",
        "F.expr(\"instr('0123456789abcdef', substr(md5(x), 1, 1)) - 1\")",
        'def f():\n    h = DD.md5_int_sql("k")\n    return F.expr(h)',
    ):
        assert _md5_sql_exprs({"probe.py": ast.parse(src)}), src
