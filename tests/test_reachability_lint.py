"""The reachability rule as a check, over the whole package: every
top-level def or assignment in every module under
sentinel_landsat_database_creation_spark/ must be reachable from
``REGISTRY``, ``TWIN_BUILDERS`` or a reference in the package's
non-test callers — bench.py, __spark_entry__.py, scripts/ and
perfbench/. Tests do not count: a capability only its own tests call
is parked code, a wrapper only tests call belongs in the test, and a
registry merge that leaves its parents' ``q_*``/``SQL_*`` behind is a
leftover. There is no allowlist.

References are AST ``Name`` ids, ``Attribute`` attrs and import-alias
names (f-string interpolations are ``Name`` nodes too), followed
transitively through the bodies of live defs only. A name mentioned in
a docstring or a comment is dead. Module dunders (``__version__``,
``__all__``) are live: Python and packaging tools read them by
protocol, not through a reference. Names resolve by spelling across
the scope, which can only keep a name alive, never kill a live one.
Pure Python: parses the sources, no Spark session. Run it (with
tests/test_memo_lint.py, ~1 s) before committing any deletion."""

from __future__ import annotations

import ast
import os
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "sentinel_landsat_database_creation_spark"
ROOTS = ("REGISTRY", "TWIN_BUILDERS")


def scope_modules(package: Path) -> list[Path]:
    return sorted(package.rglob("*.py"))


def outside_modules(repo: Path, package: Path, scope: list[Path]) -> list[Path]:
    others = [p for p in sorted(package.rglob("*.py")) if p not in scope]
    others += [repo / "bench.py", repo / "__spark_entry__.py"]
    others += sorted((repo / "scripts").glob("*.py"))
    others += sorted((repo / "perfbench").glob("*.py"))
    return others


def references(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _is_dunder(name: str) -> bool:
    return len(name) > 4 and name.startswith("__") and name.endswith("__")


def _bound_names(targets: list[ast.expr]) -> list[str] | None:
    """Names a plain (possibly unpacking) assignment binds; None when a
    target is a subscript or attribute, which mutates rather than binds."""
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return None
        names += [e.id for e in elts]
    return names


def dead_names(
    scope: list[Path], outside: list[Path], roots=ROOTS
) -> list[tuple[str, int, str]]:
    defs: dict[str, list[ast.AST]] = {}
    where: list[tuple[str, int, str]] = []
    live = set(roots)
    for path in outside:
        live |= references(ast.parse(path.read_text(), filename=str(path)))
    for path in scope:
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                names = _bound_names(stmt.targets)
            elif isinstance(stmt, ast.AnnAssign):
                names = _bound_names([stmt.target])
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a binding: live only if live code uses it
            else:
                names = None
            if names is None:  # runs at import: everything it names is live
                live |= references(stmt)
                continue
            for name in names:
                defs.setdefault(name, []).append(stmt)
                where.append((path.name, stmt.lineno, name))
                if _is_dunder(name):  # read by protocol, not by name
                    live.add(name)
    todo = [n for n in live if n in defs]
    while todo:
        for stmt in defs[todo.pop()]:
            for ref in references(stmt) - live:
                live.add(ref)
                if ref in defs:
                    todo.append(ref)
    return sorted(w for w in where if w[2] not in live)


def test_registry_modules_have_no_unreachable_names():
    scope = scope_modules(PACKAGE)
    every_module = {
        Path(d, f)
        for d, _, files in os.walk(PACKAGE)
        for f in files
        if f.endswith(".py")
    }
    assert set(scope) == every_module, sorted(every_module - set(scope))
    dead = dead_names(scope, outside_modules(REPO, PACKAGE, scope))
    assert not dead, (
        "unreachable from REGISTRY, TWIN_BUILDERS and every non-test "
        "caller — delete them, or move a test-only helper into tests/ "
        "(a merge removes its parents' q_*/SQL_*; no capability lands "
        "ahead of the caller that funds it): "
        + ", ".join(f"{f}:{line} {n}" for f, line, n in dead)
    )


def test_scanner_on_synthetic_modules(tmp_path):
    reg = tmp_path / "reg.py"
    reg.write_text(
        "from .helpers import imported_only\n"
        "__version__ = '1.0'\n"
        "__all__ = ['q_old']\n"
        "_private__ = 0\n"
        "_W = 'wk'\n"
        "SQL_A = f'SELECT {_W} FROM t'\n"
        "SQL_OLD = 'SELECT 1'\n"
        "ALIAS = SQL_A\n"
        "a, b = 1, 2\n"
        "def _helper(x):\n"
        "    return x\n"
        "def q_a(spark, sf):\n"
        "    from .deep import lazily_imported\n"
        "    return _helper(spark)\n"
        "def q_old(spark, sf):\n"
        "    '''Parent of q_a; mentions SQL_OLD and used_outside.'''\n"
        "    return _only_dead_calls_me(sf)\n"
        "def _only_dead_calls_me(x):\n"
        "    return q_old(x, x)  # recursion through dead code stays dead\n"
        "def lazily_imported():\n"
        "    return 1\n"
        "def used_outside():\n"
        "    return b\n"
        "def by_attribute():\n"
        "    return 2\n"
        "def by_comment():\n"
        "    return 3\n"
        "class Kept:\n"
        "    pass\n"
        "REGISTRY = {'a': (q_a, SQL_A)}\n"
        "REGISTRY['k'] = (Kept, None)\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text(
        "import reg\n"
        "from reg import used_outside\n"
        "# by_comment is not a reference\n"
        "reg.by_attribute()\n"
    )
    dead = dead_names([reg], [caller])
    assert [n for _, _, n in dead] == [
        "_private__",
        "SQL_OLD",
        "ALIAS",
        "a",
        "q_old",
        "_only_dead_calls_me",
        "by_comment",
    ]
    assert dead[1] == ("reg.py", 7, "SQL_OLD")
