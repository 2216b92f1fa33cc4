"""The session-memo rule as a check: memo.py is the only module that
times attribution spans, keys on a plan's semantic hash, or holds a
module-level memo store. A build timed or memoized anywhere else
bypasses the nested attribution stream bench tooling drains — the r10
bug that charged 4.3 s of trainer builds to the wrong registry entry.
Pure Python: scans the package sources, no Spark session."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "sentinel_landsat_database_creation_spark"
OWNER = PACKAGE / "memo.py"
_FORBIDDEN = {"perf_counter", "semanticHash"}
_MEMO_NAME = re.compile(r"MEMO|CACHE", re.IGNORECASE)


def _is_empty_dict(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def violations(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        names = []
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
        elif isinstance(node, ast.Name):
            names.append(node.id)
        elif isinstance(node, ast.alias):
            names.append(node.name)
        found += [
            f"{path.name}:{node.lineno}: {n}" for n in names if n in _FORBIDDEN
        ]
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign):
            targets, value = [stmt.target], stmt.value
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and (
                _is_empty_dict(value) or _MEMO_NAME.search(t.id)
            ):
                found.append(f"{path.name}:{stmt.lineno}: module-level store {t.id}")
    return found


def test_only_memo_module_owns_memo_state_and_timing():
    sources = [p for p in sorted(PACKAGE.rglob("*.py")) if p != OWNER]
    assert len(sources) > 40, "package scan found too few modules"
    bad = [v for p in sources for v in violations(p)]
    assert not bad, (
        "session memo state, plan-hash keys and attribution timing live "
        "only in memo.py (value_memo / checkpoint_memo / timed): "
        + "; ".join(bad)
    )


def test_lint_catches_each_pattern(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "import time\n"
        "_TRAIN_MEMO: dict[tuple, list] = {}\n"
        "_seen = dict()\n"
        "def f(df):\n"
        "    t0 = time.perf_counter()\n"
        "    return df._jdf.queryExecution().analyzed().semanticHash(), t0\n"
    )
    got = violations(src)
    assert len(got) == 4, got
    assert violations(OWNER), "memo.py itself uses every pattern"
