"""No module of the package defines the same top-level function or
class twice: a later ``def`` silently shadows the earlier one, so
only one of two copies ever runs."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "clickhouse_vs_dbt_spark"


def test_no_duplicate_top_level_definitions():
    dups = {}
    for path in sorted(PKG.rglob("*.py")):
        names = Counter(
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        twice = sorted(n for n, c in names.items() if c > 1)
        if twice:
            dups[str(path.relative_to(PKG))] = twice
    assert dups == {}
