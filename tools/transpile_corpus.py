"""Transpile-output corpus: run ``dialect.transpile`` and the DDL
transpilers over every statement the repository pins, so two
checkouts can be compared byte for byte (a refactor of the
transpiler should change no output, or exactly the outputs it names).

The corpus is read from THIS checkout's files, so both dumps of a
comparison see the same inputs.  Query statements (``transpile``):

* every ``_CH_*`` gate text in ``clickhouse_vs_dbt_spark/dialect.py``;
* every ``tools/passthrough_audit.py`` candidate, wrapped the way the
  audit wraps it;
* every literal-string ``transpile(...)`` input in ``tests/``
  (f-strings and computed inputs are skipped).

DDL statements (``transpile_ddl`` / ``transpile_dictionary`` /
``transpile_materialized_view``, the last dumped as a stable JSON text
of the returned view's SQL fields):

* every literal-string input of those three calls in ``tests/``;
* every ``CREATE TABLE`` / ``CREATE DICTIONARY`` / ``CREATE
  MATERIALIZED VIEW`` statement of a literal-string script passed to
  ``run_clickhouse_script`` in ``tests/``, of the ``_CH_*`` gate
  scripts and of the module-level DDL constants of ``ddl.py``, split
  and routed the way the script runner routes them.

Each DDL output is keyed ``<function>: <statement>``.

Usage::

    python tools/transpile_corpus.py dump OUT.json [--root CHECKOUT]
    python tools/transpile_corpus.py diff BEFORE.json AFTER.json

``dump`` transpiles with the ``clickhouse_vs_dbt_spark`` package of
``--root`` (default: this checkout); no Spark session is started.
``diff`` prints each statement whose output changed and exits 1 if
any did.
"""

from __future__ import annotations

import ast
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _constants(module: str, prefix: str = "") -> list[str]:
    """Module-level string constants of ``module`` whose name starts
    with ``prefix``."""
    src = (REPO / "clickhouse_vs_dbt_spark" / module).read_text()
    out = []
    for node in ast.parse(src).body:
        if (
            isinstance(node, ast.Assign) and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id.startswith(prefix)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            out.append(node.value.value)
    return out


def _gate_texts() -> list[str]:
    return _constants("dialect.py", "_CH_")


def _audit_texts() -> list[str]:
    sys.path.insert(0, str(REPO / "tools"))
    from passthrough_audit import CANDIDATES

    return [f"SELECT {e} AS r FROM __pt_audit" for e in CANDIDATES]


def _test_calls(names: tuple, arg: int = 0) -> list[tuple[str, str]]:
    """(function name, literal string argument ``arg``) of every call
    in ``tests/`` to one of ``names``."""
    out = []
    for path in sorted((REPO / "tests").glob("test_*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or len(node.args) <= arg:
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(
                f, "attr", None
            )
            a = node.args[arg]
            if (
                name in names and isinstance(a, ast.Constant)
                and isinstance(a.value, str)
            ):
                out.append((name, a.value))
    return out


def _test_texts() -> list[str]:
    return [sql for _, sql in _test_calls(("transpile",))]


def corpus() -> list[str]:
    texts = _gate_texts() + _audit_texts() + _test_texts()
    return list(dict.fromkeys(texts))


_DDL_FNS = (
    "transpile_ddl", "transpile_dictionary", "transpile_materialized_view",
)


def ddl_corpus() -> list[tuple[str, str]]:
    """(DDL function, statement) pairs, in a fixed order (the DDL
    transpilers register engine metadata that later statements read)."""
    scripts = [sql for _, sql in _test_calls(("run_clickhouse_script",), 1)]
    scripts += [
        t for t in _gate_texts() + _constants("ddl.py")
        if re.search(r"(?i)\bCREATE\b", t)
    ]
    out = _test_calls(_DDL_FNS)
    for script in scripts:
        for stmt in _split(script):
            for fn, pat in (
                ("transpile_dictionary", r"CREATE\s+DICTIONARY"),
                ("transpile_materialized_view",
                 r"CREATE\s+MATERIALIZED\s+VIEW"),
                ("transpile_ddl", r"CREATE\s+TABLE"),
            ):
                if re.match(r"(?is)\s*" + pat, stmt):
                    out.append((fn, stmt))
                    break
    return list(dict.fromkeys(out))


def _split(script: str) -> list[str]:
    """The script runner's statement split, leading comments dropped."""
    from clickhouse_vs_dbt_spark.dialect import (
        _next_code, _tokens, split_statements,
    )

    out = []
    for stmt in split_statements(script):
        toks = _tokens(stmt)
        out.append("".join(toks[_next_code(toks, 0):]))
    return out


def _ddl_output(fn: str, sql: str) -> str:
    from clickhouse_vs_dbt_spark import ddl

    res = getattr(ddl, fn)(sql)
    if fn != "transpile_materialized_view":
        return res
    return json.dumps({
        k: getattr(res, k, None) for k in (
            "name", "select_sql", "source", "keys", "aggs", "read_items",
            "populate_requested",
        )
    }, sort_keys=True)


def dump(out_path: str, root: str) -> None:
    sys.path.insert(0, root)
    from clickhouse_vs_dbt_spark.dialect import transpile

    def run(f, *a):
        try:
            return f(*a)
        except Exception as ex:  # noqa: BLE001 — refusals are outputs
            return f"ERROR {type(ex).__name__}: {ex}"

    res = {sql: run(transpile, sql) for sql in corpus()}
    n = len(res)
    for fn, sql in ddl_corpus():
        res[f"{fn}: {sql}"] = run(_ddl_output, fn, sql)
    Path(out_path).write_text(json.dumps(res, indent=1))
    print(f"{n} statements + {len(res) - n} DDL statements -> {out_path}")


def diff(a_path: str, b_path: str) -> int:
    a = json.loads(Path(a_path).read_text())
    b = json.loads(Path(b_path).read_text())
    changed = [k for k in a if k in b and a[k] != b[k]]
    for k in changed:
        print(f"--- {k.strip()}\n  before: {a[k].strip()}\n"
              f"  after:  {b[k].strip()}\n")
    print(f"{len(changed)} of {len(a)} outputs changed"
          + (f" ({len(set(a) ^ set(b))} inputs not in both)"
             if set(a) != set(b) else ""))
    return 1 if changed else 0


def main(argv: list[str]) -> int:
    if len(argv) >= 2 and argv[0] == "dump":
        root = argv[argv.index("--root") + 1] if "--root" in argv \
            else str(REPO)
        dump(argv[1], root)
        return 0
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
