"""Transpile-output corpus: run ``dialect.transpile`` over every
statement the repository pins, so two checkouts can be compared byte
for byte (a refactor of the transpiler should change no output, or
exactly the outputs it names).

The corpus is read from THIS checkout's files, so both dumps of a
comparison see the same inputs:

* every ``_CH_*`` gate text in ``clickhouse_vs_dbt_spark/dialect.py``;
* every ``tools/passthrough_audit.py`` candidate, wrapped the way the
  audit wraps it;
* every literal-string ``transpile(...)`` input in ``tests/``
  (f-strings and computed inputs are skipped).

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
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _gate_texts() -> list[str]:
    src = (REPO / "clickhouse_vs_dbt_spark" / "dialect.py").read_text()
    out = []
    for node in ast.parse(src).body:
        if (
            isinstance(node, ast.Assign) and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id.startswith("_CH_")
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            out.append(node.value.value)
    return out


def _audit_texts() -> list[str]:
    sys.path.insert(0, str(REPO / "tools"))
    from passthrough_audit import CANDIDATES

    return [f"SELECT {e} AS r FROM __pt_audit" for e in CANDIDATES]


def _test_texts() -> list[str]:
    out = []
    for path in sorted((REPO / "tests").glob("test_*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(
                f, "attr", None
            )
            a = node.args[0]
            if (
                name == "transpile" and isinstance(a, ast.Constant)
                and isinstance(a.value, str)
            ):
                out.append(a.value)
    return out


def corpus() -> list[str]:
    texts = _gate_texts() + _audit_texts() + _test_texts()
    return list(dict.fromkeys(texts))


def dump(out_path: str, root: str) -> None:
    sys.path.insert(0, root)
    from clickhouse_vs_dbt_spark.dialect import transpile

    res = {}
    for sql in corpus():
        try:
            res[sql] = transpile(sql)
        except Exception as ex:  # noqa: BLE001 — refusals are outputs
            res[sql] = f"ERROR {type(ex).__name__}: {ex}"
    Path(out_path).write_text(json.dumps(res, indent=1))
    print(f"{len(res)} statements -> {out_path}")


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
