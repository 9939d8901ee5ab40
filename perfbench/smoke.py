"""Smoke test of the benchmark itself, at sf0.001 (about four minutes).

    python3 perfbench/smoke.py

Runs each workload briefly on the sf0.001 data set, untraced and traced,
and checks that every metric named in BENCHMARK.json is printed with
its unit and that every answer matches DuckDB.  One more run corrupts
one expected answer on purpose; it must come back with ``failed`` >= 1
and ``correct`` false, so a checker that accepts anything fails here.
Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--data", "base_sf0001", *extra,
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in spec["workloads"]:
        for trace in (0, 1):
            res = run(wl["name"], trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{wl['name']} trace={trace}"
            if got != want[trace]:
                problems.append(f"{tag}: metrics {got} != {want[trace]}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: not correct: {res}")
            print(f"{tag}: attempted={res['attempted']} failed={res['failed']}")
    wrong = run(spec["workloads"][-1]["name"], 0, "--inject-wrong-answer")
    print(f"wrong-answer run: attempted={wrong['attempted']} failed={wrong['failed']}")
    if wrong["correct"] or wrong["failed"] < 1:
        problems.append(f"a deliberately wrong expected answer went unnoticed: {wrong}")
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
