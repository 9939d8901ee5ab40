"""Per-layer metrics of a traced run (``--trace 1``).

Op-level values are means per traced op; set-up values are the time
spent in the run's one set-up.  A layer the workload never calls reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.trace import total_ms, self_ms

# span name -> per-layer metric (mean inclusive ms per traced op)
OP_SPANS = {
    "catalog.load_table": "catalog.load_table_ms",
    "catalog.register_views": "catalog.register_views_ms",
    "compat.register": "compat.register_ms",
    "dialect.transpile": "dialect.transpile_ms",
    "ddl.transpile": "ddl.transpile_ms",
    "plans.dag_run": "plans.dag_run_ms",
}

# Spark counter -> per-layer metric (mean per traced op)
SPARK_MEANS = {
    "parsing": "spark.parse_ms",
    "analysis": "spark.analysis_ms",
    "optimization": "spark.optimization_ms",
    "planning": "spark.planning_ms",
    "exec_ms": "spark.execution_ms",
    "jobs": "spark.jobs_per_op",
    "stages": "spark.stages_per_op",
    "tasks": "spark.tasks_per_op",
    "scan_files": "spark.scan_files",
    "inputBytes": "spark.scan_bytes",
    "shuffleReadBytes": "spark.shuffle_read_bytes",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "outputBytes": "plans.bytes_written",
}

UNITS = {
    "session.start_ms": "ms",
    "catalog.load_table_ms": "ms",
    "catalog.register_views_ms": "ms",
    "compat.register_ms": "ms",
    "dialect.transpile_ms": "ms",
    "dialect.transpile_calls": "count",
    "dialect.refusals": "count",
    "dialect.script_statement_ms": "ms",
    "ddl.transpile_ms": "ms",
    "plans.star_materialize_ms": "ms",
    "plans.dag_run_ms": "ms",
    "plans.count_pass_ms": "ms",
    "plans.bytes_written": "bytes",
    "spark.parse_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.execution_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.scan_files": "count",
    "spark.scan_bytes": "bytes",
    "spark.rows_scanned_per_row_returned": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_ms": "ms",
}


def metrics(run) -> dict[str, tuple[float, str]]:
    traced = [r for r in run.ops if r["phase"] == "measured"]
    untraced = [r for r in run.ops if r["phase"] == "untraced"]
    by_op = run.tracer.by_op()
    n = len(traced)
    out: dict[str, float] = {k: 0.0 for k in UNITS}

    # set-up spans carry no op id
    setup = total_ms(by_op.get(None, []))
    out["session.start_ms"] = setup.get("session.start", 0.0)
    out["plans.star_materialize_ms"] = setup.get("plans.star_materialize", 0.0)
    totals: dict[str, float] = defaultdict(float)
    transpile_calls = refusals = statements = 0
    script_ms = count_pass_ms = 0.0
    for r in traced:
        spans = by_op.get(r["k"], [])
        op_tot = total_ms(spans)
        for name, v in op_tot.items():
            totals[name] += v
        for s in spans:
            if s.name == "dialect.transpile":
                transpile_calls += 1
                if s.err == "DialectError":
                    refusals += 1
            elif s.name == "dialect.split_statements" and s.size:
                statements += s.size
        script_ms += op_tot.get("dialect.run_clickhouse_script", 0.0)
        if "plans.dag_run" in op_tot:
            # the CLI's work after the DAG run: the row-count pass
            count_pass_ms += r["ms"] - op_tot["plans.dag_run"]
    for span, metric in OP_SPANS.items():
        out[metric] = totals.get(span, 0.0) / n
    out["dialect.transpile_calls"] = transpile_calls / n
    out["dialect.refusals"] = refusals / n
    out["dialect.script_statement_ms"] = script_ms / statements if statements else 0.0
    out["plans.count_pass_ms"] = count_pass_ms / n

    sp = [r["spark"] for r in traced]
    for key, metric in SPARK_MEANS.items():
        out[metric] = sum(c.get(key, 0) for c in sp) / n
    out["spark.spill_bytes"] = sum(
        c["memoryBytesSpilled"] + c["diskBytesSpilled"] for c in sp
    ) / n
    returned = sum(r.get("rows", 0) for r in traced)
    out["spark.rows_scanned_per_row_returned"] = (
        sum(c["inputRecords"] for c in sp) / returned if returned else 0.0
    )
    out["trace.overhead_ms"] = (
        statistics.median(r["ms"] for r in traced)
        - statistics.median(r["ms"] for r in untraced)
    )
    return {k: (float(v), UNITS[k]) for k, v in out.items()}


def self_time_summary(run) -> dict[str, float]:
    """Self ms per traced op, by span name."""
    traced = [r for r in run.ops if r["phase"] == "measured"]
    by_op = run.tracer.by_op()
    acc: dict[str, float] = defaultdict(float)
    for r in traced:
        for name, v in self_ms(by_op.get(r["k"], [])).items():
            acc[name] += v
    return {k: round(v / len(traced), 3) for k, v in sorted(acc.items())}


def dump_spans(run, here: str) -> str:
    """Write every span of the run to ``perfbench/.out`` as JSON lines."""
    out_dir = os.path.join(here, ".out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{run.args.workload}-{run.args.seed}.jsonl")
    t_base = min((s.t0 for s in run.tracer.spans), default=0.0)
    with open(path, "w") as f:
        for s in run.tracer.spans:
            f.write(json.dumps({
                "id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
                "start_ms": round((s.t0 - t_base) * 1e3, 3),
                "end_ms": round((s.t1 - t_base) * 1e3, 3),
                "err": s.err, "size": s.size,
            }) + "\n")
    return os.path.relpath(path, os.path.dirname(here))
