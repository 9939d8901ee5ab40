"""spark-star benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The inputs are generated on first use
and cached under ``perfbench/.data``; everything Spark writes (temp
files, shuffle files, the warehouse) goes under ``perfbench/.work`` and
is removed at exit.  One client runs ops in a closed loop on
``local[<cores>]``.

A run: set up the program once, cold (JVM and session start included),
as a fresh process would -> warm-up passes -> whole passes of ops until
``--seconds`` have elapsed -> compare every measured op's answer with
DuckDB.  With ``--trace 1`` the measured passes alternate between untraced
and traced (layer spans and Spark counters); the difference of the two
sets' median op latency is the tracing overhead.

The last line of stdout is the result object; the line before it holds
the details (per-pass medians, tail percentile, errors, raw counters).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = (
    "__spark_entry__.py",
    "clickhouse_vs_dbt_spark/__init__.py",
    "clickhouse_vs_dbt_spark/__main__.py",
    "tools/gen_sf1.py",
    "tools/oracle_check.py",
)
MIN_OPS = 20  # measured ops per untraced run, at the least; see tail()

# data set -> (builder, expected lineitem rows).  star_sf003 replicates
# base_sf001 three times with the repository's own sf1 generator, which
# copies the dimensions: base_sf001's 100 suppliers and 1,500 customers
# cover all 25 nations, so no seeded SSB query has an empty answer.
DATASETS = {
    "base_sf0001": (lambda d: _datagen().base(d, 0.001), 6_000),
    "base_sf001": (lambda d: _datagen().base(d, 0.01), 60_000),
    "star_sf003": (lambda d: _datagen().star_scale(d, ensure("base_sf001"), 3), 180_000),
}

# workload name -> (workload class key, data set)
WORKLOAD_DATA = {
    "ssb_flight_sf003": ("ssb_flight", "star_sf003"),
    "clickhouse_mix_sf001": ("clickhouse_mix", "base_sf001"),
}


def _datagen():
    from perfbench import datagen

    return datagen


def ensure(name: str) -> str:
    """The directory of data set ``name``, built on first use."""
    build, rows = DATASETS[name]
    return _datagen().ensure(os.path.join(HERE, ".data"), name, build, rows)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def tail(lat_ms: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 samples above
    it: the (n-10)-th smallest of n.  With fewer than ``MIN_OPS`` samples
    (only in a traced run) that rank would fall below the median, so the
    maximum is reported (percentile 100, no samples above).  Returns
    (value, pct, beyond)."""
    s = sorted(lat_ms)
    n = len(s)
    if n >= MIN_OPS:
        k = n - 10
        return s[k - 1], 100.0 * k / n, 10
    return s[-1], 100.0, 0


def shutdown() -> None:
    """Stop Spark, the JVM and every process under this one, and wait
    for them to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class Run:
    def __init__(self, args):
        from perfbench import workloads

        kind, self.data_name = WORKLOAD_DATA[args.workload]
        if args.data:
            self.data_name = args.data
        self.wl = workloads.WORKLOADS[kind]()
        self.wl.wrong_answer = args.inject_wrong_answer
        self.args = args
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap, so the JVM's RSS does not depend on
            # when the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        }
        self.tracer = None
        self.setup_s = 0.0
        self.setup_bytes = 0
        self.ops: list[dict] = []
        self.phase_s: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        self.phase_s[phase] = round(time.perf_counter() - T_START, 3)

    # --- set-up -----------------------------------------------------
    def setup(self, data: str):
        """The program's set-up, cold: JVM and session start, then the
        workload's set-up (re-chunk, star materialization, compat
        registration)."""
        from clickhouse_vs_dbt_spark import session
        from perfbench.trace import bytes_written

        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=self.conf)
        spark.sparkContext.setJobGroup("setup", "setup", False)
        self.wl.setup(spark, data)
        self.setup_s = time.perf_counter() - t0
        self.setup_bytes = bytes_written(spark, "setup")
        return spark

    # --- ops --------------------------------------------------------
    def run_pass(self, spark, sf_dir, ops, phase: str, probe=None) -> None:
        from perfbench.trace import bytes_written

        sc = spark.sparkContext
        for label, payload in ops:
            k = len(self.ops)
            group = f"op-{k}"
            sc.setJobGroup(group, label, False)
            if probe is not None:
                probe.begin()
            if self.tracer is not None:
                self.tracer.op = k
            err = None
            t0 = time.perf_counter()
            try:
                res = self.wl.run_op(spark, sf_dir, payload)
            except Exception as e:  # one failed op must not end the run
                err = f"{label}: {type(e).__name__}: {str(e).splitlines()[0][:300]}"
                res = None
            lat = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.op = None
            rec = {"k": k, "label": label, "payload": payload, "phase": phase,
                   "ms": lat * 1e3, "err": err}
            if err is None:
                rec["key"] = self.wl.capture(spark, res)
                rec["rows"] = (res.num_rows if hasattr(res, "num_rows")
                               else len(res.splitlines()))
            if probe is not None:
                rec["spark"] = probe.end(group)
            else:
                rec["spark"] = {"outputBytes": bytes_written(spark, group)}
            self.ops.append(rec)

    def measure(self, spark, sf_dir, rng) -> None:
        """Whole passes until ``--seconds`` have elapsed and at least
        ``MIN_OPS`` ops were measured, so every run's tail has 10 samples
        beyond it."""
        t0 = time.perf_counter()
        n0 = len(self.ops)
        while True:
            self.run_pass(spark, sf_dir, self.wl.draw_pass(rng), "measured")
            if (time.perf_counter() - t0 >= self.args.seconds
                    and len(self.ops) - n0 >= MIN_OPS):
                return

    def measure_traced(self, spark, sf_dir, rng) -> None:
        """Alternate untraced and traced passes, so both see the same
        warm-up state, until ``--seconds`` have elapsed after a traced
        pass."""
        from perfbench.trace import SparkProbe

        probe = SparkProbe(spark)
        t0 = time.perf_counter()
        traced = False
        while True:
            self.tracer.enabled = traced
            if traced:
                probe.attach()
                self.run_pass(spark, sf_dir, self.wl.draw_pass(rng), "measured", probe)
                probe.detach()
                if time.perf_counter() - t0 >= self.args.seconds:
                    return
            else:
                self.run_pass(spark, sf_dir, self.wl.draw_pass(rng), "untraced")
            traced = not traced

    # --- the run ----------------------------------------------------
    def go(self) -> dict:
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # no hsperfdata files in /tmp from the launcher or driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None  # re-read TMPDIR
        data = ensure(self.data_name)
        self.mark("data")
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        spark = self.setup(data)
        sf_dir = data
        jvm = _jvm_pid()
        self.mark("setup")
        if self.tracer is not None:
            self.tracer.enabled = False
        rng = random.Random(self.args.seed)
        for _ in range(self.wl.warmup_passes):
            self.run_pass(spark, sf_dir, self.wl.draw_pass(rng), "warmup")
        self.mark("warmup")
        if self.tracer is None:
            self.measure(spark, sf_dir, rng)
        else:
            self.measure_traced(spark, sf_dir, rng)
        self.mark("measure")
        self.rss_mb = {"driver": _hwm_mb(os.getpid()), "jvm": _hwm_mb(jvm) if jvm else 0.0}
        mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.jvm_committed_mb = {
            "heap": mem.getHeapMemoryUsage().getCommitted() / 2**20,
            "non_heap": mem.getNonHeapMemoryUsage().getCommitted() / 2**20,
        }
        shutdown()
        self.mark("shutdown")
        return self.report(data, sum(self.rss_mb.values()))

    def report(self, data: str, rss_mb: float) -> dict:
        from perfbench import oracle

        measured = [r for r in self.ops if r["phase"] != "warmup"]
        ok = [r for r in measured if r["err"] is None]
        errors = [r["err"] for r in measured if r["err"] is not None]
        orc = oracle.Oracle(data)
        try:
            wrong = self.wl.check(orc, [(r["label"], r["payload"], r["key"]) for r in ok])
        finally:
            orc.close()
        failed = len(errors) + len(wrong)
        self.mark("check")
        lat = [r["ms"] for r in measured]
        tail_ms, tail_pct, beyond = tail(lat)
        input_bytes = sum(
            os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
            if f.endswith(".parquet")
        )
        op_bytes = statistics.fmean(r["spark"]["outputBytes"] for r in measured)
        write_amp = (self.setup_bytes + op_bytes) / input_bytes
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "op_p50_ms": (statistics.median(lat), "ms"),
            "op_tail_ms": (tail_ms, "ms"),
            "ops_per_s": (len(lat) / (sum(lat) / 1e3), "1/s"),
            "success_rate": (1.0 - failed / len(lat), "ratio"),
            "peak_rss_mb": (rss_mb, "MB"),
            "write_amp": (write_amp, "ratio"),
        }
        passes: dict[str, list[float]] = {}
        n_per_pass = len(self.wl.draw_pass(random.Random(0)))
        for r in self.ops:
            passes.setdefault(r["phase"], []).append(r["ms"])
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "data": self.data_name,
            "setup_s": self.setup_s,
            "setup_bytes_written": self.setup_bytes,
            "input_bytes": input_bytes,
            "ops": len(lat),
            "error_rate": failed / len(lat),
            "op_tail_percentile": tail_pct,
            "op_tail_samples_beyond": beyond,
            "pass_median_ms": {
                ph: [round(statistics.median(v[i:i + n_per_pass]), 3)
                     for i in range(0, len(v), n_per_pass)]
                for ph, v in passes.items()
            },
            "errors": (errors + wrong)[:10],
            "label_median_ms": {
                lb: round(statistics.median(r["ms"] for r in measured if r["label"] == lb), 3)
                for lb in sorted({r["label"] for r in measured})
            },
            "op_ms": [[r["phase"][0], r["label"], round(r["ms"], 1)] for r in self.ops],
            "phase_end_s": self.phase_s,
            "peak_rss_mb": self.rss_mb,
            "jvm_committed_mb": self.jvm_committed_mb,
        }
        if self.tracer is not None:
            from perfbench import layers

            metrics = layers.metrics(self)
            detail["self_ms_per_op"] = layers.self_time_summary(self)
            detail["spans_file"] = layers.dump_spans(self, HERE)
        return {
            "detail": detail,
            "result": {
                "correct": failed == 0,
                "attempted": len(lat),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", choices=sorted(DATASETS),
                    help="override the workload's data set (smoke test)")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="corrupt one expected answer (smoke test)")
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    run = Run(args)
    try:
        out = run.go()
    finally:
        shutdown()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
