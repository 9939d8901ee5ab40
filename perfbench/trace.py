"""Layer tracing for the traced run (``--trace 1``).

Two sources, both installed from the benchmark's side only:

* ``Tracer`` wraps the public entry points of the program's layers
  (``SPAN_POINTS``) in spans kept in memory: name, start, end, parent
  span, the op they ran in, and the exception type if one escaped.
  ``self_ms`` subtracts child spans from a span's duration.
* ``SparkProbe`` reads Spark's own counters for one op: the jobs of the
  op's job group (``statusTracker``), their stages' task metrics (the
  core status store), plan metrics of the op's SQL executions (the SQL
  status store), and the planning phases of every ``QueryExecution``
  that actually ran, delivered by a ``QueryExecutionListener``.
"""

from __future__ import annotations

import contextlib
import importlib
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# (module, attribute, span name).  Attributes with a dot are methods.
# operators.common.star is the per-process star materialization that
# the ``sql`` front door runs in set-up; it is reported as a plans span.
SPAN_POINTS = [
    ("clickhouse_vs_dbt_spark.session", "get_spark", "session.start"),
    ("clickhouse_vs_dbt_spark.catalog", "load_table", "catalog.load_table"),
    ("clickhouse_vs_dbt_spark.catalog", "register_views", "catalog.register_views"),
    ("clickhouse_vs_dbt_spark.compat", "register_clickhouse_compat", "compat.register"),
    ("clickhouse_vs_dbt_spark.dialect", "transpile", "dialect.transpile"),
    ("clickhouse_vs_dbt_spark.dialect", "catalog_resolver", "dialect.catalog_resolver"),
    ("clickhouse_vs_dbt_spark.dialect", "split_statements", "dialect.split_statements"),
    ("clickhouse_vs_dbt_spark.dialect", "run_clickhouse_sql", "dialect.run_clickhouse_sql"),
    ("clickhouse_vs_dbt_spark.dialect", "run_clickhouse_script", "dialect.run_clickhouse_script"),
    ("clickhouse_vs_dbt_spark.ddl", "transpile_ddl", "ddl.transpile"),
    ("clickhouse_vs_dbt_spark.ddl", "transpile_materialized_view", "ddl.transpile"),
    ("clickhouse_vs_dbt_spark.ddl", "transpile_dictionary", "ddl.transpile"),
    ("clickhouse_vs_dbt_spark.operators.common", "star", "plans.star_materialize"),
    ("clickhouse_vs_dbt_spark.plans.star", "build_star", "plans.build_star"),
    ("clickhouse_vs_dbt_spark.plans.models", "ModelRunner.run", "plans.dag_run"),
]

# modules whose global names may hold a reference to a wrapped function
_REBIND_PREFIXES = ("clickhouse_vs_dbt_spark", "__spark_entry__", "perfbench")


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float
    err: str | None
    size: int | None  # len() of a list result (statements of a script)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.op: int | None = None
        self._stack: list[int] = []
        self._next = 0

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["size"] = len(out)
                return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; also used around benchmark-side code."""
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        rec = {"err": None, "size": None}
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["err"] = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                Span(sid, parent, self.op, name, t0, t1, rec["err"], rec["size"])
            )

    def install(self) -> None:
        """Wrap every ``SPAN_POINTS`` entry and rebind the names other
        loaded modules imported with ``from ... import``."""
        for modname, attr, name in SPAN_POINTS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(_REBIND_PREFIXES):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)

    def by_op(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.op].append(s)
        return out


def self_ms(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: a span's duration minus the time its
    direct children cover (calls are single-threaded, so children never
    overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.t1 - s.t0
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += (s.t1 - s.t0 - child[s.sid]) * 1e3
    return dict(out)


def total_ms(spans: list[Span]) -> dict[str, float]:
    """Inclusive time per span name, counting only the outermost span of
    each name on a call path (recursive calls are not double-counted)."""
    by_id = {s.sid: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        p = by_id.get(s.parent)
        nested = False
        while p is not None:
            if p.name == s.name:
                nested = True
                break
            p = by_id.get(p.parent)
        if not nested:
            out[s.name] += (s.t1 - s.t0) * 1e3
    return dict(out)


PHASES = ("parsing", "analysis", "optimization", "planning")


class _QEListener:
    """``QueryExecutionListener`` implemented in Python through the py4j
    callback server; records phases and execution time of every query
    execution that finishes."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        ph = qe.tracker().phases()
        ev = {"exec_ms": duration_ns / 1e6}
        for k in PHASES:
            opt = ph.get(k)
            ev[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.events.append(ev)

    def onFailure(self, func_name, qe, exception):
        self.events.append({"exec_ms": 0.0, "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


STAGE_FIELDS = (
    "inputBytes", "inputRecords", "outputBytes", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _stages(spark, group: str) -> tuple[int, list]:
    """Jobs of job group ``group`` and the last attempt of each of their
    stages still held by the core status store."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            ids.update(info.stageIds)
    stages = []
    for sid in ids:
        try:
            stages.append(store.lastStageAttempt(sid))
        except Py4JJavaError:  # evicted from the store: nothing to count
            pass
    return len(jobs), stages


def stage_totals(spark, group: str) -> dict[str, int]:
    """Jobs, completed stages and tasks, and summed task metrics of the
    stages run under job group ``group``."""
    n_jobs, stages = _stages(spark, group)
    out = {"jobs": n_jobs, "stages": 0, "tasks": 0, **{f: 0 for f in STAGE_FIELDS}}
    for sd in stages:
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        for f in STAGE_FIELDS:
            out[f] += getattr(sd, f)()
    return out


def bytes_written(spark, group: str) -> int:
    """Bytes written by the tasks of job group ``group`` (the cheap
    subset of ``stage_totals`` the untraced run needs), once the listener
    bus has delivered the group's last stage."""
    wait_listeners(spark)
    return sum(sd.outputBytes() for sd in _stages(spark, group)[1])


def wait_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class SparkProbe:
    """Per-op Spark counters for the traced run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.listener = _QEListener()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._exec_start = 0

    def attach(self) -> None:
        self.spark._jsparkSession.listenerManager().register(self.listener)

    def detach(self) -> None:
        wait_listeners(self.spark)
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def begin(self) -> None:
        self.listener.events.clear()
        self._exec_start = self.sql_store.executionsCount()

    def end(self, group: str) -> dict[str, float]:
        wait_listeners(self.spark)
        out: dict[str, float] = dict(stage_totals(self.spark, group))
        for k in PHASES + ("exec_ms",):
            out[k] = sum(ev.get(k, 0.0) for ev in self.listener.events)
        out["query_executions"] = len(self.listener.events)
        out["scan_files"] = self._scan_files()
        return out

    def _scan_files(self) -> int:
        """'number of files read' over the op's SQL executions' scans."""
        n_new = self.sql_store.executionsCount() - self._exec_start
        if n_new <= 0:
            return 0
        lst = self.sql_store.executionsList(self._exec_start, n_new)
        total = 0
        for i in range(lst.size()):
            ex_id = lst.apply(i).executionId()
            values = self.sql_store.executionMetrics(ex_id)
            nodes = self.sql_store.planGraph(ex_id).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for z in range(metrics.size()):
                    m = metrics.apply(z)
                    if m.name() != "number of files read":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(str(v.get()).replace(",", "").split()[0])
        return total
