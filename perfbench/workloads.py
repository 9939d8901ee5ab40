"""The workloads.

Each workload knows how to draw one pass of ops from the seeded
``random.Random``, how to run one op (the timed part), how to reduce the
op's output to a comparable key right after it (untimed), and the
expected key from DuckDB (untimed, after the measurement).  Both run
the ``sql`` front door's set-up, ``__main__._prepare``, before the first
op.

An op is a ``(label, payload)`` pair; ``label`` names the query or gate.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import random

from perfbench import oracle, ssb


class Workload:
    name = ""
    warmup_passes = 1  # see README.md, "Warm-up, from data"
    wrong_answer = False  # smoke test: corrupt one expected answer

    def setup(self, spark, sf_dir: str) -> None:
        from clickhouse_vs_dbt_spark.__main__ import _prepare

        _prepare(spark, sf_dir)

    def draw_pass(self, rng: random.Random) -> list[tuple[str, object]]:
        raise NotImplementedError

    def run_op(self, spark, sf_dir: str, payload):
        raise NotImplementedError

    def capture(self, spark, result):
        return oracle.canon(result)

    def expected(self, orc: oracle.Oracle, label: str, payload):
        raise NotImplementedError

    def check(self, orc: oracle.Oracle, ops: list) -> list[str]:
        """Compare every measured op's key with DuckDB; returns one
        message per mismatch.  ``ops`` items are ``(label, payload, key)``."""
        bad = []
        cache: dict = {}
        for i, (label, payload, got) in enumerate(ops):
            ck = (label, payload)
            if ck not in cache:
                cache[ck] = self.expected(orc, label, payload)
            want = cache[ck]
            if self.wrong_answer and i == 0:
                want = ("deliberately wrong", want)
            if got != want:
                bad.append(f"{label}: got {got!r} want {want!r}")
        return bad


class SsbFlight(Workload):
    """The 13 SSB queries as ClickHouse-dialect text through the ``sql``
    front door, over the ``star`` view its set-up registers."""

    name = "ssb_flight"
    warmup_passes = 3

    def draw_pass(self, rng):
        return [(qid, (ch, dk)) for qid, ch, dk in ssb.flight(rng)]

    def run_op(self, spark, sf_dir, payload):
        from clickhouse_vs_dbt_spark.dialect import catalog_resolver, transpile

        return spark.sql(
            transpile(payload[0], resolve_columns=catalog_resolver(spark))
        ).toArrow()

    def expected(self, orc, label, payload):
        return orc.answer(payload[1])


def mix_gates(names) -> list[str]:
    """The fixed gate subset: every 15th ``dialect_*`` gate and every 8th
    ``ch_script_*`` runbook in name order, so the subset spreads over the
    whole front-door surface and is the same for every seed."""
    dialect = sorted(n for n in names if n.startswith("dialect_"))
    scripts = sorted(n for n in names if n.startswith("ch_script_"))
    return dialect[::15] + scripts[::8]


MODELS = "models"  # the op label of one ``models`` CLI build


class ClickhouseMix(Workload):
    """Every front door on KB-sized inputs: ClickHouse-dialect gates and
    script runbooks from ``__spark_entry__.queries()``, plus one
    ``models`` CLI build per pass (the staging views and the ``star``
    TABLE, then the CLI's row count of every model)."""

    name = "clickhouse_mix"

    def __init__(self):
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.labels = mix_gates(self.queries) + [MODELS]

    def draw_pass(self, rng):
        order = list(self.labels)
        rng.shuffle(order)
        return [(g, g) for g in order]

    def run_op(self, spark, sf_dir, payload):
        if payload == MODELS:
            from clickhouse_vs_dbt_spark.__main__ import cmd_models

            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                cmd_models(argparse.Namespace(sf_dir=sf_dir, select_tags=None))
            return out.getvalue()
        return self.queries[payload](spark, sf_dir).toArrow()

    def capture(self, spark, result):
        if not isinstance(result, str):
            return oracle.canon(result)
        # the CLI's printed row counts, and the star TABLE it built
        counts = {}
        for line in result.splitlines():
            name, n, _ = line.split()
            counts[name] = int(n)
        fp = oracle.canon(spark.sql(oracle.STAR_FINGERPRINT).toArrow())
        return counts, fp, sorted(spark.table("star").columns)

    def expected(self, orc, label, payload):
        if label != MODELS:
            return orc.answer(self.oracles[label])
        counts = {f"stg_{t}": orc.count(t) for t in
                  ("customer", "orders", "lineitem", "part", "supplier")}
        counts["star"] = orc.count("star")
        return counts, orc.answer(oracle.STAR_FINGERPRINT), oracle.STAR_COLUMN_NAMES


WORKLOADS = {w.name: w for w in (SsbFlight, ClickhouseMix)}
