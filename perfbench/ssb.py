"""The 13-query SSB flight as ClickHouse-dialect text over the ``star``
view, each with an ANSI twin for DuckDB.  The DuckDB side reads a
``star`` table built from ``plans.star.star_sql()`` (see ``oracle.py``).

The fixtures are TPC-H-ish (see ``operators/ssb_queries.py``): the
star carries nation keys, not city/nation/region names, so region and
nation predicates join the ``nation`` and ``region`` tables, and SSB's
city-level drill-downs are expressed one level up, at nation.  Money
sums go through DECIMAL(18,6) in both engines so results are exact.

``flight(rng)`` draws one pass: fresh parameters for all 13 queries in a
shuffled order.  Each item is ``(query_id, clickhouse_sql, duckdb_sql)``.
"""

from __future__ import annotations

import random

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
YEARS = list(range(1995, 2001))  # full order years in the data

REVENUE = "l_extendedprice * l_discount"
NET = "l_extendedprice * (1 - l_discount)"
PROFIT = "l_extendedprice * (1 - l_discount) * (1 - l_tax)"

C_NATION = "JOIN nation AS cn ON c_nationkey = cn.n_nationkey"
C_REGION = "JOIN region AS cr ON cn.n_regionkey = cr.r_regionkey"
S_NATION = "JOIN nation AS sn ON s_nationkey = sn.n_nationkey"
S_REGION = "JOIN region AS sr ON sn.n_regionkey = sr.r_regionkey"


def _ch_sum(expr: str, alias: str) -> str:
    return f"toFloat64(sum(toDecimal64({expr}, 6))) AS {alias}"


def _duck_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def _nations(rng: random.Random, k: int) -> str:
    return ", ".join(f"'NATION_{n}'" for n in sorted(rng.sample(range(25), k)))


def _band(rng: random.Random) -> tuple[str, str]:
    d = rng.randint(2, 8)
    return f"{(d - 1) / 100:.2f}", f"{(d + 1) / 100:.2f}"


def _query(
    sel: list[tuple[str, str, str]],
    agg: tuple[str, str],
    joins: list[str],
    where: list[tuple[str, str]],
    group: bool,
    order: str,
) -> tuple[str, str]:
    """Render one query in both dialects.  ``sel`` items are
    ``(clickhouse_expr, duckdb_expr, alias)``; ``where`` items are
    ``(clickhouse_pred, duckdb_pred)``; ``order`` is shared text."""
    ch_cols = [f"{c} AS {a}" for c, _, a in sel] + [_ch_sum(*agg)]
    dk_cols = [f"{d} AS {a}" for _, d, a in sel] + [_duck_sum(*agg)]
    tail = ""
    if group:
        tail += "\nGROUP BY " + ", ".join(a for _, _, a in sel)
    if order:
        tail += f"\nORDER BY {order}"
    body = " ".join(joins)
    ch = (
        f"SELECT {', '.join(ch_cols)}\nFROM star {body}\n"
        f"WHERE {' AND '.join(c for c, _ in where)}{tail}"
    )
    dk = (
        f"SELECT {', '.join(dk_cols)}\nFROM star {body}\n"
        f"WHERE {' AND '.join(d for _, d in where)}{tail}"
    )
    return ch, dk


YEAR = ("toYear(o_orderdate)", "year(o_orderdate)", "o_year")


def _year_eq(y: int) -> tuple[str, str]:
    return f"toYear(o_orderdate) = {y}", f"year(o_orderdate) = {y}"


def _yyyymm_eq(ym: int) -> tuple[str, str]:
    return (
        f"toYYYYMM(o_orderdate) = {ym}",
        f"year(o_orderdate) * 100 + month(o_orderdate) = {ym}",
    )


def _same(pred: str) -> tuple[str, str]:
    return pred, pred


def _q1(rng: random.Random, variant: int) -> tuple[str, str]:
    lo, hi = _band(rng)
    y = rng.choice(YEARS)
    where = [_same(f"l_discount BETWEEN {lo} AND {hi}")]
    if variant == 1:
        where += [_year_eq(y), _same(f"l_quantity < {rng.randint(20, 30)}")]
    else:
        q = rng.randint(20, 30)
        where.append(_same(f"l_quantity BETWEEN {q} AND {q + 9}"))
        if variant == 2:
            where.append(_yyyymm_eq(y * 100 + rng.randint(1, 12)))
        else:
            w = rng.randint(2, 50)
            where += [
                (f"toISOWeek(o_orderdate) = {w}", f"week(o_orderdate) = {w}"),
                _year_eq(y),
            ]
    return _query([], (REVENUE, "revenue"), [], where, False, "")


def _q2(rng: random.Random, variant: int) -> tuple[str, str]:
    region = rng.choice(REGIONS)
    if variant == 1:
        part = _same(f"p_type = '{rng.choice(PART_TYPES)}'")
    elif variant == 2:
        b = rng.randint(10, 19)
        part = _same(f"p_brand BETWEEN 'Brand#{b}' AND 'Brand#{b + 6}'")
    else:
        part = _same(f"p_brand = 'Brand#{rng.randint(1, 25)}'")
    return _query(
        [YEAR, ("p_brand", "p_brand", "p_brand")],
        (NET, "revenue"),
        [S_NATION, S_REGION],
        [part, _same(f"sr.r_name = '{region}'")],
        True,
        "o_year, p_brand",
    )


def _q3(rng: random.Random, variant: int) -> tuple[str, str]:
    y = rng.choice(YEARS[:-2])
    joins = [C_NATION, S_NATION]
    if variant == 1:
        region = rng.choice(REGIONS)
        joins += [C_REGION, S_REGION]
        where = [
            _same(f"cr.r_name = '{region}'"),
            _same(f"sr.r_name = '{region}'"),
        ]
    else:
        k = 4 if variant == 2 else 2
        where = [
            _same(f"cn.n_name IN ({_nations(rng, k)})"),
            _same(f"sn.n_name IN ({_nations(rng, k)})"),
        ]
    if variant == 4:
        where.append(_yyyymm_eq(y * 100 + rng.randint(1, 12)))
    else:
        where.append((
            f"toYear(o_orderdate) BETWEEN {y} AND {y + 2}",
            f"year(o_orderdate) BETWEEN {y} AND {y + 2}",
        ))
    return _query(
        [("cn.n_name", "cn.n_name", "c_nation"),
         ("sn.n_name", "sn.n_name", "s_nation"), YEAR],
        (NET, "revenue"),
        joins,
        where,
        True,
        "o_year ASC, revenue DESC",
    )


def _q4(rng: random.Random, variant: int) -> tuple[str, str]:
    y = rng.choice(YEARS[:-1])
    years = (
        f"toYear(o_orderdate) IN ({y}, {y + 1})",
        f"year(o_orderdate) IN ({y}, {y + 1})",
    )
    if variant == 1:
        region = rng.choice(REGIONS)
        segs = ", ".join(f"'{s}'" for s in sorted(rng.sample(SEGMENTS, 2)))
        return _query(
            [YEAR, ("cn.n_name", "cn.n_name", "c_nation")],
            (PROFIT, "profit"),
            [C_NATION, C_REGION, S_NATION, S_REGION],
            [_same(f"cr.r_name = '{region}'"), _same(f"sr.r_name = '{region}'"),
             _same(f"c_mktsegment IN ({segs})")],
            True,
            "o_year, c_nation",
        )
    if variant == 2:
        return _query(
            [YEAR, ("sn.n_name", "sn.n_name", "s_nation"),
             ("p_type", "p_type", "p_type")],
            (PROFIT, "profit"),
            [C_NATION, C_REGION, S_NATION],
            [_same(f"cr.r_name = '{rng.choice(REGIONS)}'"), years],
            True,
            "o_year, s_nation, p_type",
        )
    return _query(
        [YEAR, ("p_brand", "p_brand", "p_brand")],
        (PROFIT, "profit"),
        [S_NATION],
        [_same(f"sn.n_name = 'NATION_{rng.randint(0, 24)}'"), years],
        True,
        "o_year, p_brand",
    )


FLIGHT = [
    ("q1.1", _q1, 1), ("q1.2", _q1, 2), ("q1.3", _q1, 3),
    ("q2.1", _q2, 1), ("q2.2", _q2, 2), ("q2.3", _q2, 3),
    ("q3.1", _q3, 1), ("q3.2", _q3, 2), ("q3.3", _q3, 3), ("q3.4", _q3, 4),
    ("q4.1", _q4, 1), ("q4.2", _q4, 2), ("q4.3", _q4, 3),
]


def flight(rng: random.Random) -> list[tuple[str, str, str]]:
    """One pass over the 13 queries: seeded parameters, seeded order."""
    out = [(qid, *make(rng, v)) for qid, make, v in FLIGHT]
    rng.shuffle(out)
    return out
