"""Ownership rules of the statement re-plans.

Four re-plans give a ClickHouse group aggregate bounded state when the
transpiler owns the whole flat grouped SELECT: exact-weighted quantiles,
interval sweeps, group-array tiers and bounded groupConcat.  They share
one select-item parser and one group-key / ORDER BY rule, so every
family owns (or declines) the same statement shapes.  Owned shapes are
checked against the expression-position fold on Spark where the shared
rule changed what a family owns (GROUP BY ordinals, dotted keys, bare
aliases)."""

from __future__ import annotations

import pytest

from clickhouse_vs_dbt_spark.dialect import _CH_GROUP_ARRAY_TIERS, transpile

#: family → (aggregate call, FROM, marker only the re-planned SQL has).
#: groupConcat runs the shared key rule in its join-owned form; its
#: single-relation form keeps the select list verbatim.
FAMILIES = {
    "qw": ("quantileExactWeighted(0.5)(v, w)", "t", "__qw_cw"),
    "iv": ("maxIntersections(s, e)", "t", "__iv_pre"),
    "ga": ("groupArraySample(3)(x)", "t", "__ga_t0"),
    "gc": ("groupConcat(',', 2)(sx)", "t JOIN u ON t.k = u.k",
           "__gc_x0"),
}

#: (shape, statement template, owned?)
SHAPES = [
    ("projected_key", "SELECT k, {agg} AS r FROM {src} GROUP BY k", True),
    ("group_by_alias",
     "SELECT k AS kk, {agg} AS r FROM {src} GROUP BY kk", True),
    ("group_by_ordinal",
     "SELECT k AS kk, {agg} AS r FROM {src} GROUP BY 1", True),
    ("bare_alias", "SELECT k kk, {agg} r FROM {src} GROUP BY kk", True),
    ("dotted_key", "SELECT t.k, {agg} AS r FROM {src} GROUP BY t.k",
     True),
    ("rollup", "SELECT k, {agg} AS r FROM {src} GROUP BY ROLLUP(k)",
     False),
    ("order_by_non_output",
     "SELECT k, {agg} AS r FROM {src} GROUP BY k ORDER BY z", False),
    ("unaliased_expression_key",
     "SELECT k + 1, {agg} AS r FROM {src} GROUP BY k + 1", False),
    ("key_without_group_by", "SELECT k, {agg} AS r FROM {src}", False),
    # GROUP BY names the alias c of `k`; `1 AS k` is then no group
    # key (it once took c's slot and projected column k)
    ("alias_chain",
     "SELECT k AS c, 1 AS k, {agg} AS r FROM {src} GROUP BY c", False),
    ("unaliased_aggregate", "SELECT k, {agg} FROM {src} GROUP BY k",
     False),
]


@pytest.mark.parametrize("family", list(FAMILIES))
@pytest.mark.parametrize(
    "shape, template, owned", SHAPES, ids=[s[0] for s in SHAPES]
)
def test_shared_ownership_rule(family, shape, template, owned):
    agg, src, marker = FAMILIES[family]
    out = transpile(template.format(agg=agg, src=src))
    assert (marker in out) == owned, (family, shape, out)


def _fold(sql: str) -> str:
    """The same statement forced onto the expression-position fold
    (no re-plan owns a HAVING clause)."""
    out = transpile(sql.replace(" ORDER BY", " HAVING count(*) >= 0 ORDER BY"))
    assert "HAVING" in out
    return out


@pytest.fixture(scope="module")
def own_views(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW own_t AS "
        "SELECT concat('g', id % 3) AS k, CAST(id % 7 AS DOUBLE) AS v, "
        "id % 3 + 1 AS w, CAST(id % 5 AS DOUBLE) AS s, "
        "CAST(id % 5 + id % 4 AS DOUBLE) AS e, id AS x, "
        "concat('s', id) AS sx, id % 4 - 1 AS d FROM range(60)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW own_u AS "
        "SELECT concat('g', id) AS k FROM range(3)"
    )
    return spark


def _rows(spark, sql: str):
    # groupConcat's order is unspecified (CH too): compare as sets
    return [
        tuple(
            sorted(c.split(",")) if isinstance(c, str) and "," in c
            else c for c in r
        )
        for r in spark.sql(sql).collect()
    ]


#: the Spark twins of :data:`FAMILIES`, plus the single-relation
#: groupConcat form (its GROUP BY ordinals resolve through the same
#: rule); limits cover whole groups
SPARK_FAMILIES = {
    "qw": ("quantileExactWeighted(0.5)(v, w)", "own_t t", "__qw_cw"),
    "iv": ("maxIntersections(s, e)", "own_t t", "__iv_pre"),
    "ga": ("groupArraySample(3)(x)", "own_t t", "__ga_t0"),
    "gc": ("groupConcat(',', 30)(t.sx)",
           "own_t t JOIN own_u u ON t.k = u.k", "__gc_x0"),
    "gc_single": ("groupConcat(',', 30)(sx)", "own_t t", "__gc_rn0"),
}


@pytest.mark.parametrize("family", list(SPARK_FAMILIES))
@pytest.mark.parametrize("shape", [
    "SELECT t.k AS kk, {agg} AS r FROM {src} GROUP BY 1 ORDER BY kk",
    "SELECT t.k, {agg} AS r FROM {src} GROUP BY t.k ORDER BY k",
    "SELECT t.k kk, {agg} r FROM {src} GROUP BY kk ORDER BY kk",
], ids=["ordinal", "dotted_key", "bare_alias"])
def test_new_ownership_matches_fold(own_views, family, shape):
    """Statements the shared rule now re-plans give the fold's rows."""
    agg, src, marker = SPARK_FAMILIES[family]
    sql = shape.format(agg=agg, src=src)
    out = transpile(sql)
    assert marker in out, out
    rows = _rows(own_views, out)
    assert len(rows) == 3 and rows == _rows(own_views, _fold(sql))


def test_compound_operators_rejoin(own_views):
    """A `>=` in a weighted-quantile argument, a groupConcat operand or
    a projected key re-joins as `>=`: a plain `' '.join` re-split it
    into `> =`, which Spark rejects."""
    for sql, marker in (
        ("SELECT k, quantileExactWeighted(0.5)(v, if(d >= 0, d, 0)) "
         "AS q FROM own_t GROUP BY k ORDER BY k", "__qw_cw"),
        ("SELECT x >= 30 AS f, quantileExactWeighted(0.5)(v, w) AS q "
         "FROM own_t GROUP BY f ORDER BY f", "__qw_cw"),
        ("SELECT t.k AS kk, groupConcat(',', 30)(if(t.d >= 0, t.sx, "
         "NULL)) AS g FROM own_t t JOIN own_u u ON t.k = u.k "
         "GROUP BY kk ORDER BY kk", "__gc_x0"),
        ("SELECT t.x >= 30 AS f, groupConcat(',', 40)(t.sx) AS g "
         "FROM own_t t JOIN own_u u ON t.k = u.k GROUP BY f ORDER BY f",
         "__gc_x0"),
        ("SELECT x >= 30 AS f, groupConcat(',', 40)(if(d >= 0, sx, "
         "NULL)) AS g FROM own_t GROUP BY f ORDER BY f", "__gc_rn0"),
    ):
        out = transpile(sql)
        assert marker in out and "> =" not in out, out
        assert _rows(own_views, out) == _rows(own_views, _fold(sql)), sql


@pytest.mark.parametrize("residual", [
    "maxIntersectionsPosition(k, k)", "percentile_cont(k)",
])
def test_ga_residual_allow_list_keeps_aggregates_on_fold(residual):
    """Only allow-listed scalar heads may wrap a group-array tier: an
    aggregate would silently re-aggregate the re-plan's joined rows."""
    out = transpile(
        f"SELECT k, length(groupArraySample(2)(x)) + {residual} AS r "
        "FROM t GROUP BY k"
    )
    assert "__ga_t0" not in out and "collect_list" in out
    assert "__ga_t0" in transpile(
        "SELECT k, length(groupArraySample(2)(x)) + 1 AS r, "
        "arraySort(groupArrayLast(2)(x, o)) AS l FROM t GROUP BY k"
    )


def test_ga_replan_owns_only_a_plain_from():
    """Each tier scans the FROM again, so a subquery (whose LIMIT may
    pick different rows per scan) keeps the fold path."""
    tiers = "groupArraySample(2)(x) AS a, groupArrayLast(2)(x, o) AS b"
    out = transpile(
        f"SELECT k, {tiers} FROM (SELECT * FROM t LIMIT 10) GROUP BY k"
    )
    assert "__ga_t0" not in out and "collect_list" in out
    for src in ("t", "db.t", "t AS q", "db.t q"):
        out = transpile(f"SELECT k, {tiers} FROM {src} GROUP BY k")
        assert "__ga_t1" in out, src
    assert "__ga_t1" in transpile(_CH_GROUP_ARRAY_TIERS)
