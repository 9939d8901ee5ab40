"""The shared token helpers of ``dialect.py`` (``_top_level``,
``_match_close``/``_match_open``, ``_split_commas``) and the two front
doors that read nesting through them: backslash-escaped quotes in
string literals, and DDL column lists with comments, quoted names and
escaped defaults."""

from __future__ import annotations

import pytest

from clickhouse_vs_dbt_spark.ddl import transpile_ddl
from clickhouse_vs_dbt_spark.dialect import (
    DialectError,
    _match_close,
    _match_open,
    _split_commas,
    _split_top_commas,
    _tokens,
    _top_level,
    split_statements,
    transpile,
)


def test_top_level_skips_groups_and_stops_at_enclosing_close():
    toks = _tokens("f(a, [b, c]), d) e")
    assert [toks[i] for i in _top_level(toks)] == [
        "f", "(", ",", " ", "d", ")",
    ]
    # an unclosed group ends the walk
    toks = _tokens("a, (b, c")
    assert [toks[i] for i in _top_level(toks)] == ["a", ",", " ", "("]


def test_match_open_and_close_treat_brackets_alike():
    toks = _tokens("(a[1], [b])")
    assert _match_close(toks, 0) == len(toks) - 1
    assert _match_open(toks, len(toks) - 1) == 0
    with pytest.raises(DialectError):
        _match_open(_tokens("a)"), 1)
    with pytest.raises(DialectError):
        _match_close(_tokens("(a"), 0)


def test_split_commas_keeps_quoted_and_nested_commas():
    parts = _split_commas(_tokens("a[1, 2], 'x, y', `c,d`, f(g, h)"))
    assert ["".join(p).strip() for p in parts] == [
        "a[1, 2]", "'x, y'", "`c,d`", "f(g, h)",
    ]
    assert _split_top_commas("a,") == ["a"]
    assert _split_top_commas("") == []


def test_backslash_escaped_quote_is_one_string_token():
    assert _tokens(r"'a\'b, c'") == [r"'a\'b, c'"]
    assert _tokens("'it''s'") == ["'it''s'"]


def test_split_statements_backslash_escape():
    assert split_statements(r"INSERT INTO t VALUES ('a\';b'); SELECT 1") == [
        r"INSERT INTO t VALUES ('a\';b')", "SELECT 1",
    ]


def test_backslash_escapes_transpile_and_run(spark):
    src = r"(SELECT 'a\'b, c' AS x UNION ALL SELECT 'z' AS x) t"
    sql = transpile(
        rf"SELECT multiIf(x = 'a\'b, c', 1, 2) AS r FROM {src} ORDER BY r"
    )
    assert sql.count("WHEN") == 1
    assert [row.r for row in spark.sql(sql).collect()] == [1, 2]
    sql = transpile(
        r"SELECT ifNull(CAST(NULL AS STRING), 'it\'s (x') AS r"
    )
    assert spark.sql(sql).collect()[0].r == "it's (x"


_PLAIN = (
    "CREATE TABLE t (\n  id Int32,\n  name String\n) "
    "ENGINE = MergeTree ORDER BY id"
)


@pytest.mark.parametrize("ddl,plain", [
    (
        "CREATE TABLE t (\n  id Int32, -- key, (see docs\n  name String\n) "
        "ENGINE = MergeTree ORDER BY id",
        _PLAIN,
    ),
    (
        "CREATE TABLE t (\n  id Int32 DEFAULT 'a\\'b, c',\n  name String\n) "
        "ENGINE = MergeTree ORDER BY id",
        _PLAIN,
    ),
    (
        "CREATE TABLE t (e Enum8('a\\'x' = 1, 'b' = 2), name String) "
        "ENGINE = MergeTree ORDER BY name",
        "CREATE TABLE t (e Enum8('ax' = 1, 'b' = 2), name String) "
        "ENGINE = MergeTree ORDER BY name",
    ),
], ids=["line_comment", "escaped_default", "escaped_enum"])
def test_ddl_column_list_matches_plain_counterpart(ddl, plain):
    assert transpile_ddl(ddl) == transpile_ddl(plain)


def test_ddl_backtick_name_with_comma():
    out = transpile_ddl(
        "CREATE TABLE t (`a,b` Int32, name String) "
        "ENGINE = MergeTree ORDER BY name"
    )
    plain = transpile_ddl(
        "CREATE TABLE t (ab Int32, name String) "
        "ENGINE = MergeTree ORDER BY name"
    )
    assert out == plain.replace("ab INT", "`a,b` INT")
