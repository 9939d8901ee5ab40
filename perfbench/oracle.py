"""DuckDB answers and the result comparison.

Results are compared the way ``tools/oracle_check.py`` compares them (it
is the repository's correctness gate, and its canonical form is reused
here): row count, column names, and a hash over name-sorted columns and
sorted rows with floats rounded to 6 significant digits.
"""

from __future__ import annotations

import sys

import duckdb

from clickhouse_vs_dbt_spark.catalog import FIXTURE_TABLES
from clickhouse_vs_dbt_spark.plans.star import STAR_COLUMNS, star_sql

# tools/oracle_check.py prepends a fixed directory to sys.path when it
# is imported; restore the path so this checkout's modules stay first
_path = list(sys.path)
from tools.oracle_check import _strip_utc, _tbl_rows, table_hash  # noqa: E402

sys.path[:] = _path

# Exact whole-table fingerprint of a star build.  Every aggregate is an
# integer or a DECIMAL sum, so both engines produce the same digits.
STAR_FINGERPRINT = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
       CAST(SUM(l_partkey * 7 + l_suppkey * 13 + l_linenumber) AS BIGINT) AS sum_keys,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_quantity * l_discount + l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_qdt,
       CAST(SUM(c_custkey + s_suppkey + p_partkey + p_size) AS BIGINT) AS sum_dims,
       CAST(SUM(length(c_name) + length(s_name) + length(p_name) + length(p_brand)) AS BIGINT) AS sum_text,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       MIN(o_orderdate) AS min_date,
       MAX(l_shipdate) AS max_ship
FROM star
"""

STAR_COLUMN_NAMES = sorted(STAR_COLUMNS)


class Oracle:
    """A DuckDB connection with the data set's tables as views, and a
    ``star`` table built from ``plans.star.star_sql()``."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in FIXTURE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.con.execute(f"CREATE TABLE star AS {star_sql()}")

    def answer(self, sql: str) -> tuple[int, list[str], str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
        return len(rows), sorted(cols), table_hash(cols, rows)

    def count(self, table: str) -> int:
        return self.con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def canon(tbl) -> tuple[int, list[str], str]:
    """The comparison key of a Spark result collected as Arrow."""
    tbl = _strip_utc(tbl)
    return tbl.num_rows, sorted(tbl.column_names), table_hash(
        tbl.column_names, _tbl_rows(tbl)
    )
