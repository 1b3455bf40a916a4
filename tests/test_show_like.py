"""SHOW … LIKE matches names the way SQL LIKE does: `%` is any run of
characters, `_` is one character, and every other character (`.`, `(`, …)
matches only itself."""

import pytest

from greptimedb_spark.catalog import Catalog
from greptimedb_spark.sql import GreptimeSQL

NAMES = ("abc", "a_c", "axc")

SHOW = {
    "TABLES": "SHOW TABLES LIKE '{}'",
    "TABLE STATUS": "SHOW TABLE STATUS LIKE '{}'",
    "DATABASES": "SHOW DATABASES LIKE '{}'",
    "FLOWS": "SHOW FLOWS LIKE '{}'",
    "COLUMNS": "SHOW COLUMNS FROM like_cols LIKE '{}'",
}


@pytest.fixture(scope="module")
def g(spark, tmp_path_factory):
    g = GreptimeSQL(spark, catalog=Catalog(
        spark, str(tmp_path_factory.mktemp("show_like") / "cat")))
    for n in NAMES:
        g.sql(f"CREATE TABLE {n} (ts TIMESTAMP(3) TIME INDEX, v DOUBLE)")
        g.sql(f"CREATE DATABASE {n}")
        g.sql(f"CREATE FLOW {n} SINK TO sink_{n} AS "
              f"SELECT count(v) AS n FROM {n}")
    g.sql("CREATE TABLE like_cols (ts TIMESTAMP(3) TIME INDEX, "
          + ", ".join(f"{n} DOUBLE" for n in NAMES) + ")")
    return g


@pytest.mark.parametrize("kind", SHOW)
@pytest.mark.parametrize("pattern, expected", [
    ("a.c", []),  # `.` is a literal dot, not a regex wildcard
    ("a(", []),  # a regex metacharacter is not a syntax error
    ("a_c", list(NAMES)),  # `_` matches any one character
])
def test_show_like(g, kind, pattern, expected):
    rows = g.sql(SHOW[kind].format(pattern)).collect()
    assert sorted(r[0] for r in rows) == sorted(expected)
