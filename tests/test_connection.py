"""Connection state (greptimedb_spark/connection.py): each GreptimeSQL keeps
its own time zone on a shared Spark session, every connection on a catalog
sees one database list, and connection statements are answered before any
dialect rewrite."""

from __future__ import annotations

import pytest

from greptimedb_spark.catalog import Catalog
from greptimedb_spark.functions import register_all
from greptimedb_spark.sql import GreptimeSQL

_EPOCH = "SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' AS BIGINT) AS t"


@pytest.fixture
def utc_after(spark):
    """Leave the shared session in UTC, whatever zone a test set."""
    yield
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register_all(spark)


def test_time_zone_belongs_to_the_connection(spark, utc_after):
    g1 = GreptimeSQL(spark)
    g1.sql("SET TIME_ZONE = '+08:00'")
    assert g1.sql(_EPOCH).first().t == -28800
    g2 = GreptimeSQL(spark)
    assert g2.sql(_EPOCH).first().t == 0
    assert g2.sql("SELECT timezone()").first()[0] == "UTC"
    assert g1.sql(_EPOCH).first().t == -28800
    assert g1.sql("SELECT timezone()").first()[0] == "+08:00"
    assert g2.sql(_EPOCH).first().t == 0


def test_connections_on_a_catalog_share_its_databases(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    g1 = GreptimeSQL(spark, catalog=cat)
    g1.sql("CREATE DATABASE a WITH (ttl = '1d')")
    g2 = GreptimeSQL(spark, catalog=cat)
    assert "a" in {r[0] for r in g2.sql("SHOW DATABASES").collect()}
    g2.sql("CREATE DATABASE b")
    assert cat.db_options == {"a": {"ttl": "1d"}, "b": {}}
    g2.sql("ALTER DATABASE a SET 'ttl' = '2d'")
    assert "2d" in g1.sql("SHOW CREATE DATABASE a").first()[1]
    # a connection without a catalog keeps its own list
    g3 = GreptimeSQL(spark)
    g3.sql("CREATE DATABASE c")
    assert "c" not in cat.db_options
    assert "c" not in {r[0] for r in g1.sql("SHOW DATABASES").collect()}


# one statement of each kind connection.py answers
_CONNECTION_STATEMENTS = [
    "PREPARE p FROM 'SELECT ?'",
    "DEALLOCATE p",
    "FETCH 1 FROM c",
    "CLOSE c",
    "KILL 1",
    "SET search_path = 'public'",
    "SHOW search_path",
    "SELECT @@version_comment",
    "SET MAX_EXECUTION_TIME = 10",
    "SET read_preference = 'follower'",
    "SELECT read_preference()",
    "SHOW FULL PROCESSLIST",
    "SET TIME_ZONE = '+08:00'",
    "SET foo = 1",
    "SHOW WARNINGS",
    "SHOW VARIABLES time_zone",
    "SELECT connection_id()",
    "SELECT timezone()",
    "SELECT build()",
    "SELECT version()",
    "SELECT database()",
    "CREATE DATABASE d1",
    "ALTER DATABASE d0 SET 'ttl' = '1d'",
    "SHOW CREATE DATABASE d0",
    "DROP DATABASE d0",
    "/* c */ use d0;",
]


@pytest.mark.parametrize("stmt", _CONNECTION_STATEMENTS)
def test_connection_statements_skip_the_dialect_pipeline(
        spark, tmp_path, monkeypatch, utc_after, stmt):
    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path)))
    g.sql("DECLARE c CURSOR FOR SELECT 1 AS one")
    g.sql("CREATE DATABASE d0")

    def pipeline(*_a, **_k):
        raise AssertionError(f"{stmt!r} entered the dialect pipeline")

    monkeypatch.setattr(g, "_rewrite_tql_ctes", pipeline)
    monkeypatch.setattr(g, "_ddl", pipeline)
    g.sql(stmt).collect()
