"""SQL functions register once per Spark session (functions.register_all),
and again only when the session time zone changed since their SQL temporary
functions were created: those keep the zone they were created under."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.udf import UDFRegistration

from greptimedb_spark.sql import GreptimeSQL

_UNIXTIME = "SELECT to_unixtime('2024-01-01 00:00:00') AS u"


@pytest.fixture
def calls(monkeypatch):
    """Counts spark.udf.register calls and SQL temporary function
    definitions issued through SparkSession.sql."""
    seen = {"udf": 0, "sql_fn": 0}
    register, sql = UDFRegistration.register, SparkSession.sql

    def counting_register(self, *a, **kw):
        seen["udf"] += 1
        return register(self, *a, **kw)

    def counting_sql(self, text, *a, **kw):
        if "TEMPORARY FUNCTION" in text.upper():
            seen["sql_fn"] += 1
        return sql(self, text, *a, **kw)

    monkeypatch.setattr(UDFRegistration, "register", counting_register)
    monkeypatch.setattr(SparkSession, "sql", counting_sql)
    return seen


def test_second_instance_registers_nothing(spark, calls):
    GreptimeSQL(spark)
    calls.update(udf=0, sql_fn=0)
    GreptimeSQL(spark)
    assert calls == {"udf": 0, "sql_fn": 0}


def test_time_zone_change_recreates_sql_functions(spark, calls):
    a = GreptimeSQL(spark)
    a.sql("SET TIME_ZONE = '+08:00'")
    assert a.sql(_UNIXTIME).first().u == 1704038400
    calls.update(udf=0, sql_fn=0)
    # B's statement moves the shared session back to B's zone (UTC): the
    # functions A's SET re-created under +08:00 must follow, or B would
    # read 1704038400
    b = GreptimeSQL(spark)
    assert b.sql(_UNIXTIME).first().u == 1704067200
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert calls["udf"] == 0 and calls["sql_fn"] > 0


def test_lazily_needed_functions_work_on_a_second_instance(spark, tmp_path):
    from greptimedb_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    first = GreptimeSQL(spark, catalog=cat)
    first.sql("CREATE TABLE fr (ts TIMESTAMP(3) TIME INDEX, "
              "k STRING PRIMARY KEY, x DOUBLE)")
    first.sql("INSERT INTO fr VALUES (1000, 'a', 1.0), (2000, 'b', 5.0), "
              "(3000, 'c', 3.0)")
    second = GreptimeSQL(spark, catalog=cat)
    w = second.sql("SELECT approx_percentile_cont_with_weight(x, 0.5) "
                   "WITHIN GROUP (ORDER BY x) AS w FROM fr").first().w
    assert w == pytest.approx(4.2)
    bins = second.sql("SELECT date_bin(INTERVAL '2 seconds', ts) AS b, "
                      "count(*) AS n FROM fr GROUP BY b ORDER BY b").collect()
    assert [(r.b.second, r.n) for r in bins] == [(0, 1), (2, 2)]


def test_new_session_gets_its_own_registration(spark, calls):
    GreptimeSQL(spark)
    other = spark.newSession()
    with pytest.raises(Exception):
        other.sql("SELECT gt_initcap('a b')").collect()
    calls.update(udf=0, sql_fn=0)
    GreptimeSQL(other)
    assert calls["udf"] > 0 and calls["sql_fn"] > 0
    assert other.sql("SELECT gt_initcap('a b') AS c").first().c == "A B"
    calls.update(udf=0, sql_fn=0)
    GreptimeSQL(other)
    assert calls == {"udf": 0, "sql_fn": 0}
