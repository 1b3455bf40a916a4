"""RANGE engine golden tests — expected values transcribed from the reference's
sqlness results (tests/cases/standalone/common/range/{fill,to}.result)."""

import pytest

from greptimedb_spark.range_query import RangeAgg, parse_duration_ms, range_select, range_sql


@pytest.fixture(scope="module")
def host_df(spark):
    # canonical `host` fixture: tests/cases/standalone/common/range/fill.sql
    rows = [
        (0, "host1", 0), (5000, "host1", None), (10000, "host1", 1),
        (15000, "host1", None), (20000, "host1", 2),
        (0, "host2", 3), (5000, "host2", None), (10000, "host2", 4),
        (15000, "host2", None), (20000, "host2", 5),
    ]
    df = spark.createDataFrame(rows, "ts_ms long, host string, val long")
    return df.selectExpr("timestamp_millis(ts_ms) AS ts", "host", "val")


def _collect(df):
    return {
        (r.host, int(r.ts.timestamp())): r[-1]
        for r in df.orderBy("host", "ts").collect()
    }


def test_parse_duration():
    assert parse_duration_ms("5s") == 5000
    assert parse_duration_ms("1h") == 3_600_000
    assert parse_duration_ms("1d") == 86_400_000
    assert parse_duration_ms("90m") == 5_400_000


def test_tumbling_no_fill(host_df):
    out = range_select(host_df, "ts", [RangeAgg("min(val)", "m", 5000)], "5s", ["host"])
    got = _collect(out)
    # fill.result lines 28-40: null-val rows still appear in the grid with NULL agg
    assert got[("host1", 0)] == 0
    assert got[("host1", 5)] is None
    assert got[("host1", 10)] == 1
    assert got[("host1", 20)] == 2
    assert got[("host2", 15)] is None
    assert len(got) == 10


def test_fill_prev(host_df):
    out = range_select(
        host_df, "ts", [RangeAgg("min(val)", "m", 5000, fill="PREV")], "5s", ["host"]
    )
    got = _collect(out)
    # fill.result lines 75-90
    assert got[("host1", 5)] == 0
    assert got[("host1", 15)] == 1
    assert got[("host2", 5)] == 3
    assert got[("host2", 15)] == 4


def test_fill_linear(host_df):
    out = range_select(
        host_df, "ts", [RangeAgg("min(val)", "m", 5000, fill="LINEAR")], "5s", ["host"]
    )
    got = _collect(out)
    # fill.result lines 92-108: interpolated midpoints, result type double
    assert got[("host1", 5)] == 0.5
    assert got[("host1", 15)] == 1.5
    assert got[("host2", 5)] == 3.5
    assert got[("host1", 0)] == 0.0


def test_fill_const(host_df):
    out = range_select(
        host_df, "ts", [RangeAgg("min(val)", "m", 5000, fill="6")], "5s", ["host"]
    )
    got = _collect(out)
    assert got[("host1", 5)] == 6
    assert got[("host1", 0)] == 0


def test_sliding_range_2x(host_df):
    # RANGE '10s' ALIGN '5s': each row lands in 2 steps; grid extends to -5s
    # (calculate.result lines 187-206 show steps 23:59:55 .. 00:00:20).
    out = range_select(host_df, "ts", [RangeAgg("max(val)", "m", 10_000)], "5s", ["host"])
    got = _collect(out)
    assert ("host1", -5) in got
    assert got[("host1", -5)] == 0
    assert got[("host1", 0)] == 0
    assert got[("host1", 5)] == 1   # window [5,15) → rows at 5(null),10
    assert got[("host1", 20)] == 2
    assert len(got) == 12


def test_gappy_range(host_df):
    # RANGE '2s' ALIGN '10s': rows at offset ≥ 2s within the bucket drop out.
    out = range_select(host_df, "ts", [RangeAgg("min(val)", "m", 2000)], "10s", ["host"])
    got = _collect(out)
    assert got[("host1", 0)] == 0
    assert got[("host1", 10)] == 1
    assert got[("host1", 20)] == 2
    assert len(got) == 6  # ts=5000/15000 rows fall in no window


def test_align_to_origin(spark):
    # to.result: TO '1900-01-01T00:00:00+01:00' shifts day buckets to 23:00.
    rows = [
        ("2024-01-23T22:30:00", "host1", 0), ("2024-01-23T23:30:00", "host1", 1),
        ("2024-01-24T22:30:00", "host1", 2), ("2024-01-24T23:30:00", "host1", 3),
    ]
    df = spark.createDataFrame(rows, "s string, host string, val long").selectExpr(
        "to_timestamp(s) AS ts", "host", "val"
    )
    out = range_select(
        df, "ts", [RangeAgg("min(val)", "m", 86_400_000)], "1d", ["host"],
        to="1900-01-01T00:00:00+01:00",
    )
    import datetime as dt

    got = {r.ts.replace(tzinfo=dt.timezone.utc).isoformat(): r.m for r in out.collect()}
    assert got["2024-01-22T23:00:00+00:00"] == 0
    assert got["2024-01-23T23:00:00+00:00"] == 1
    assert got["2024-01-24T23:00:00+00:00"] == 3


def test_range_sql_text(spark, host_df):
    host_df.createOrReplaceTempView("host")
    out = range_sql(
        spark,
        "SELECT ts, host, min(val) RANGE '5s' FILL PREV AS m FROM host ALIGN '5s' BY (host)",
    )
    got = _collect(out)
    assert got[("host1", 5)] == 0
    assert got[("host2", 15)] == 4


def test_multi_range_multi_fill(host_df):
    out = range_select(
        host_df,
        "ts",
        [
            RangeAgg("min(val)", "a", 5000),
            RangeAgg("min(val)", "b", 5000, fill="6"),
        ],
        "5s",
        ["host"],
    )
    got = {(r.host, int(r.ts.timestamp())): (r.a, r.b) for r in out.collect()}
    # fill.result lines 57-73: FILL on one column doesn't affect the other
    assert got[("host1", 5)] == (None, 6)
    assert got[("host1", 0)] == (0, 0)


def test_range_arithmetic_composition(spark, host_df):
    # calculate.result shape: scalar arithmetic around the range aggregate
    host_df.createOrReplaceTempView("host")
    out = range_sql(
        spark,
        "SELECT ts, host, max(val) RANGE '10s' * 4 + 1 AS v FROM host ALIGN '5s' BY (host)",
    )
    got = {(r.host, int(r.ts.timestamp())): r.v for r in out.collect()}
    assert got[("host1", -5)] == 1
    assert got[("host1", 5)] == 5
    assert got[("host1", 15)] == 9
    assert got[("host2", 20)] == 21


def test_range_two_aggs_in_one_expr(spark, host_df):
    host_df.createOrReplaceTempView("host")
    out = range_sql(
        spark,
        "SELECT ts, host, max(val) RANGE '5s' - min(val) RANGE '5s' AS d, "
        "min(val) RANGE '5s' FILL 0 AS m FROM host ALIGN '5s' BY (host)",
    )
    got = {(r.host, int(r.ts.timestamp())): (r.d, r.m) for r in out.collect()}
    assert got[("host1", 0)] == (0, 0)
    assert got[("host1", 5)] == (None, 0)  # null agg propagates through arithmetic


def _ordered(spark, host_df, sql):
    host_df.createOrReplaceTempView("host")
    return range_sql(spark, sql)


def test_range_order_by_keys_and_directions(spark, host_df):
    # ORDER BY after ALIGN … BY sorts the RANGE output (the parser's
    # documented `[ORDER BY ...] [LIMIT n]` tail)
    out = _ordered(
        spark, host_df,
        "SELECT ts, host, min(val) RANGE '5s' AS m FROM host ALIGN '5s' "
        "BY (host) ORDER BY host DESC, ts")
    assert "Sort" in out._jdf.queryExecution().optimizedPlan().toString()
    rows = [(r.host, int(r.ts.timestamp())) for r in out.collect()]
    assert rows == sorted(rows, key=lambda r: (-int(r[0][-1]), r[1]))
    assert rows[0][0] == "host2" and rows[-1][0] == "host1"


def test_range_order_by_alias_nulls_and_position(spark, host_df):
    # DESC puts NULLs first (DataFusion default); NULLS LAST overrides it
    sql = ("SELECT ts, host, min(val) RANGE '5s' AS m FROM host ALIGN '5s' "
           "BY (host) ORDER BY m DESC")
    vals = [r.m for r in _ordered(spark, host_df, sql).collect()]
    assert vals[0] is None and vals[-1] == 0
    vals = [r.m for r in _ordered(spark, host_df,
                                  sql + " NULLS LAST").collect()]
    assert vals[0] == 5 and vals[-1] is None
    # output position 3 is the alias m
    vals = [r.m for r in _ordered(
        spark, host_df, sql.replace("ORDER BY m", "ORDER BY 3")
        + " NULLS LAST").collect()]
    assert vals[0] == 5


def test_range_order_by_unselected_by_column(spark, host_df):
    out = _ordered(
        spark, host_df,
        "SELECT ts, min(val) RANGE '5s' AS m FROM host ALIGN '5s' "
        "BY (host) ORDER BY host DESC, ts")
    assert out.columns == ["ts", "m"]
    # host2's values (3..5) come before host1's (0..2)
    vals = [r.m for r in out.collect() if r.m is not None]
    assert vals == [3, 4, 5, 0, 1, 2]


def test_range_limit_and_offset(spark, host_df):
    base = ("SELECT ts, host, min(val) RANGE '5s' AS m FROM host ALIGN '5s' "
            "BY (host)")
    out = _ordered(spark, host_df, base + " ORDER BY host, ts LIMIT 1")
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].host, int(rows[0].ts.timestamp())) == ("host1", 0)
    out = _ordered(spark, host_df, base + " ORDER BY host, ts LIMIT 2 OFFSET 1")
    assert [int(r.ts.timestamp()) for r in out.collect()] == [5, 10]
    assert len(_ordered(spark, host_df, base + " LIMIT 3").collect()) == 3
