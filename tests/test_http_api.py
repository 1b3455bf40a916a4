"""HTTP response codecs (http_api.py): GreptimedbV1 + Prometheus JSON
shapes against the reference's struct definitions and test goldens
(src/servers/src/http.rs:284-392, tests-integration/tests/http.rs:494)."""

import json

from pyspark.sql import Row

from greptimedb_spark import http_api as API


def test_sql_response_records_shape(spark):
    df = spark.createDataFrame(
        [Row(host='host, "name', cpu=66.6, memory=1024.0, ts=0)],
        "host string, cpu double, memory double, ts long",
    ).selectExpr("host", "cpu", "memory", "timestamp_millis(ts) AS ts")
    resp = API.sql_response(df, execution_time_ms=7)
    # envelope keys exactly as the reference serializes them
    assert set(resp) == {"output", "execution_time_ms"}
    rec = resp["output"][0]["records"]
    assert rec["schema"]["column_schemas"] == [
        {"name": "host", "data_type": "String"},
        {"name": "cpu", "data_type": "Float64"},
        {"name": "memory", "data_type": "Float64"},
        {"name": "ts", "data_type": "TimestampMicrosecond"},
    ]
    # timestamps are raw epoch ints in the column's own unit (µs here; the
    # reference's ms columns show epoch-ms ints in its http.rs goldens)
    assert rec["rows"] == [['host, "name', 66.6, 1024.0, 0]]
    assert rec["total_rows"] == 1
    assert json.dumps(resp)  # strictly JSON-serializable
    # DDL/DML forms
    assert API.sql_response(2)["output"] == [{"affectedrows": 2}]
    assert API.sql_response(None)["output"] == []


def test_sql_response_cell_rendering(spark):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(bytearray(b"\x01\x02"), Decimal("12.34"), float("nan"), None)],
        "b binary, d decimal(10,2), f double, s string",
    )
    rec = API.sql_response(df)["output"][0]["records"]
    assert rec["schema"]["column_schemas"][1]["data_type"] == "Decimal128(10, 2)"
    b, d, f, s = rec["rows"][0]
    assert b == "AQI="          # base64
    assert d == "12.34"         # decimals lossless as strings
    assert f is None and s is None  # non-finite floats -> null (serde_json)


def test_prometheus_response_matrix_and_vector(spark):
    df = spark.createDataFrame(
        [(0, "api", "i1", 5.0), (60_000, "api", "i1", 7.5),
         (0, "api", "i2", 0.1), (60_000, "api", "i2", float("inf"))],
        "t long, job string, instance string, value double",
    ).selectExpr("timestamp_millis(t) AS ts", "job", "instance", "value")
    m = API.prometheus_response(df, "matrix")
    assert m["status"] == "success"
    assert m["data"]["resultType"] == "matrix"
    r = m["data"]["result"]
    assert [s["metric"] for s in r] == [
        {"job": "api", "instance": "i1"}, {"job": "api", "instance": "i2"}]
    # integral floats print like Go's 'f' verb: "5", not "5.0"; Inf -> +Inf
    assert r[0]["values"] == [[0.0, "5"], [60.0, "7.5"]]
    assert r[1]["values"][1] == [60.0, "+Inf"]
    v = API.prometheus_response(df, "vector")
    assert v["data"]["resultType"] == "vector"
    # vector keeps the LAST sample per labelset
    assert v["data"]["result"][0]["value"] == [60.0, "7.5"]
    assert json.dumps(m) and json.dumps(v)


def test_prometheus_response_from_engine(spark):
    """End-to-end: PromQLEngine.evaluate() output renders directly."""
    from greptimedb_spark.promql import MetricTable, PromQLEngine

    rows = [(t * 15_000, "api", float(t * 10)) for t in range(5)]
    df = spark.createDataFrame(rows, "t long, job string, v double").selectExpr(
        "timestamp_millis(t) AS greptime_timestamp", "job",
        "v AS greptime_value")
    eng = PromQLEngine(spark, {"m": MetricTable(
        df, value_col="greptime_value", time_index="greptime_timestamp",
        tags=["job"])})
    out = eng.evaluate("m{job='api'}", 0, 60_000, 30_000)
    resp = API.prometheus_response(out, "matrix")
    (series,) = resp["data"]["result"]
    assert series["metric"] == {"job": "api"}
    assert [v for _, v in series["values"]] == ["0", "20", "40"]


def test_table_csv_formats(spark):
    df = spark.createDataFrame([Row(host="h1", n=5), Row(host=None, n=7)],
                               "host string, n long")
    t = API.table_response(df)
    lines = t.splitlines()
    assert lines[0].startswith("┌─host") and lines[-1].startswith("└")
    # serde Value::to_string semantics: strings quoted, NULL -> null
    assert '"h1"' in lines[1] and "null" in lines[2]
    assert API.table_response(3) == "3\n"

    c = API.csv_response(df, with_names=True, with_types=True)
    rows = c.split("\r\n")
    assert rows[0] == "host,n" and rows[1] == "String,Int64"
    assert rows[2] == "h1,5" and rows[3] == ",7"  # NULL -> empty field
    assert API.csv_response(3) == "3\n"


def test_influxdb_v1_format(spark):
    df = spark.createDataFrame([(0, 66.6)], "t long, cpu double").selectExpr(
        "timestamp_millis(t) AS ts", "cpu")
    r = API.influxdb_v1_response(df, epoch="ms")
    (res,) = r["results"]
    assert res["statement_id"] == 0
    (s,) = res["series"]
    assert s["name"] == "" and s["columns"] == ["ts", "cpu"]
    assert s["values"] == [[0, 66.6]]
    # default: ISO strings; 's' precision: epoch seconds
    iso = API.influxdb_v1_response(df)["results"][0]["series"][0]["values"][0][0]
    assert iso.startswith("1970-01-01T00:00:00")
    secs = API.influxdb_v1_response(df, epoch="s")
    assert secs["results"][0]["series"][0]["values"][0][0] == 0
    import pytest
    with pytest.raises(ValueError):
        API.influxdb_v1_response(df, epoch="h")
    assert json.dumps(r)


def test_arrow_and_null_formats(spark):
    import pyarrow as pa

    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")],
                               "a long, b string")
    buf = API.arrow_response(df)
    tbl = pa.ipc.open_stream(buf).read_all()
    assert tbl.column_names == ["a", "b"]
    assert tbl.column("a").to_pylist() == [1, 2]
    assert API.null_response(df) == ""


def test_json_response_format(spark):
    """`json` format (json_result.rs:84-113): rows as name->value objects,
    execution_time_ms inside the body, affected_rows variant."""
    df = spark.createDataFrame(
        [Row(host="h1", ts=0), Row(host="h2", ts=1000)],
        "host string, ts long",
    ).selectExpr("host", "timestamp_millis(ts) AS ts")
    r = API.json_response(df, execution_time_ms=3)
    assert set(r) == {"data", "execution_time_ms"}
    assert r["data"] == [{"host": "h1", "ts": 0},
                         {"host": "h2", "ts": 1_000_000}]
    assert r["execution_time_ms"] == 3
    assert json.dumps(r)
    # affected-rows / empty variants
    a = API.json_response(4)
    assert a == {"data": [], "affected_rows": 4, "execution_time_ms": 0}
    assert API.json_response(None) == {"data": [], "execution_time_ms": 0}


def test_error_response_envelope():
    """ErrorResponse (error_result.rs:26-31): {code, error,
    execution_time_ms}; codes from status_code.rs; HTTP statuses from
    error.rs:933-977."""
    from pyspark.errors import AnalysisException, ParseException

    e = API.error_response(ValueError("bad epoch"), execution_time_ms=2)
    assert e == {"code": 1004, "error": "bad epoch", "execution_time_ms": 2}
    assert API.error_http_status(1004) == 400
    assert API.error_http_status(3001) == 500
    # classification buckets
    assert API.classify_error(
        Exception("[TABLE_OR_VIEW_NOT_FOUND] The table `t` cannot be found"
                  )) == 4001
    assert API.classify_error(Exception("boom")) == 3001
    assert API.error_response("msg", code=2000)["code"] == 2000


def test_sql_http_error_paths(spark, tmp_path):
    """sql_http renders engine failures as the reference's error envelope:
    a parse error -> InvalidSyntax(2000), an unknown table ->
    TableNotFound(4001), both HTTP 400 like error.rs maps them."""
    from greptimedb_spark.catalog import Catalog
    from greptimedb_spark.sql import GreptimeSQL

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "cat")))
    parse = g.sql_http("SELEC 1")
    assert parse["code"] == 2000 and API.error_http_status(parse["code"]) == 400
    assert "execution_time_ms" in parse and parse["error"]
    missing = g.sql_http("SELECT * FROM no_such_table_xyz", "json")
    assert missing["code"] == 4001
    assert API.error_http_status(missing["code"]) == 400
    # unsupported format stays a dispatch-level exception (reference 400s
    # before reaching the handler)
    import pytest
    with pytest.raises(ValueError):
        g.sql_http("SELECT 1", "xml")


def test_epoch_cells_are_timezone_independent(spark):
    """ADVICE r8: collected TIMESTAMP values are naive in the DRIVER's
    local tz — emitted epochs must not shift when that tz isn't UTC."""
    import os
    import time

    df = spark.createDataFrame([(1_700_000_000_123,)], "t long").selectExpr(
        "timestamp_millis(t) AS ts")
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rec = API.sql_response(df)["output"][0]["records"]
        assert rec["rows"][0][0] == 1_700_000_000_123_000  # epoch-µs, exact
        j = API.json_response(df)["data"][0]["ts"]
        assert j == 1_700_000_000_123_000
        s = API.influxdb_v1_response(df, epoch="ms")
        assert s["results"][0]["series"][0]["values"][0][0] == 1_700_000_000_123
        iso = API.influxdb_v1_response(df)["results"][0]["series"][0][
            "values"][0][0]
        assert iso.startswith("2023-11-14T22:13:20")  # UTC rendering
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_sql_http_dispatch(spark, tmp_path):
    """GreptimeSQL.sql_http = the /v1/sql?format= dispatch end-to-end."""
    import pytest

    from greptimedb_spark.catalog import Catalog
    from greptimedb_spark.sql import GreptimeSQL

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "cat")))
    g.sql("CREATE TABLE fmt_t (ts timestamp(3) time index, host STRING "
          "PRIMARY KEY, val BIGINT)")
    g.sql("INSERT INTO fmt_t VALUES (0, 'h1', 5)")
    v1 = g.sql_http("SELECT host, val FROM fmt_t", "greptimedb_v1")
    assert v1["output"][0]["records"]["rows"] == [["h1", 5]]
    csv_out = g.sql_http("SELECT host, val FROM fmt_t", "csv", with_names=True)
    assert csv_out.split("\r\n")[:2] == ["host,val", "h1,5"]
    jr = g.sql_http("SELECT host, val FROM fmt_t", "json")
    assert jr["data"] == [{"host": "h1", "val": 5}]
    assert "┌" in g.sql_http("SELECT val FROM fmt_t", "table")
    import pyarrow as pa
    tbl = pa.ipc.open_stream(
        g.sql_http("SELECT host FROM fmt_t", "arrow")).read_all()
    assert tbl.column("host").to_pylist() == ["h1"]
    assert g.sql_http("SELECT 1 AS one", "null") == ""
    # rows Python cannot hold (past year 9999) still execute: the null
    # format never pickles a row into a Python worker
    assert g.sql_http("SELECT TIMESTAMP '9999-12-31 23:59:59' "
                      "+ INTERVAL '1' DAY AS t", "null") == ""
    with pytest.raises(ValueError):
        g.sql_http("SELECT 1", "xml")
