"""Tests for sources/protocols.py: InfluxDB line protocol + OpenTSDB put.

Behavioral parity targets: reference influx conversion
(src/servers/src/influxdb.rs:55-133, incl. its 4-line test vector) and
opentsdb codec (src/servers/src/opentsdb/codec.rs:38-183).
"""

import re

import pytest
from pyspark.sql import Row

from greptimedb_spark.sources import protocols as proto


def _parse(spark, lines, **kw):
    df = spark.createDataFrame([Row(line=l) for l in lines])
    return proto.parse_influx_lines(df, **kw).collect()


def test_influx_reference_vector(spark):
    # the reference's own test lines (influxdb.rs:127-131): 2 measurements,
    # host tag, cpu/memory float fields, ns timestamps
    rows = _parse(spark, [
        "monitor1,host=host1 cpu=66.6,memory=1024 1663840496100023100",
        "monitor1,host=host2 memory=1027 1663840496400340001",
        "monitor2,host=host3 cpu=66.5 1663840496100023102",
        "monitor2,host=host4 cpu=66.3,memory=1029 1663840496400340003",
    ])
    assert all(r["err"] is None for r in rows)
    assert len(rows) == 6  # one long-format row per field
    by_tbl = {}
    for r in rows:
        by_tbl.setdefault(r["table"], []).append(r)
    assert {len(by_tbl["monitor1"]), len(by_tbl["monitor2"])} == {3}
    m1 = {(r["tags"]["host"], r["field_key"]): r for r in by_tbl["monitor1"]}
    assert m1[("host1", "cpu")]["v_f64"] == 66.6
    assert m1[("host1", "memory")]["v_f64"] == 1024.0
    # ns → µs truncation
    assert m1[("host1", "cpu")][proto.TIME_INDEX].microsecond == 100023


def test_influx_types_and_escapes(spark):
    rows = _parse(spark, [
        'weather,city=San\\ Diego temp=21.5,count=3i,ok=t,desc="clear \\"sky\\"" 1000000000',
        'disk\\,0,path=/var used=12u',
    ])
    w = {r["field_key"]: r for r in rows if r["table"] == "weather"}
    assert w["temp"]["field_type"] == "float64" and w["temp"]["v_f64"] == 21.5
    assert w["count"]["field_type"] == "int64" and w["count"]["v_i64"] == 3
    assert w["ok"]["field_type"] == "boolean" and w["ok"]["v_bool"] is True
    assert w["desc"]["field_type"] == "string" and w["desc"]["v_str"] == 'clear "sky"'
    assert w["temp"]["tags"]["city"] == "San Diego"
    assert w["temp"][proto.TIME_INDEX].isoformat() == "1970-01-01T00:00:01"
    d = [r for r in rows if r["table"] == "disk,0"]
    assert len(d) == 1 and d[0]["v_i64"] == 12 and d[0][proto.TIME_INDEX] is None


def test_influx_backslash_kept_before_nonescapable(spark):
    # Go/iox grammar: backslash escapes ONLY the section's escapable set;
    # before any other char it is a literal — `C:\temp` must NOT lose it.
    rows = _parse(spark, [
        'disk,path=C:\\temp used=1i',          # \t not escapable in tag value
        'm\\easure,a\\b=c\\d f\\x=2i',         # ditto in measurement/keys
        'm f=1i,s="back\\slash \\"q\\""',      # quoted: only \" and \\ escape
    ])
    assert all(r["err"] is None for r in rows)
    d = [r for r in rows if r["table"] == "disk"][0]
    assert d["tags"]["path"] == "C:\\temp"
    e = [r for r in rows if r["table"] == "m\\easure"][0]
    assert e["tags"] == {"a\\b": "c\\d"} and e["field_key"] == "f\\x"
    s = [r for r in rows if r["field_key"] == "s"][0]
    assert s["v_str"] == 'back\\slash "q"'


def test_influx_int_range_quarantined(spark):
    # spec-valid uint64 above i64::MAX must become an err row, not an Arrow
    # overflow that fails the whole mapInPandas batch
    rows = _parse(spark, [
        "m big=18446744073709551615u 1000000000",
        "m neg=-1u",
        "m huge=99999999999999999999i",
        "m ok=9223372036854775807u,f=1.5 1000000000",
    ])
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 3
    assert any("outside supported [0, i64::MAX]" in e for e in errs)
    assert any("i64 field value out of range" in e for e in errs)
    ok = [r for r in rows if r["err"] is None]
    assert {r["field_key"] for r in ok} == {"ok", "f"}
    assert [r["v_i64"] for r in ok if r["field_key"] == "ok"] == [2**63 - 1]


def test_influx_numbers_are_ascii_grammar(spark):
    """Digit separators, a leading '+' and non-ASCII digits are not line
    protocol; Python's int()/float() would take them, so each of these lines
    must be an err row, not a number."""
    bad = ["m x=1_000i", "m x=\uff11\uff12i", "m x=+5i", "m x=1 1_000",
           "m x=1_0", "m x=+1.5", "m x=1_2u", "m x=-1u", "m x=inf",
           "m x=1 +5", "m x=1 \uff15"]
    rows = _parse(spark, bad + ["m a=-5i,b=7u,c=-1.5e3,d=.5,e=2. 3000"])
    errs = [r for r in rows if r["err"] is not None]
    assert len(errs) == len(bad)
    assert all(r["table"] is None and r["v_i64"] is None
               and r["v_f64"] is None for r in errs)
    ok = {r["field_key"]: r for r in rows if r["err"] is None}
    assert (ok["a"]["v_i64"], ok["b"]["v_i64"]) == (-5, 7)
    assert (ok["c"]["v_f64"], ok["d"]["v_f64"], ok["e"]["v_f64"]) == (
        -1500.0, 0.5, 2.0)
    assert ok["a"][proto.TIME_INDEX].microsecond == 3


def test_influx_precision_and_errors(spark):
    ok = _parse(spark, ["m f=1 1663840496"], precision="s")
    assert ok[0][proto.TIME_INDEX].year == 2022
    bad = _parse(spark, ["m1,badtag novalue", "", "# comment", "onlymeasurement"])
    errs = [r for r in bad if r["err"] is not None]
    assert len(errs) == 2  # blank + comment are dropped, two malformed lines
    assert all(r["table"] is None for r in errs)
    with pytest.raises(ValueError):
        proto.parse_influx_lines(None, precision="h")


def test_influx_pivot(spark):
    df = spark.createDataFrame([Row(line=l) for l in [
        "monitor1,host=host1 cpu=66.6,memory=1024 1663840496100023100",
        "monitor1,host=host2 memory=1027 1663840496400340001",
    ]])
    wide = proto.influx_pivot(proto.parse_influx_lines(df), "monitor1")
    got = {r["tags"]["host"]: r for r in wide.collect()}
    assert got["host1"]["cpu"] == "66.6" and got["host1"]["memory"] == "1024.0"
    assert got["host2"]["cpu"] is None and got["host2"]["memory"] == "1027.0"


def _pivot(spark, lines, table):
    df = spark.createDataFrame([Row(line=l) for l in lines])
    return proto.influx_pivot(proto.parse_influx_lines(df), table)


@pytest.mark.parametrize("lines", [
    ["m1,badtag novalue", "onlymeasurement", "cpu,h=a x=1 notatime"],
    ["disk,h=a x=1 1", "disk,h=b y=2i 2"],
], ids=["all_malformed", "other_measurement"])
def test_influx_pivot_without_rows(spark, lines):
    """No row of the measurement: the tags and the time index, no field
    column, no row."""
    wide = _pivot(spark, lines, "cpu")
    assert wide.dtypes == [("tags", "map<string,string>"),
                           (proto.TIME_INDEX, "timestamp")]
    assert wide.count() == 0


def test_influx_pivot_field_columns_sorted(spark):
    """Field columns are strings in byte order of their keys, as Spark
    orders discovered pivot values."""
    wide = _pivot(spark, ["cpu,h=a x=1 1", "cpu,h=b y=2i,é=t 2",
                          'cpu,h=b Z="s",a=1u 2'], "cpu")
    assert wide.columns == ["tags", proto.TIME_INDEX, "Z", "a", "x", "y", "é"]
    assert {t for _c, t in wide.dtypes[2:]} == {"string"}
    got = {r["tags"]["h"]: r.asDict() for r in wide.collect()}
    assert got["b"]["Z"] == "s" and got["b"]["a"] == "1"
    assert got["b"]["é"] == "true" and got["a"]["x"] == "1.0"


def test_influx_pivot_value_limit(spark):
    """More distinct field keys than spark.sql.pivotMaxValues raise, with
    the limit named; at the limit the batch pivots."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.pivotMaxValues"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        with pytest.raises(AnalysisException, match="more than 3 distinct"):
            _pivot(spark, ["cpu,h=a w=1,x=2,y=3,z=4 1"], "cpu")
        assert _pivot(spark, ["cpu,h=a x=2,y=3,z=4 1"], "cpu").columns == [
            "tags", proto.TIME_INDEX, "x", "y", "z"]
    finally:
        spark.conf.set(key, old)


def test_influx_pivot_parses_once(spark):
    """The pivoted frame reads the materialized parse: running it, as the
    write does, starts no Python parse worker."""
    wide = _pivot(spark, ["cpu,h=a x=1 1", "cpu,h=b x=2 2"], "cpu")
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan


def test_influx_ingest_releases_materialized_rows(spark, tmp_path):
    """Five parse -> pivot -> insert batches in one session leave at most
    one materialized parse cached once both sides collect garbage, and no
    temp view."""
    import gc
    import time

    from pyspark.sql import functions as F

    from greptimedb_spark.catalog import Catalog, TableMeta

    sc = spark.sparkContext

    def cached():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    def views():
        return sum(t.isTemporary for t in spark.catalog.listTables())

    before_rdds, before_views = cached(), views()
    cat = Catalog(spark, str(tmp_path))
    cat.create_table(TableMeta(name="cpu", time_index="ts", tags=["host"]))
    batches = []
    for b in range(5):
        batches.append(_pivot(spark, [
            f"cpu,host=h{i % 7} usage={i}.5,idle={b}i "
            f"{(1704067200 + b * 300 + i) * 10**9}" for i in range(200)],
            "cpu"))
        cat.insert("cpu", batches[-1].select(
            F.col(proto.TIME_INDEX).alias("ts"),
            F.col("tags")["host"].alias("host"),
            F.col("usage").cast("double").alias("usage"),
            F.col("idle").cast("long").alias("idle")))
    # one materialized parse per batch, held while its frame is referenced
    assert len(cached() - before_rdds) == 5
    del batches
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        sc._jvm.System.gc()
        left = cached() - before_rdds
        if len(left) <= 1 or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert len(left) <= 1, left
    assert views() == before_views
    assert cat.read("cpu").count() == 5 * 200


def test_opentsdb_put(spark):
    df = spark.createDataFrame([Row(line=l) for l in [
        "put sys.cpu.user 1663840496 42.5 host=web01 dc=lax",
        "put sys.cpu.user 1663840496123 7 host=web02",       # 13 digits → ms
        "get sys.cpu.user 1 2",                              # wrong command
        "put sys.cpu.user notanumber 1 host=a",              # bad ts
        "put sys.cpu.user 1663840496 NOPE host=a",           # bad value
        "put sys.cpu.user 1663840496 1 host=a host=b",       # duplicate tag
        "put m 1",                                           # not enough args
    ]])
    rows = proto.parse_opentsdb_puts(df).collect()
    ok = [r for r in rows if r["err"] is None]
    assert len(ok) == 2
    a, b = sorted(ok, key=lambda r: r[proto.VALUE_COL])
    assert b[proto.VALUE_COL] == 42.5 and b["tags"] == {"host": "web01", "dc": "lax"}
    # seconds → ms conversion: both land at the same second
    assert a[proto.TIME_INDEX].second == b[proto.TIME_INDEX].second
    errs = {r["err"] for r in rows if r["err"] is not None}
    assert "unknown command get." in errs
    assert "put: invalid timestamp: notanumber" in errs
    assert "put: invalid value: NOPE" in errs
    assert "put: illegal argument: duplicate tag" in errs
    assert "put: illegal argument: not enough arguments (need least 4, got 3)" in errs


def test_opentsdb_ts_digit_count_from_value(spark):
    # seconds/ms classification uses the PARSED value's digit count
    # (codec.rs:175-183): leading zeros or '+' must not flip it to ms
    df = spark.createDataFrame([Row(line=l) for l in [
        "put m 0001663840496 1 host=a",   # 13 raw chars but 10 digits → s
        "put m +1663840496 2 host=a",     # sign prefix → still seconds
        "put m 1663840496123 3 host=a",   # 13 digits → ms
    ]])
    rows = {r[proto.VALUE_COL]: r for r in proto.parse_opentsdb_puts(df).collect()}
    assert all(r["err"] is None for r in rows.values())
    assert rows[1.0][proto.TIME_INDEX] == rows[2.0][proto.TIME_INDEX]
    assert rows[3.0][proto.TIME_INDEX].second == rows[1.0][proto.TIME_INDEX].second


def test_influx_roundtrip_events(spark, sf_dir):
    """format events as line protocol inside Spark, parse back, and compare
    an aggregate against the direct path — parse ∘ format = identity."""
    from pyspark.sql import functions as F

    from greptimedb_spark.queries import read

    e = read(spark, sf_dir, "events").limit(200)
    lines = e.select(F.format_string(
        "events,event_type=%s value=%s,user_id=%si %d",
        "event_type", F.col("value").cast("string"), "user_id",
        F.unix_micros("ts") * 1000).alias("line"))
    parsed = proto.parse_influx_lines(lines)
    assert parsed.filter(F.col("err").isNotNull()).count() == 0
    got = (parsed.filter(F.col("field_key") == "value")
           .groupBy(F.col("tags")["event_type"].alias("t"))
           .agg(F.sum(F.col("v_f64").cast("decimal(18,2)")).alias("s"),
                F.count("*").alias("c")))
    want = e.groupBy(F.col("event_type").alias("t")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("c"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_loki_push(spark):
    good = ('{"streams":[{"stream":{"app":"web","env":"prod"},'
            '"values":[["1663840496000000000","first line"],'
            '["1663840497000000000","second line"]]},'
            '{"stream":{"app":"db"},"values":[["1663840498000000000","third"]]}]}')
    df = spark.createDataFrame([Row(payload=good), Row(payload="{nope"),
                                Row(payload='{"streams":[{"stream":{"a":"b"},'
                                            '"values":[["xyz","bad ts"]]}]}')])
    rows = proto.parse_loki_push(df).collect()
    ok = sorted((r for r in rows if r["err"] is None), key=lambda r: r["line"])
    assert [r["line"] for r in ok] == ["first line", "second line", "third"]
    assert ok[0]["labels"] == {"app": "web", "env": "prod"}
    assert ok[2]["labels"] == {"app": "db"}
    assert ok[0][proto.TIME_INDEX].year == 2022
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 2
    assert any("invalid loki push payload" in e for e in errs)
    assert any("invalid loki timestamp: xyz" in e for e in errs)


def test_loki_null_timestamp_quarantined(spark):
    """A null timestamp and a null value pair are quarantined into ``err``,
    never stored as a row with a NULL time index."""
    df = spark.createDataFrame([Row(payload=(
        '{"streams":[{"stream":{"a":"b"},'
        '"values":[[null,"no ts"],null,["1663840496000000000","ok"]]}]}'))])
    rows = proto.parse_loki_push(df).collect()
    assert [r["line"] for r in rows if r["err"] is None] == ["ok"]
    assert all(r[proto.TIME_INDEX] is not None
               for r in rows if r["err"] is None)
    assert [r["err"] for r in rows if r["err"] is not None] == [
        "invalid loki timestamp: null"] * 2


_OTLP_ALL_KINDS = (
    '{"resourceMetrics":[{"resource":{"attributes":[{"key":"host",'
    '"value":{"stringValue":"h"}}]},"scopeMetrics":[{"metrics":['
    '{"name":"g","gauge":{"dataPoints":[{"timeUnixNano":"1663840496000000000",'
    '"asDouble":12.5}]}},'
    '{"name":"s","sum":{"dataPoints":[{"timeUnixNano":"1663840497000000000",'
    '"asInt":"42"}]}},'
    '{"name":"h","histogram":{"dataPoints":[{"timeUnixNano":"1663840497000000000",'
    '"count":"3","sum":6.0,"bucketCounts":["1","2"],"explicitBounds":[1.0]}]}},'
    '{"name":"q","summary":{"dataPoints":[{"timeUnixNano":"1663840497000000000",'
    '"count":"2","sum":3.0,"quantileValues":[{"quantile":0.5,"value":1.5}]}]}}'
    ']}]}]}')


def _mutated(text: str) -> list[str]:
    """``text`` truncated at every position, with one '=' or ':' deleted,
    and with each number swapped for a word."""
    return ([text[:p] for p in range(len(text))]
            + [text[:p] + text[p + 1:] for p, c in enumerate(text) if c in "=:"]
            + [text[:m.start()] + "nine" + text[m.end():]
               for m in re.finditer(r"\d+(?:\.\d+)?", text)])


@pytest.mark.parametrize("parse, col, inputs, parsed", [
    (proto.parse_opentsdb_puts, "line",
     ["put sys.cpu.user 1663840496 42.5 host=web01 dc=lax",
      "put m 1663840496123 -7 a=b"], [proto.TIME_INDEX]),
    (proto.parse_loki_push, "payload",
     ['{"streams":[{"stream":{"app":"web"},"values":[["1663840496000000000",'
      '"first line"]]},{"stream":{"app":"db"},"values":[["1663840498000000000",'
      '"third"]]}]}'], [proto.TIME_INDEX]),
    (proto.parse_otlp_metrics_json, "payload", [_OTLP_ALL_KINDS],
     [proto.TIME_INDEX]),
    (proto.parse_elasticsearch_bulk, "payload",
     ['{"create":{"_index":"logs"}}\n{"msg":"hello","n":1}\n'
      '{"index":{"_index":"m2"}}\n{"msg":"world"}'], ["table", "document"]),
    (proto.parse_otlp_logs_json, "payload",
     ['{"resourceLogs":[{"resource":{"attributes":[{"key":"host",'
      '"value":{"stringValue":"h"}}]},"scopeLogs":[{"logRecords":['
      '{"timeUnixNano":"1663840496000000000","severityNumber":9,'
      '"body":{"stringValue":"hello 1"}}]}]}]}'], ["timestamp", "body"]),
    (proto.parse_otlp_traces_json, "payload",
     ['{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name",'
      '"value":{"stringValue":"svc"}}]},"scopeSpans":[{"spans":['
      '{"traceId":"0af7","spanId":"b7ad","name":"GET",'
      '"startTimeUnixNano":"1663840496000000000",'
      '"endTimeUnixNano":"1663840496250000000"}]}]}]}'],
     ["timestamp", "span_name"]),
    (proto.parse_splunk_hec, "payload",
     ['{"event":"plain text","time":1447828325,"index":"main"}'
      '{"event":{"m":1},"fields":{"r":"e"},"host":"web"}'],
     ["table", "event"]),
], ids=["opentsdb", "loki", "otlp_metrics", "elasticsearch_bulk", "otlp_logs",
        "otlp_traces", "splunk_hec"])
def test_column_algebra_parsers_quarantine_mutated_input(spark, parse, col,
                                                         inputs, parsed):
    """Every mutation of a well-formed input, parsed in one job: no row
    raises, and every row either parses (no ``err``, its ``parsed`` columns
    set) or is quarantined (``err`` set, every other column NULL)."""
    df = spark.createDataFrame([(m,) for t in inputs for m in _mutated(t)],
                               f"{col} string")
    rows = [r.asDict() for r in parse(df).collect()]
    assert any(r["err"] is None for r in rows)
    assert any(r["err"] is not None for r in rows)
    for r in rows:
        if r["err"] is None:
            assert all(r[k] is not None for k in parsed), r
        else:
            assert all(v is None for k, v in r.items() if k != "err"), r


def test_elasticsearch_bulk(spark):
    body = ('{"create":{"_index":"logs"}}\n'
            '{"msg":"hello","level":"info"}\n'
            '{"index":{"_index":"metrics","_id":"7"}}\n'
            '{"msg":"world"}\n'
            '{"create":{}}\n'
            '{"msg":"no index"}\n'
            '{"delete":{"_index":"logs"}}\n'
            '{"msg":"bad op"}\n'
            '{"create":{"_index":"dangling"}}')
    df = spark.createDataFrame([Row(payload=body)])
    rows = proto.parse_elasticsearch_bulk(df).collect()
    assert len(rows) == 4  # dangling trailing command dropped like the reference
    ok = {r["table"]: r["document"] for r in rows if r["err"] is None}
    assert set(ok) == {"logs", "metrics"}
    assert '"hello"' in ok["logs"]
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert any("missing index in bulk request" in e for e in errs)
    assert any("expected 'create' or 'index'" in e for e in errs)
    # default_index fills missing _index; msg_field projects one field
    rows2 = proto.parse_elasticsearch_bulk(
        df, default_index="fallback", msg_field="msg").collect()
    ok2 = {r["table"]: r["document"] for r in rows2 if r["err"] is None}
    assert ok2["fallback"] == "no index" and ok2["logs"] == "hello"


def test_otlp_metrics_json(spark):
    good = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"app"}},'
        '{"key":"host","value":{"stringValue":"res-host"}}]},'
        '"scopeMetrics":[{"metrics":['
        '{"name":"JVM.Memory-Free","gauge":{"dataPoints":['
        '{"timeUnixNano":"1663840496000000000","asDouble":12.5,'
        '"attributes":[{"key":"host","value":{"stringValue":"dp-host"}}]}]}},'
        '{"name":"requests.total","sum":{"isMonotonic":true,"dataPoints":['
        '{"timeUnixNano":"1663840497000000000","asInt":"42"}]}}'
        ']}]}]}'
    )
    df = spark.createDataFrame([Row(payload=good), Row(payload="still not json")])
    rows = proto.parse_otlp_metrics_json(df).collect()
    ok = {r["table"]: r for r in rows if r["err"] is None}
    # legacy name normalization: lowercase, ./- -> _
    assert set(ok) == {"jvm_memory_free", "requests_total"}
    g = ok["jvm_memory_free"]
    assert g["metric_type"] == "gauge" and g[proto.VALUE_COL] == 12.5
    # data-point attribute wins over the resource attribute on key collision
    assert g["tags"] == {"service.name": "app", "host": "dp-host"}
    assert g[proto.TIME_INDEX].year == 2022
    s = ok["requests_total"]
    assert s["metric_type"] == "sum" and s[proto.VALUE_COL] == 42.0  # f64 coercion
    assert s["tags"] == {"service.name": "app", "host": "res-host"}
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 1 and "invalid otlp metrics payload" in errs[0]


def test_otlp_logs_json(spark):
    good = (
        '{"resourceLogs":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"app"}}]},'
        '"scopeLogs":[{"scope":{"name":"lib","version":"1.0"},"logRecords":['
        '{"timeUnixNano":"1663840496000000000","severityNumber":9,'
        '"severityText":"INFO","body":{"stringValue":"hello log"},'
        '"attributes":[{"key":"k","value":{"stringValue":"v"}}],'
        '"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331"},'
        '{"timeUnixNano":"0","observedTimeUnixNano":"1663840497000000000",'
        '"body":{"stringValue":"fallback ts"}}'
        ']}]}]}'
    )
    df = spark.createDataFrame([Row(payload=good), Row(payload="[oops")])
    rows = proto.parse_otlp_logs_json(df).collect()
    ok = sorted((r for r in rows if r["err"] is None), key=lambda r: r["body"])
    assert [r["body"] for r in ok] == ["fallback ts", "hello log"]
    h = ok[1]
    assert h["severity_text"] == "INFO" and h["severity_number"] == 9
    assert h["scope_name"] == "lib"
    assert h["trace_id"].startswith("0af76519")
    assert h["log_attributes"] == '{"k":"v"}'
    assert h["resource_attributes"] == '{"service.name":"app"}'
    assert h["timestamp"].year == 2022
    # zero timeUnixNano falls back to observedTimeUnixNano (...497 -> :57)
    assert ok[0]["timestamp"].second == 57
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 1 and "invalid otlp logs payload" in errs[0]


def test_influx_streaming_ingest(spark, tmp_path):
    """The codec composes with Structured Streaming: text-file stream ->
    parse_influx_lines (column expressions, plus the Python UDF that words
    the malformed line) -> parquet sink.
    This is the continuous-ingest shape the reference's /influxdb/write
    endpoint feeds; one availableNow micro-batch keeps it deterministic."""
    src = tmp_path / "lines"
    src.mkdir()
    (src / "batch0.txt").write_text(
        "monitor1,host=host1 cpu=66.6,memory=1024 1663840496100023100\n"
        "monitor1,host=host2 memory=1027 1663840496400340001\n"
        "this is not line protocol\n"
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.format("text").load(str(src))
    parsed = proto.parse_influx_lines(stream, line_col="value")
    q = (parsed.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    ok = [r for r in rows if r["err"] is None]
    errs = [r for r in rows if r["err"] is not None]
    assert len(ok) == 3 and len(errs) == 1
    assert {r["field_key"] for r in ok} == {"cpu", "memory"}
    assert errs[0]["err"] == proto._parse_influx_line(
        "this is not line protocol", "ns")[0][-1]


def test_splunk_hec_streaming_ingest(spark, tmp_path):
    """parse_splunk_hec composes with Structured Streaming (mapInPandas on
    a readStream), mirroring the reference's continuous HEC ingest."""
    src = tmp_path / "hec"
    src.mkdir()
    (src / "b0.txt").write_text(
        '{"event":"a","time":1663840496,"index":"main"}'
        '{"event":"b","time":1663840497,"host":"h1"}\n'
        '{"oops":1}\n'
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.format("text").load(str(src))
    parsed = proto.parse_splunk_hec(stream, payload_col="value")
    q = (parsed.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    ok = sorted((r for r in rows if r["err"] is None), key=lambda r: r["event"])
    assert [r["event"] for r in ok] == ["a", "b"]
    assert ok[0]["table"] == "main" and ok[1]["tags"] == {"host": "h1"}
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert errs == ["hec code 12: Event field is required"]


def test_prom_remote_write(spark):
    """Decode path pinned two ways: a hand-assembled wire-format byte vector
    (independent of our encoder) and the encoder dual; then the Spark
    mapInPandas surface over a binary payload column."""
    import struct

    import pyarrow as pa

    # hand-built WriteRequest: one series, __name__=m, one sample (1.0, ts=5)
    label = b"\x0a\x08__name__\x12\x01m"                     # Label message
    ts_body = b"\x0a" + bytes([len(label)]) + label          # TimeSeries.labels
    sample = b"\x09" + struct.pack("<d", 1.0) + b"\x10\x05"  # Sample message
    ts_body += b"\x12" + bytes([len(sample)]) + sample       # TimeSeries.samples
    wire = b"\x0a" + bytes([len(ts_body)]) + ts_body         # WriteRequest
    payload = bytes(pa.Codec("snappy").compress(wire))
    assert proto.decode_write_request(payload) == [({"__name__": "m"}, [(1.0, 5)])]

    # encoder dual round-trip incl. negative value and multiple series
    series = [({"__name__": "cpu", "host": "h1"},
               [(1.5, 1663840496000), (2.5, 1663840497000)]),
              ({"__name__": "mem", "dc": "lax"}, [(-3.25, 1000)])]
    assert proto.decode_write_request(proto.encode_write_request(series)) == series

    # Spark surface: binary column -> typed rows; garbage -> err row
    df = spark.createDataFrame(
        [Row(payload=bytearray(proto.encode_write_request(series))),
         Row(payload=bytearray(b"not snappy at all"))],
        "payload binary")
    rows = proto.parse_prom_remote_write(df).collect()
    ok = sorted((r for r in rows if r["err"] is None),
                key=lambda r: (r["table"], r[proto.TIME_INDEX]))
    assert [(r["table"], r["tags"], r[proto.VALUE_COL]) for r in ok] == [
        ("cpu", {"host": "h1"}, 1.5), ("cpu", {"host": "h1"}, 2.5),
        ("mem", {"dc": "lax"}, -3.25)]
    assert ok[0][proto.TIME_INDEX].year == 2022
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 1 and "invalid remote write payload" in errs[0]


def test_splunk_hec_event(spark):
    """HEC /services/collector/event parity with splunk.rs test vectors:
    batch forms (no separator / newline / array), metadata extraction,
    index routing + sanitization, time parsing, validation codes."""
    # Vector-sink shape: NO separator, event is an object, fields present
    vector = (
        '{"event":{"message":"GET /api 200","status":"200"},'
        '"fields":{"region":"us-east"},"time":1781713834.069,'
        '"host":"web-01","index":"main","source":"vector-src"}'
        '{"event":"plain text","time":1447828325000,"index":"web/prod"}'
    )
    bad_batch = '{"event":"a"}{bad}'
    invalid_events = ('{"host":"h"}\n{"event":""}\n{"event":null}\n'
                      '{"event":"x","time":"not-a-time"}\n'
                      '{"event":"ok","sourcetype":"st"}')
    df = spark.createDataFrame([Row(payload=p) for p in [
        vector, bad_batch, invalid_events, "   "]])
    rows = proto.parse_splunk_hec(df).collect()
    ok = sorted((r for r in rows if r["err"] is None), key=lambda r: r["event"])
    assert len(ok) == 3
    v = [r for r in ok if r["event"].startswith("{")][0]
    assert v["table"] == "main"
    assert v["tags"] == {"region": "us-east", "host": "web-01",
                         "source": "vector-src"}
    assert v["event"] == '{"message":"GET /api 200","status":"200"}'
    # fractional seconds keep sub-second precision
    assert v[proto.TIME_INDEX].microsecond == 69000
    p = [r for r in ok if r["event"] == "plain text"][0]
    assert p["table"] == "web_prod"            # sanitized index
    assert p[proto.TIME_INDEX].year == 2015    # >=1e12 read as epoch ms
    o = [r for r in ok if r["event"] == "ok"][0]
    assert o["table"] == "splunk_logs" and o[proto.TIME_INDEX] is None
    assert o["tags"] == {"sourcetype": "st"}
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert "hec code 6: invalid data format" in errs       # malformed batch
    assert "hec code 12: Event field is required" in errs
    assert errs.count("hec code 13: Event field cannot be blank") == 2
    assert "hec code 5: No data" in errs                   # blank payload
    # ?table= fallback + extra keys preserved as json
    rows2 = proto.parse_splunk_hec(
        spark.createDataFrame([Row(payload='{"event":"x","custom":42}')]),
        default_table="from_query").collect()
    assert rows2[0]["table"] == "from_query"
    assert rows2[0]["extra"] == '{"custom":42}'


def test_splunk_hec_raw(spark):
    """/services/collector/raw: whole body is ONE event unless an explicit
    linebreaker splits it; request-level metadata tags every event."""
    stack = ("java.lang.NullPointerException: boom\n"
             "\tat com.example.Foo.bar(Foo.java:42)")
    df = spark.createDataFrame([Row(payload=stack)])
    one = proto.parse_splunk_raw(
        df, host="web-01", sourcetype="access_log", time="1447828325").collect()
    assert len(one) == 1 and one[0]["message"] == stack
    assert one[0]["table"] == "splunk_logs"
    assert one[0]["tags"] == {"host": "web-01", "sourcetype": "access_log"}
    assert one[0][proto.TIME_INDEX].year == 2015
    # linebreaker splits, whitespace-only segments dropped, indent kept
    df2 = spark.createDataFrame([Row(payload="line one\n   \n  indented frame")])
    split = proto.parse_splunk_raw(df2, linebreaker="\n", index="my index/v2")
    got = [r["message"] for r in split.collect()]
    assert got == ["line one", "  indented frame"]
    assert split.first()["table"] == "my_index_v2"
    # multi-char literal delimiter (not a regex)
    df3 = spark.createDataFrame([Row(payload="a::b::c")])
    assert [r["message"] for r in
            proto.parse_splunk_raw(df3, linebreaker="::").collect()] == \
        ["a", "b", "c"]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        proto.parse_splunk_raw(df, time="not-a-time")


def test_splunk_sanitize_index():
    s = proto._splunk_sanitize_index
    assert s("main") == "main"
    assert s("web-prod.2024") == "web-prod.2024"
    assert s("cpu:metrics") == "cpu:metrics"
    assert s("my index/v2") == "my_index_v2"
    assert s("123logs") == "_123logs"
    assert s("") is None and s("   ") is None
    # invariant: non-empty input -> always a valid table name
    for raw in ["@#@#", "...", "日本語 logs", "a/b\\c", "123"]:
        out = s(raw)
        assert out is None or proto._SPLUNK_NAME_RE.match(out), (raw, out)


def test_otlp_traces_json(spark):
    good = (
        '{"resourceSpans":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"checkout"}}]},'
        '"scopeSpans":[{"scope":{"name":"lib"},"spans":['
        '{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b71",'
        '"parentSpanId":"00f067aa","name":"GET /cart","kind":"SPAN_KIND_SERVER",'
        '"startTimeUnixNano":"1663840496000000000",'
        '"endTimeUnixNano":"1663840496250000000",'
        '"attributes":[{"key":"http.method","value":{"stringValue":"GET"}}],'
        '"status":{"code":"STATUS_CODE_OK"}},'
        '{"spanId":"deadbeef","name":"orphan","startTimeUnixNano":"1663840497000000000"}'
        ']}]}]}'
    )
    df = spark.createDataFrame([Row(payload=good), Row(payload="<xml/>")])
    rows = proto.parse_otlp_traces_json(df).collect()
    ok = sorted((r for r in rows if r["err"] is None), key=lambda r: r["span_name"])
    assert [r["span_name"] for r in ok] == ["GET /cart", "orphan"]
    g = ok[0]
    assert g["duration_nano"] == 250_000_000
    assert g["span_kind"] == "SPAN_KIND_SERVER"
    assert g["span_status_code"] == "STATUS_CODE_OK"
    assert g["service_name"] == "checkout"
    assert g["span_attributes"] == '{"http.method":"GET"}'
    assert g["timestamp"].year == 2022 and g["timestamp_end"].microsecond == 250000
    # defaults: kind/status unset
    o = ok[1]
    assert o["span_kind"] == "SPAN_KIND_UNSPECIFIED"
    assert o["span_status_code"] == "STATUS_CODE_UNSET"
    errs = [r["err"] for r in rows if r["err"] is not None]
    assert len(errs) == 1 and "invalid otlp traces payload" in errs[0]


def test_prom_remote_write_v2(spark):
    """v2 (io.prometheus.write.v2.Request) decode: hand-assembled wire
    vector with a symbol table + packed labels_refs, the encoder dual
    (snappy AND zstd), the reference's validation errors, and the Spark
    mapInPandas surface."""
    import struct

    import pyarrow as pa

    # hand-built Request: symbols ["", "__name__", "m", "host", "h1"],
    # one series labels_refs=[1,2,3,4] (packed), one sample (1.0, ts=5)
    msg = b""
    for s in (b"", b"__name__", b"m", b"host", b"h1"):
        msg += b"\x22" + bytes([len(s)]) + s                 # field 4 LD
    refs = b"\x0a\x04\x01\x02\x03\x04"                       # field 1 packed
    sample = b"\x09" + struct.pack("<d", 1.0) + b"\x10\x05"  # Sample
    ts_body = refs + b"\x12" + bytes([len(sample)]) + sample
    msg += b"\x2a" + bytes([len(ts_body)]) + ts_body         # field 5 LD
    payload = bytes(pa.Codec("snappy").compress(msg))
    assert proto.decode_write_request_v2(payload) == [
        ({"__name__": "m", "host": "h1"}, [(1.0, 5)])]

    # content-type negotiation (http/prom_store.rs remote_write_proto)
    assert proto.remote_write_proto(
        "application/x-protobuf;proto=io.prometheus.write.v2.Request") == "v2"
    assert proto.remote_write_proto(
        'application/x-protobuf; proto="io.prometheus.write.v2.Request"') == "v2"
    assert proto.remote_write_proto("application/x-protobuf") == "v1"
    assert proto.remote_write_proto(None) == "v1"

    # encoder dual round-trip, snappy and zstd (incl. zstd frame-size path)
    series = [({"__name__": "cpu", "host": "h1"},
               [(1.5, 1663840496000), (2.5, 1663840497000)]),
              ({"__name__": "mem", "dc": "lax"}, [(-3.25, 1000)])]
    assert proto.decode_write_request_v2(
        proto.encode_write_request_v2(series)) == series
    assert proto.decode_write_request_v2(
        proto.encode_write_request_v2(series, zstd=True), zstd=True) == series
    # mismatched-header fallback (VictoriaMetrics behavior in the reference)
    assert proto.decode_write_request_v2(
        proto.encode_write_request_v2(series, zstd=True), zstd=False) == series

    # validation errors mirror v2.rs resolve_series_labels
    import pytest as _pytest

    def enc_raw(symbols, ts_bodies):
        m = b""
        for s in symbols:
            m += b"\x22" + bytes([len(s)]) + s
        for b in ts_bodies:
            m += b"\x2a" + bytes([len(b)]) + b
        return bytes(pa.Codec("snappy").compress(m))

    with _pytest.raises(ValueError, match="empty string"):
        proto.decode_write_request_v2(enc_raw(
            [b"x"], [refs + b"\x12" + bytes([len(sample)]) + sample]))
    with _pytest.raises(ValueError, match="name/value pairs"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"__name__", b"m"],
            [b"\x0a\x03\x01\x02\x01"
             + b"\x12" + bytes([len(sample)]) + sample]))
    with _pytest.raises(ValueError, match="out of range"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"__name__"],
            [b"\x0a\x02\x01\x09" + b"\x12" + bytes([len(sample)]) + sample]))
    with _pytest.raises(ValueError, match="repeated"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"__name__", b"m", b"n"],
            [b"\x0a\x04\x01\x02\x01\x03"
             + b"\x12" + bytes([len(sample)]) + sample]))
    with _pytest.raises(ValueError, match="missing '__name__'"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"host", b"h1"],
            [b"\x0a\x02\x01\x02" + b"\x12" + bytes([len(sample)]) + sample]))
    with _pytest.raises(ValueError, match="must not be empty"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"__name__"],
            [b"\x0a\x02\x01\x00" + b"\x12" + bytes([len(sample)]) + sample]))
    # native histogram payload rejected (experimental gate, prom_store.rs:241)
    with _pytest.raises(ValueError, match="native histogram"):
        proto.decode_write_request_v2(enc_raw(
            [b"", b"__name__", b"m"],
            [b"\x0a\x02\x01\x02" + b"\x2a\x02\x08\x01"]))
    # sample-less series skipped, not errored (into_write_requests continue)
    assert proto.decode_write_request_v2(enc_raw(
        [b"", b"__name__", b"m"], [b"\x0a\x02\x01\x02"])) == []

    # Spark surface: binary column -> typed rows; garbage -> err row
    df = spark.createDataFrame(
        [Row(payload=bytearray(proto.encode_write_request_v2(series))),
         Row(payload=bytearray(b"neither snappy nor zstd"))],
        "payload binary")
    rows = proto.parse_prom_remote_write_v2(df).collect()
    ok = sorted((r for r in rows if r["err"] is None),
                key=lambda r: (r["table"], r[proto.TIME_INDEX]))
    assert [(r["table"], r["tags"], r[proto.VALUE_COL]) for r in ok] == [
        ("cpu", {"host": "h1"}, 1.5), ("cpu", {"host": "h1"}, 2.5),
        ("mem", {"dc": "lax"}, -3.25)]
    assert len([r for r in rows if r["err"] is not None]) == 1


def test_otlp_histogram_summary_shredding(spark):
    """OTLP histogram/summary points fan into the reference's semantic
    tables (metrics.rs encode_histogram:613 / encode_summary:717):
    {name}_bucket carries CUMULATIVE counts under `le` (explicit bound,
    then 'inf' for the one-past-last bucket), plus _sum/_count rows;
    summaries emit a quantile-tagged row per quantileValue + _count/_sum.
    f64 tag cells use Rust Display ('1', not '1.0')."""
    import json

    payload = json.dumps({"resourceMetrics": [{
        "resource": {"attributes": [
            {"key": "host", "value": {"stringValue": "h1"}}]},
        "scopeMetrics": [{"metrics": [
            {"name": "req.latency",
             "histogram": {"dataPoints": [{
                 "timeUnixNano": "1700000000000000000",
                 "count": "6", "sum": 21.5,
                 "bucketCounts": ["1", "2", "3"],
                 "explicitBounds": [0.1, 1],
                 "attributes": [
                     {"key": "path", "value": {"stringValue": "/a"}}]}]}},
            {"name": "rpc.duration",
             "summary": {"dataPoints": [{
                 "timeUnixNano": "1700000000000000000",
                 "count": "4", "sum": 10.0,
                 "quantileValues": [{"quantile": 0.5, "value": 1.5},
                                    {"quantile": 1, "value": 3.0}]}]}},
        ]}]}]})
    rows = proto.parse_otlp_metrics_json(
        spark.createDataFrame([(payload,)], "payload string")).collect()
    got = {(r.table, tuple(sorted((r.tags or {}).items()))):
           (r[proto.VALUE_COL], r.metric_type) for r in rows}
    h = (("host", "h1"), ("path", "/a"))
    assert got[("req_latency_bucket", tuple(sorted(h + (("le", "0.1"),))))] \
        == (1.0, "histogram")
    assert got[("req_latency_bucket", tuple(sorted(h + (("le", "1"),))))] \
        == (3.0, "histogram")   # cumulative: 1 + 2
    assert got[("req_latency_bucket", tuple(sorted(h + (("le", "inf"),))))] \
        == (6.0, "histogram")   # 1 + 2 + 3
    assert got[("req_latency_sum", tuple(sorted(h)))] == (21.5, "histogram")
    assert got[("req_latency_count", tuple(sorted(h)))] == (6.0, "histogram")
    assert got[("rpc_duration",
                (("host", "h1"), ("quantile", "0.5")))] == (1.5, "summary")
    assert got[("rpc_duration",
                (("host", "h1"), ("quantile", "1")))] == (3.0, "summary")
    assert got[("rpc_duration_count", (("host", "h1"),))] == (4.0, "summary")
    assert got[("rpc_duration_sum", (("host", "h1"),))] == (10.0, "summary")
    # all timestamps land on the ns-derived index
    assert all(r[proto.TIME_INDEX].year == 2023 for r in rows)
    # gauge/sum number points still parse alongside (shared route)
    assert len(rows) == 9


def test_otlp_histogram_64_buckets(spark):
    """A 64-bucket point: each {name}_bucket row holds the running count up
    to its bucket, under its explicit bound (then 'inf')."""
    import json

    counts = [(7 * i + 3) % 11 for i in range(64)]
    bounds = [float(i + 1) for i in range(63)]
    payload = json.dumps({"resourceMetrics": [{"scopeMetrics": [{"metrics": [
        {"name": "lat", "histogram": {"dataPoints": [{
            "timeUnixNano": "1700000000000000000",
            "count": str(sum(counts)), "sum": 1.0,
            "bucketCounts": [str(c) for c in counts],
            "explicitBounds": bounds}]}}]}]}]})
    rows = proto.parse_otlp_metrics_json(
        spark.createDataFrame([(payload,)], "payload string")).collect()
    got = {r.tags["le"]: r[proto.VALUE_COL]
           for r in rows if r.table == "lat_bucket"}
    want, running = {}, 0
    for i, c in enumerate(counts):
        running += c
        want[str(i + 1) if i < 63 else "inf"] = float(running)
    assert got == want
    assert got["3"] == 3 + 10 + 6 and got["inf"] == sum(counts)
