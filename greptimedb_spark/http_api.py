"""HTTP API response codecs: the reference's wire-JSON result shapes.

The reference serves query results over HTTP in two primary JSON envelopes:

- GreptimedbV1 (``/v1/sql``): ``{"output": [{"records": {"schema":
  {"column_schemas": [{"name", "data_type"}]}, "rows": [[...]],
  "total_rows": N}}], "execution_time_ms": T}`` — struct shapes from
  src/servers/src/http.rs:284-336 (ColumnSchema/OutputSchema/
  HttpRecordsOutput) and http/result/greptime_result_v1.rs:30; DDL/DML
  statements render as ``{"affectedrows": N}`` (GreptimeQueryOutput,
  http.rs:388-392, serde lowercase).
- Prometheus (``/v1/prometheus/api/v1/query_range``): ``{"status":
  "success", "data": {"resultType": "matrix"|"vector", "result": [...]}}``
  with per-series ``{"metric": {...}, "values": [[ts, "v"], ...]}`` —
  http/prometheus.rs:82-137 (PromSeriesVector/PromSeriesMatrix/PromData).

The HTTP server itself is out of scope (wire servers, SURVEY §2.1); these
codecs are the last mile so an API consumer of the reference can read this
engine's results unchanged. Rendering a response necessarily materializes
it on the driver — apply LIMIT before formatting, exactly as the
reference's `with_limit` does (greptime_result_v1.rs:66-69).
"""

from __future__ import annotations

import base64
import calendar
import math
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from greptimedb_spark.datatypes import wire_name

# Spark type -> the reference's ConcreteDataType display name. Spark
# timestamps are µs-resolution, so the honest column type is
# TimestampMicrosecond (values below are emitted as epoch-µs integers,
# matching the reference's convention of raw integers in the column's own
# unit — its ms columns show epoch-ms ints in http.rs test goldens).


def greptime_type_name(dt: T.DataType) -> str:
    """Reference type name for a Spark type (Json for nested types the
    reference would shred or store as JSON)."""
    if isinstance(dt, T.ArrayType):
        return f"List<{greptime_type_name(dt.elementType)}>"
    if isinstance(dt, (T.MapType, T.StructType)):
        return "Json"
    return wire_name(dt)


def _epoch_us(v: datetime, ntz: bool) -> int:
    """Exact epoch-µs for a collected Spark timestamp value. Plain
    TIMESTAMP values come off ``collect()`` as naive datetimes rendered in
    the DRIVER's local timezone (PySpark's fromInternal uses
    ``datetime.fromtimestamp``), so they are re-localized with
    ``astimezone()`` — the emitted epoch is tz-independent, matching the
    reference's raw epoch ints regardless of ``SET time_zone`` or driver
    TZ. TIMESTAMP_NTZ values are tz-free wall clocks; the reference's
    timestamps are the same, semantically UTC. Integer math (timegm +
    microsecond), never float seconds — epoch-µs exceeds 2^53 eventually."""
    if v.tzinfo is None:
        v = v.replace(tzinfo=timezone.utc) if ntz else v.astimezone()
    return calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond


def _ntz_flags(schema: T.StructType) -> list[bool]:
    """Per-column flag: is this a TIMESTAMP_NTZ (naive-means-UTC) column?
    (Plain TIMESTAMP columns collect as driver-local naive datetimes.)"""
    return [isinstance(f.dataType, T.TimestampNTZType) for f in schema.fields]


def _cell(v, ntz: bool = True):
    """One JSON cell: epoch-µs ints for timestamps, ISO strings for dates,
    strings for decimals (lossless), base64 for binary, null for
    non-finite floats (serde_json's f64 behavior)."""
    if v is None:
        return None
    if isinstance(v, datetime):
        return _epoch_us(v, ntz)
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, (list, dict)):
        return v
    return v


def sql_response(result, execution_time_ms: int = 0) -> dict:
    """GreptimedbV1 `/v1/sql` envelope for one statement's result: a
    DataFrame renders as a records output, an int as affectedrows, and
    None (DDL with no result set) as an empty output list."""
    if result is None:
        output = []
    elif isinstance(result, int):
        output = [{"affectedrows": result}]
    else:
        rows = result.collect()
        ntz = _ntz_flags(result.schema)
        output = [{
            "records": {
                "schema": {"column_schemas": [
                    {"name": f.name, "data_type": greptime_type_name(f.dataType)}
                    for f in result.schema.fields
                ]},
                "rows": [[_cell(v, z) for v, z in zip(row, ntz)]
                         for row in rows],
                "total_rows": len(rows),
            }
        }]
    return {"output": output, "execution_time_ms": int(execution_time_ms)}


def json_response(result, execution_time_ms: int = 0) -> dict:
    """`json` response format (http/result/json_result.rs:84-113): rows as
    an array of {column-name: value} objects — "intended to make it easier
    for user to consume data" than the positional GreptimedbV1 shape.
    Affected-rows statements render as {"data": [], "affected_rows": N};
    `execution_time_ms` is IN the body (unlike GreptimedbV1's sibling key
    next to "output")."""
    if result is None:
        return {"data": [], "execution_time_ms": int(execution_time_ms)}
    if isinstance(result, int):
        return {"data": [], "affected_rows": result,
                "execution_time_ms": int(execution_time_ms)}
    names = [f.name for f in result.schema.fields]
    ntz = _ntz_flags(result.schema)
    data = [{n: _cell(v, z) for n, v, z in zip(names, row, ntz)}
            for row in result.collect()]
    return {"data": data, "execution_time_ms": int(execution_time_ms)}


# StatusCode numeric values from the reference's public enum
# (src/common/error/src/status_code.rs:29-128).
STATUS_UNKNOWN = 1000
STATUS_INTERNAL = 1003
STATUS_INVALID_ARGUMENTS = 1004
STATUS_INVALID_SYNTAX = 2000
STATUS_PLAN_QUERY = 3000
STATUS_ENGINE_EXECUTE_QUERY = 3001
STATUS_TABLE_ALREADY_EXISTS = 4000
STATUS_TABLE_NOT_FOUND = 4001
STATUS_TABLE_COLUMN_NOT_FOUND = 4002
STATUS_DATABASE_NOT_FOUND = 4004

# status_code -> HTTP status, per status_code_to_http_status
# (src/servers/src/error.rs:933-977): user-errors are 400, everything
# not otherwise mapped is 500.
_HTTP_STATUS = {
    STATUS_INVALID_ARGUMENTS: 400, STATUS_INVALID_SYNTAX: 400,
    STATUS_PLAN_QUERY: 400, STATUS_TABLE_ALREADY_EXISTS: 400,
    STATUS_TABLE_NOT_FOUND: 400, STATUS_TABLE_COLUMN_NOT_FOUND: 400,
    STATUS_DATABASE_NOT_FOUND: 400,
}


def classify_error(exc: BaseException) -> int:
    """Map an engine exception to the reference StatusCode the equivalent
    failure carries on its wire (servers' snafu error chains end in these
    same buckets): parse failures -> InvalidSyntax(2000), missing relation/
    column/database -> 4001/4002/4004, engine-raised ValueErrors ->
    InvalidArguments(1004), anything else -> EngineExecuteQuery(3001)."""
    try:
        from pyspark.errors import AnalysisException, ParseException
    except ImportError:  # pragma: no cover - pyspark always present
        AnalysisException = ParseException = ()
    msg = str(exc)
    low = msg.lower()
    if isinstance(exc, ParseException) or "parseexception" in low \
            or "syntax error" in low:
        return STATUS_INVALID_SYNTAX
    if "table_or_view_not_found" in low or "table not found" in low \
            or "cannot be found" in low:
        return STATUS_TABLE_NOT_FOUND
    if "unresolved_column" in low or "column not found" in low \
            or "cannot resolve" in low:
        return STATUS_TABLE_COLUMN_NOT_FOUND
    if "schema_not_found" in low or "database not found" in low \
            or "database_not_found" in low:
        return STATUS_DATABASE_NOT_FOUND
    if "already exists" in low and "table" in low:
        return STATUS_TABLE_ALREADY_EXISTS
    if isinstance(exc, AnalysisException):
        return STATUS_PLAN_QUERY
    if isinstance(exc, (ValueError, NotImplementedError)):
        return STATUS_INVALID_ARGUMENTS
    return STATUS_ENGINE_EXECUTE_QUERY


def error_response(exc_or_msg, code: int | None = None,
                   execution_time_ms: int = 0) -> dict:
    """ErrorResponse envelope (http/result/error_result.rs:26-31):
    {"code": u32, "error": msg, "execution_time_ms": T} — the failure-path
    body every /v1/sql format falls back to. Pass an exception (the code
    is classified) or a message + explicit code."""
    if code is None:
        code = classify_error(exc_or_msg) \
            if isinstance(exc_or_msg, BaseException) else STATUS_UNKNOWN
    return {"code": int(code), "error": str(exc_or_msg),
            "execution_time_ms": int(execution_time_ms)}


def error_http_status(code: int) -> int:
    """The HTTP status the reference pairs with a StatusCode
    (error.rs:933-977; unmapped codes -> 500 INTERNAL_SERVER_ERROR)."""
    return _HTTP_STATUS.get(int(code), 500)


def _fmt_sample(v) -> str:
    """Prometheus sample-value string: Go's FormatFloat(v, 'f', -1, 64) —
    shortest decimal that round-trips, never exponent notation."""
    f = float(v)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    s = repr(f)
    if "e" in s or "E" in s:  # expand: the 'f' verb never uses exponents
        s = format(Decimal(s), "f")
    if s.endswith(".0"):
        s = s[:-2]
    return s


def prometheus_response(df: DataFrame, result_type: str = "matrix") -> dict:
    """Prometheus HTTP API envelope for a PromQLEngine.evaluate() result
    (columns: ts timestamp, *labels, value). ``matrix`` groups samples per
    labelset; ``vector`` keeps each labelset's LAST sample (an instant
    query is a one-step range query here). Values are [epoch-seconds,
    "formatted"] pairs like the reference emits."""
    label_cols = [c for c in df.columns if c not in ("ts", "value")]
    ts_ntz = isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    rows = df.collect()
    series: dict = {}
    for r in rows:
        key = tuple((c, r[c]) for c in label_cols if r[c] is not None)
        series.setdefault(key, []).append(
            (_epoch_us(r["ts"], ts_ntz) / 1_000_000,
             _fmt_sample(r["value"])))
    result = []
    for key in sorted(series, key=lambda k: sorted(k)):
        samples = sorted(series[key])
        metric = {k: v for k, v in key}
        if result_type == "matrix":
            result.append({"metric": metric, "values": [list(s) for s in samples]})
        elif result_type == "vector":
            result.append({"metric": metric, "value": list(samples[-1])})
        else:
            raise ValueError(f"unsupported resultType: {result_type}")
    return {"status": "success",
            "data": {"resultType": result_type, "result": result}}


def _json_cell_str(v, ntz: bool = True) -> str:
    """serde_json Value::to_string() semantics (table format): strings keep
    their JSON quotes, null renders as 'null'."""
    import json

    return json.dumps(_cell(v, ntz), separators=(",", ":"))


def table_response(result, execution_time_ms: int = 0) -> str:
    """ASCII `table` response format (http/result/table_result.rs:75-126):
    box-drawing header/rows/footer, column widths from max(name, cells);
    affected-rows statements render as 'N\\n'."""
    if result is None:
        return ""
    if isinstance(result, int):
        return f"{result}\n"
    names = [f.name for f in result.schema.fields]
    ntz = _ntz_flags(result.schema)
    rows = [[_json_cell_str(v, z) for v, z in zip(row, ntz)]
            for row in result.collect()]
    width = [len(n) for n in names]
    for row in rows:
        for i, s in enumerate(row):
            width[i] = max(width[i], len(s))
    out = ["┌" + "┬".join(
        "─" + n.ljust(width[i], "─") + "─" for i, n in enumerate(names)) + "┐"]
    for row in rows:
        out.append("│" + "│".join(
            " " + s.ljust(width[i]) + " " for i, s in enumerate(row)) + "│")
    out.append("└" + "┴".join("─" * (w + 2) for w in width) + "┘")
    return "\n".join(out) + "\n"


def csv_response(result, with_names: bool = False,
                 with_types: bool = False) -> str:
    """RFC-4180 `csv` response format (csv_result.rs:28-150): CRLF rows,
    optional leading names/types rows; NULL -> empty field; affected-rows
    statements render as 'N\\n'."""
    import csv
    import io

    if result is None:
        return ""
    if isinstance(result, int):
        return f"{result}\n"

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    if with_names:
        w.writerow([f.name for f in result.schema.fields])
    if with_types:
        w.writerow([greptime_type_name(f.dataType)
                    for f in result.schema.fields])

    def cell(v, ntz):
        v = _cell(v, ntz)
        if v is None:
            return ""
        if isinstance(v, (list, dict)):
            import json

            return json.dumps(v, separators=(",", ":"))
        return v

    ntz = _ntz_flags(result.schema)
    for row in result.collect():
        w.writerow([cell(v, z) for v, z in zip(row, ntz)])
    return buf.getvalue()


_EPOCH_DIVISOR_US = {"ns": None, "u": 1, "µ": 1, "us": 1,
                     "ms": 1_000, "s": 1_000_000}


def influxdb_v1_response(result, epoch: str | None = None,
                         execution_time_ms: int = 0) -> dict:
    """InfluxDB v1 `/query`-style envelope (influxdb_result_v1.rs:42-196):
    {"results": [{"statement_id": 0, "series": [{"name": "", "columns",
    "values"}]}]}. ``epoch`` renders timestamp columns as epoch ints at
    that precision ([ns, u, µ, ms, s], like the reference's SqlQuery
    param); default is ISO-8601 strings."""
    if epoch is not None and epoch not in _EPOCH_DIVISOR_US:
        raise ValueError(f"unsupported epoch precision: {epoch}")

    def cell(v, ntz):
        if isinstance(v, datetime) and epoch is not None:
            us = _epoch_us(v, ntz)
            div = _EPOCH_DIVISOR_US[epoch]
            return us * 1000 if div is None else us // div
        if isinstance(v, datetime):
            # ISO-8601 in UTC, tz-independent like the epoch path
            if v.tzinfo is None:
                v = v.replace(tzinfo=timezone.utc) if ntz else v.astimezone()
            return v.astimezone(timezone.utc).isoformat()
        return _cell(v, ntz)

    series = []
    if isinstance(result, DataFrame):
        ntz = _ntz_flags(result.schema)
        series.append({
            "name": "",
            "columns": [f.name for f in result.schema.fields],
            "values": [[cell(v, z) for v, z in zip(row, ntz)]
                       for row in result.collect()],
        })
    return {
        "results": [{"statement_id": 0, "series": series}],
        "execution_time_ms": int(execution_time_ms),
    }


def arrow_response(result) -> bytes:
    """`arrow` response format: the result as one Arrow IPC stream —
    byte-compatible with any Arrow reader, like the reference's
    arrow_result.rs (which writes the RecordBatches through
    arrow-ipc's StreamWriter)."""
    import io

    import pyarrow as pa

    tbl = result.toArrow()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue()


def null_response(result) -> str:
    """`null` response format: execute for effect, emit nothing (the
    reference's null_result.rs still runs the query — callers use it for
    benchmarking transfer-free execution). The plan runs on the JVM, so no
    row is pickled into a Python worker."""
    if isinstance(result, DataFrame):
        result._jdf.queryExecution().toRdd().count()
    return ""
