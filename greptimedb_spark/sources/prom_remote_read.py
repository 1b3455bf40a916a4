"""Prometheus remote READ — the reverse half of the remote-storage protocol.

The reference serves both directions: remote write (already implemented in
``sources/protocols.py``) and remote read
(src/servers/src/http/prom_store.rs:745 ``remote_read`` →
``decode_remote_read_request``:764). This module is the read half,
Spark-first:

- wire: snappy-compressed protobuf ``ReadRequest`` in, snappy
  ``ReadResponse`` out (public prometheus/prompb/remote.proto field
  numbers; reuses the write path's self-contained varint/snappy
  machinery — no external protobuf lib).
- semantics (src/servers/src/prom_store.rs):
  * special labels skipped when filtering (:79
    ``is_remote_read_special_label``: __name__, x_greptime_database,
    __database__, __schema__),
  * the target table = exactly one non-empty EQ matcher on __name__
    (:103 ``table_name``),
  * matcher → filter translation (:139-159 ``query_to_plan``): EQ/NEQ
    equality, RE/NRE via *unanchored* regex search (DataFusion
    ``regexp_match`` ≡ Spark ``rlike``), plus ts ∈ [start, end] —
    expressed here as DataFrame filters so Catalyst pushes them to the
    scan; a matcher naming a column the table lacks is a plan error,
    as in DataFusion.
  * result → TimeSeries grouping (:367-457
    ``recordbatch_to_timeseries``): label columns are every column
    except time index + value, NULL labels are dropped per row,
    samples with NULL ts/value are skipped, series are sorted by
    (label count, then name/value sequence) (:209
    ``compare_timeseries_labels``).
- response negotiation (src/frontend/src/instance/prom_store.rs:115):
  empty accepted_response_types → SAMPLES; otherwise first supported
  in FIFO order; only SAMPLES is supported (streamed XOR chunks →
  NotSupported, same as the reference).
- value column resolution (frontend prom_store.rs:173
  ``resolve_column_names``): the single field column, else
  ``greptime_value`` when present among several, else ambiguous.

Scale note: the scan/filter half is fully distributed (predicate +
time range reach the Parquet scan); only the wire envelope encode
materializes rows on the driver — inherent to the protocol's
one-shot SAMPLES response (the reference carries the same
"may consume too much memory" TODO at frontend prom_store.rs:626).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, functions as F

from greptimedb_spark.sources.protocols import (
    TIME_INDEX,
    VALUE_COL,
    _decode_fields,
    _ld,
    _read_varint,
    _varint,
    snappy_decompress,
)

METRIC_NAME_LABEL = "__name__"
DATABASE_LABEL = "x_greptime_database"
DATABASE_LABEL_ALT = "__database__"
SCHEMA_LABEL = "__schema__"  # deprecated alias in the reference

# LabelMatcher.Type (prompb/types.proto)
MATCHER_EQ, MATCHER_NEQ, MATCHER_RE, MATCHER_NRE = 0, 1, 2, 3
SAMPLES_RESPONSE_TYPE = 0  # ReadRequest.ResponseType.SAMPLES


def is_remote_read_special_label(label: str) -> bool:
    """prom_store.rs:79 — labels that select table/db, never filtered on."""
    return label in (METRIC_NAME_LABEL, DATABASE_LABEL,
                     DATABASE_LABEL_ALT, SCHEMA_LABEL)


def is_database_selection_label(label: str) -> bool:
    """prom_store.rs:87."""
    return label in (DATABASE_LABEL, DATABASE_LABEL_ALT, SCHEMA_LABEL)


# ---- wire codecs ----------------------------------------------------------

def _i64(v: int) -> int:
    """Two's-complement read of a varint-decoded int64."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _decode_matcher(buf: bytes) -> tuple[int, str, str]:
    mtype, name, value = 0, "", ""
    for f, wt, v in _decode_fields(buf):
        if f == 1 and wt == 0:
            mtype = v
        elif f == 2 and wt == 2:
            name = v.decode("utf-8")
        elif f == 3 and wt == 2:
            value = v.decode("utf-8")
    return mtype, name, value


def _decode_query(buf: bytes) -> dict:
    q = {"start_timestamp_ms": 0, "end_timestamp_ms": 0, "matchers": []}
    for f, wt, v in _decode_fields(buf):
        if f == 1 and wt == 0:
            q["start_timestamp_ms"] = _i64(v)
        elif f == 2 and wt == 0:
            q["end_timestamp_ms"] = _i64(v)
        elif f == 3 and wt == 2:
            q["matchers"].append(_decode_matcher(v))
        # f == 4 (ReadHints) intentionally ignored, like the reference's
        # "TODO: use read_hints to speedup query" (frontend prom_store.rs:584)
    return q


def decode_read_request(payload: bytes) -> dict:
    """Snappy ReadRequest -> {"queries": [...], "accepted_response_types"}.

    http/prom_store.rs:764 ``decode_remote_read_request``. The repeated
    enum field 2 is packed by default in proto3 but must also accept the
    unpacked form per the protobuf spec — both handled.
    """
    body = snappy_decompress(payload)
    queries: list[dict] = []
    accepted: list[int] = []
    for f, wt, v in _decode_fields(body):
        if f == 1 and wt == 2:
            queries.append(_decode_query(v))
        elif f == 2 and wt == 2:  # packed repeated enum
            i = 0
            while i < len(v):
                n, i = _read_varint(v, i)
                accepted.append(n)
        elif f == 2 and wt == 0:  # unpacked
            accepted.append(v)
    return {"queries": queries, "accepted_response_types": accepted}


def encode_read_request(queries: list[dict],
                        accepted_response_types: list[int] | None = None,
                        packed: bool = True) -> bytes:
    """Client-side dual of :func:`decode_read_request` (tests + the gate
    round-trip play the Prometheus client)."""
    import pyarrow as pa

    msg = bytearray()
    for q in queries:
        body = bytearray()
        body += _varint(1 << 3) + _varint(
            q.get("start_timestamp_ms", 0) & 0xFFFFFFFFFFFFFFFF)
        body += _varint(2 << 3) + _varint(
            q.get("end_timestamp_ms", 0) & 0xFFFFFFFFFFFFFFFF)
        for mtype, name, value in q.get("matchers", []):
            m = (_varint(1 << 3) + _varint(mtype)
                 + _ld(2, name.encode()) + _ld(3, value.encode()))
            body += _ld(3, bytes(m))
        msg += _ld(1, bytes(body))
    if accepted_response_types:
        if packed:
            msg += _ld(2, b"".join(_varint(t)
                                   for t in accepted_response_types))
        else:
            for t in accepted_response_types:
                msg += _varint(2 << 3) + _varint(t)
    return bytes(pa.Codec("snappy").compress(bytes(msg)))


def encode_read_response(results: list[list[dict]]) -> bytes:
    """[[timeseries]] (one inner list per query) -> snappy ReadResponse.

    A timeseries is {"labels": [(name, value), ...],
    "samples": [(value, ts_ms), ...]} — label order preserved on the
    wire, like the reference's Vec<Label>.
    """
    import pyarrow as pa

    msg = bytearray()
    for timeseries in results:
        qr = bytearray()
        for ts in timeseries:
            body = bytearray()
            for name, value in ts["labels"]:
                body += _ld(1, _ld(1, name.encode()) + _ld(2, value.encode()))
            for val, ts_ms in ts["samples"]:
                sample = (_varint((1 << 3) | 1) + struct.pack("<d", val)
                          + _varint(2 << 3)
                          + _varint(ts_ms & 0xFFFFFFFFFFFFFFFF))
                body += _ld(2, bytes(sample))
            qr += _ld(1, bytes(body))
        msg += _ld(1, bytes(qr))
    return bytes(pa.Codec("snappy").compress(bytes(msg)))


def decode_read_response(payload: bytes) -> list[list[dict]]:
    """Client-side dual of :func:`encode_read_response`."""
    body = snappy_decompress(payload)
    results: list[list[dict]] = []
    for f, wt, v in _decode_fields(body):
        if f != 1 or wt != 2:
            continue
        timeseries: list[dict] = []
        for qf, qwt, qv in _decode_fields(v):
            if qf != 1 or qwt != 2:
                continue
            labels: list[tuple[str, str]] = []
            samples: list[tuple[float, int]] = []
            for sf, swt, sv in _decode_fields(qv):
                if sf == 1 and swt == 2:
                    name = value = b""
                    for lf, _lwt, lv in _decode_fields(sv):
                        if lf == 1:
                            name = lv
                        elif lf == 2:
                            value = lv
                    labels.append((name.decode(), value.decode()))
                elif sf == 2 and swt == 2:
                    val, ts_ms = 0.0, 0
                    for pf, pwt, pv in _decode_fields(sv):
                        if pf == 1 and pwt == 1:
                            val = struct.unpack("<d", pv)[0]
                        elif pf == 2 and pwt == 0:
                            ts_ms = _i64(pv)
                    samples.append((val, ts_ms))
            timeseries.append({"labels": labels, "samples": samples})
        results.append(timeseries)
    return results


# ---- request semantics ----------------------------------------------------

def negotiate_response_type(accepted: list[int]) -> int:
    """frontend prom_store.rs:115 — FIFO pick of the first supported
    type; empty list defaults to SAMPLES; only SAMPLES is supported."""
    if not accepted:
        return SAMPLES_RESPONSE_TYPE
    for t in accepted:
        if t == SAMPLES_RESPONSE_TYPE:
            return t
    raise ValueError(
        "server does not support any of the requested response types: "
        f"{accepted}")


def table_name_of(query: dict) -> str:
    """prom_store.rs:103 ``table_name`` — exactly one non-empty EQ
    matcher on __name__ names the target table."""
    matchers = [m for m in query["matchers"] if m[1] == METRIC_NAME_LABEL]
    if not matchers:
        raise ValueError("missing '__name__' label in timeseries")
    if (len(matchers) > 1 or matchers[0][0] != MATCHER_EQ
            or not matchers[0][2]):
        raise ValueError(
            "expected exactly one non-empty equality matcher for '__name__'")
    return matchers[0][2]


def extract_schema_from_query(query: dict) -> str | None:
    """prom_store.rs:128 — EQ matcher on a database-selection label."""
    for mtype, name, value in query["matchers"]:
        if is_database_selection_label(name) and mtype == MATCHER_EQ:
            return value
    return None


def query_scan(df: DataFrame, query: dict, time_index: str) -> DataFrame:
    """prom_store.rs:139 ``query_to_plan`` analog: ts ∈ [start, end] +
    matcher conditions as DataFrame filters (declarative, so Catalyst
    pushes them into the scan). RE/NRE are unanchored searches, matching
    DataFusion's ``regexp_match`` (Spark ``rlike``); a matcher on a
    column the table lacks is a plan error, like DataFusion ``col()``."""
    tcol = F.col(time_index)
    if dict(df.dtypes)[time_index] != "bigint":
        tcol = F.unix_millis(tcol)
    out = df.filter(
        (tcol >= query["start_timestamp_ms"])
        & (tcol <= query["end_timestamp_ms"]))
    for mtype, name, value in query["matchers"]:
        if is_remote_read_special_label(name):
            continue
        if name not in df.columns:
            raise ValueError(f"no column named '{name}' in the table")
        col = F.col(name)
        if mtype == MATCHER_EQ:
            out = out.filter(col == value)
        elif mtype == MATCHER_NEQ:
            out = out.filter(col != value)
        elif mtype == MATCHER_RE:
            out = out.filter(col.rlike(value))
        elif mtype == MATCHER_NRE:
            # regexp_match(NULL, p).is_null() is TRUE in the reference,
            # so a NULL label value always passes NRE
            out = out.filter(col.isNull() | ~col.rlike(value))
        else:
            raise ValueError(f"invalid LabelMatcher type {mtype}")
    return out


def resolve_value_column(table_name: str, field_columns: list[str]) -> str:
    """frontend prom_store.rs:173 ``resolve_column_names``."""
    if not field_columns:
        raise ValueError(f"value field in table '{table_name}' not found")
    if len(field_columns) == 1:
        return field_columns[0]
    if VALUE_COL in field_columns:
        return VALUE_COL
    raise ValueError(
        f"ambiguous value column in table '{table_name}': {field_columns}")


def dataframe_to_timeseries(table: str, df: DataFrame, time_index: str,
                            value_col: str) -> list[dict]:
    """prom_store.rs:367 ``recordbatch_to_timeseries`` analog over one
    DataFrame: label columns = everything but ts/value, NULL labels
    dropped per row, NULL ts/value samples skipped (the series still
    exists), __name__ prepended, series sorted by (label count, then
    name/value sequence) and samples time-ordered.

    Arrow-batched ``toPandas`` + vectorized groupby — the driver-side
    materialization is the wire envelope itself (same shape as the
    reference's RecordBatches::try_collect)."""
    label_cols = [c for c in df.columns if c not in (time_index, value_col)]
    tcol = F.col(time_index)
    if dict(df.dtypes)[time_index] != "bigint":
        tcol = F.unix_millis(tcol)
    pdf = (df.select(*label_cols, tcol.alias("__ts_ms"),
                     F.col(value_col).cast("double").alias("__val"))
           .toPandas())
    out: list[dict] = []
    if label_cols:
        grouped = pdf.groupby(label_cols, dropna=False, sort=False)
    else:
        grouped = [((), pdf)]
    for key, grp in grouped:
        if not isinstance(key, tuple):
            key = (key,)
        labels = [(METRIC_NAME_LABEL, table)]
        for name, value in zip(label_cols, key):
            # NaN/None label (pandas nulls) -> dropped, like row_labels
            if value is not None and value == value:
                labels.append((name, str(value)))
        live = grp.dropna(subset=["__ts_ms", "__val"]).sort_values("__ts_ms")
        samples = [(float(v), int(t))
                   for v, t in zip(live["__val"], live["__ts_ms"])]
        out.append({"labels": labels, "samples": samples})
    out.sort(key=lambda ts: (len(ts["labels"]),
                             [p for lab in ts["labels"] for p in lab]))
    return out


def remote_read(tables: dict, payload: bytes) -> bytes:
    """The full handler (frontend prom_store.rs:533 ``read``): decode
    the snappy ReadRequest, negotiate SAMPLES, run each query against
    its table and encode the snappy ReadResponse.

    ``tables`` maps name -> an object with ``.df`` and ``.time_index``
    (the PromQL engine's MetricTable shape); the value column follows
    ``resolve_value_column`` over ``.fields``/``.value_col``.
    """
    req = decode_read_request(payload)
    negotiate_response_type(req["accepted_response_types"])
    results = []
    for q in req["queries"]:
        name = table_name_of(q)
        mt = tables.get(name)
        if mt is None:
            raise ValueError(f"table not found: {name}")
        fields = getattr(mt, "fields", None) or [getattr(mt, "value_col",
                                                         VALUE_COL)]
        vcol = resolve_value_column(name, fields)
        scanned = query_scan(mt.df, q, mt.time_index)
        results.append(
            dataframe_to_timeseries(name, scanned, mt.time_index, vcol))
    return encode_read_response(results)


__all__ = [
    "decode_read_request", "encode_read_request",
    "encode_read_response", "decode_read_response",
    "negotiate_response_type", "table_name_of",
    "extract_schema_from_query", "query_scan",
    "resolve_value_column", "dataframe_to_timeseries", "remote_read",
    "is_remote_read_special_label", "TIME_INDEX", "VALUE_COL",
    "MATCHER_EQ", "MATCHER_NEQ", "MATCHER_RE", "MATCHER_NRE",
]
