"""Ingest-protocol parsers: InfluxDB line protocol and OpenTSDB ``put``.

The reference ingests both text protocols over HTTP/TCP and converts them to
row inserts (influx: src/servers/src/influxdb.rs:55-105, opentsdb:
src/servers/src/opentsdb/codec.rs:38-105). Here the same conversion is a
DataFrame transformation over a column of protocol lines — the Spark-side
stand-in is "read the protocol payloads as text (batch or readStream) and
parse them to typed rows", after which `Catalog.insert` or a streaming sink
takes over. Semantics parity:

- influx: measurement → table, tags → string key columns, fields typed by
  the public line-protocol suffix rules (bare float, ``i`` int64, ``u``
  uint64, quoted string, t/f/true/false bool), timestamp defaults to
  NANOSECOND precision (influxdb.rs:28) and lands in the reference's default
  time-index column name ``greptime_timestamp``; full escape handling
  (measurement: ``\\,`` ``\\ ``; tag/field keys+tag values: ``\\,`` ``\\=``
  ``\\ ``; string field values: ``\\"`` ``\\\\``) per the published InfluxDB
  line-protocol spec.
- opentsdb: ``put <metric> <ts> <value> <tag=v>...``; ts with fewer than 13
  digits is seconds → ms (codec.rs:175-183), value is f64 in
  ``greptime_value``, duplicate tags are an error. Malformed lines surface
  the reference's error strings in an ``err`` column instead of failing the
  batch (a server rejects one request; a 100 TB backfill must quarantine bad
  lines and keep going).

Influx lines are parsed by JVM column expressions, no Python worker: a
plain line (no backslash or quote) by literal splits, any other by one pass
of a Java regex of the grammar. Only rejected lines reach Python, in a union
branch whose other columns are NULL literals, where the scanner
``_parse_influx_line`` words their ``err``; a filter on those columns (as
``influx_pivot``'s) prunes that branch. A consumer that keeps the err rows
runs both branches, so it reads its source twice (see
``parse_influx_lines``). Each batch is parsed once: ``influx_pivot``
materializes the parsed rows and learns the field keys in the same job, and
the pivot and the write read the materialized rows. OpenTSDB's
whitespace-split grammar is column algebra too.
"""

from __future__ import annotations

import functools
import math
import re
from typing import Iterator

import pandas as pd
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

TIME_INDEX = "greptime_timestamp"  # reference default time-index column name
VALUE_COL = "greptime_value"       # reference default value column name

# Long-format output: one row per field so heterogeneous field types survive
# without a per-measurement schema. `influx_pivot` turns one measurement's
# rows into a wide table.
_INFLUX_COLUMNS = (
    ("table", "string"), ("tags", "map<string,string>"),
    ("field_key", "string"), ("field_type", "string"), ("v_f64", "double"),
    ("v_i64", "long"), ("v_str", "string"), ("v_bool", "boolean"),
    (TIME_INDEX, "timestamp"), ("err", "string"),
)
_INFLUX_SCHEMA = ", ".join(f"{n} {t}" for n, t in _INFLUX_COLUMNS)


def _scan_escaped(line: str, i: int, stops: str) -> tuple[str, int]:
    """Consume chars from ``i`` until an unescaped char in ``stops`` (or end
    of line). A backslash escapes ONLY the section's escapable chars (which
    equal the stop set: measurement escapes ',' and ' '; tag/field keys and
    tag values escape ',', '=', ' '); before any other char the backslash is
    kept literally, matching the Go/iox line-protocol parsers — so
    ``path=C:\\temp`` keeps its backslash instead of collapsing to
    ``C:temp``. Returns (text, next index)."""
    out = []
    n = len(line)
    while i < n:
        c = line[i]
        if c == "\\" and i + 1 < n and line[i + 1] in stops:
            out.append(line[i + 1])
            i += 2
            continue
        if c in stops:
            break
        out.append(c)
        i += 1
    return "".join(out), i


# line-protocol numbers are ASCII only: Python's int()/float() would also
# take `_` separators, a leading `+`, non-ASCII digits and whitespace
_INT_RE = re.compile(r"-?[0-9]+")
_UINT_RE = re.compile(r"[0-9]+")
_FLOAT_RE = re.compile(r"-?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][-+]?[0-9]+)?")


def _parse_field_value(raw: str):
    """(field_type, f64, i64, str, bool) for UNQUOTED field values per the
    line-protocol grammar (quoted strings are handled by the scanner)."""
    if raw in ("t", "T", "true", "True", "TRUE"):
        return ("boolean", None, None, None, True)
    if raw in ("f", "F", "false", "False", "FALSE"):
        return ("boolean", None, None, None, False)
    if raw.endswith("i"):
        if not _INT_RE.fullmatch(raw, 0, len(raw) - 1):
            raise ValueError(f"invalid integer field value: {raw}")
        v = int(raw[:-1])
        if not (-(1 << 63) <= v < (1 << 63)):
            raise ValueError(f"i64 field value out of range: {raw}")
        return ("int64", None, v, None, None)
    if raw.endswith("u"):
        if not _UINT_RE.fullmatch(raw, 0, len(raw) - 1):
            raise ValueError(f"invalid unsigned field value: {raw}")
        v = int(raw[:-1])
        # uint64 is spec-valid up to 2^64-1, but the output long column tops
        # out at i64::MAX — larger (or negative) values become err rows
        # instead of overflowing the Arrow batch and failing every line in it
        if not (0 <= v < (1 << 63)):
            raise ValueError(
                f"u64 field value outside supported [0, i64::MAX]: {raw}")
        return ("uint64", None, v, None, None)
    if not _FLOAT_RE.fullmatch(raw):
        raise ValueError(f"invalid float field value: {raw}")
    v = float(raw)
    if math.isinf(v) or math.isnan(v):
        raise ValueError(f"non-finite field value: {raw}")
    return ("float64", v, None, None, None)


_PRECISION_NS = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def _parse_influx_line(line: str, precision: str):
    """One line -> list of long-format tuples (or a single err tuple).

    Positional scanner matching the published grammar: double quotes are
    significant ONLY at the start of a field value (a literal '"' anywhere
    in a measurement, tag, or key is just a character) — a subtlety a
    quote-aware splitter gets wrong; found by the hypothesis round-trip
    test (tests/test_protocols_property.py). Only ASCII whitespace is
    trimmed: str.strip() would eat e.g. U+00A0 out of a measurement name
    (also a hypothesis find)."""
    line = line.strip(" \t\r\n")
    if not line or line.startswith("#"):
        return []
    try:
        n = len(line)
        table, i = _scan_escaped(line, 0, ", ")
        if not table:
            raise ValueError("empty measurement")
        tags = {}
        while i < n and line[i] == ",":
            k, i = _scan_escaped(line, i + 1, "=, ")
            if i >= n or line[i] != "=":
                raise ValueError(f"invalid tag: {k}")
            v, i = _scan_escaped(line, i + 1, "=, ")
            if (i < n and line[i] == "=") or not k or not v:
                raise ValueError(f"invalid tag: {k}")
            tags[k] = v
        if i >= n or line[i] != " ":
            raise ValueError("missing field set")
        while i < n and line[i] == " ":
            i += 1

        fields = []
        while True:
            k, i = _scan_escaped(line, i, "=, ")
            if i >= n or line[i] != "=" or not k:
                raise ValueError(f"invalid field: {k}")
            i += 1
            if i < n and line[i] == '"':
                # quoted string value: \" and \\ escape; others literal
                i += 1
                out = []
                while i < n and line[i] != '"':
                    if (line[i] == "\\" and i + 1 < n
                            and line[i + 1] in ('"', "\\")):
                        out.append(line[i + 1])
                        i += 2
                    else:
                        out.append(line[i])
                        i += 1
                if i >= n:
                    raise ValueError("unterminated string field value")
                i += 1
                fields.append((k, ("string", None, None, "".join(out), None)))
            else:
                raw = []
                while i < n and line[i] not in ", ":
                    raw.append(line[i])
                    i += 1
                fields.append((k, _parse_field_value("".join(raw))))
            if i < n and line[i] == ",":
                i += 1
                continue
            break
        if not fields:
            raise ValueError("missing field set")

        ts = None
        if i < n:
            if line[i] != " ":
                raise ValueError("invalid field separator")
            ts_raw = line[i:].strip(" \t\r\n")
            if ts_raw:
                if not _INT_RE.fullmatch(ts_raw):
                    raise ValueError(f"invalid timestamp: {ts_raw}")
                ns = int(ts_raw) * _PRECISION_NS[precision]
                # timestamp column is us-resolution (Spark TimestampType);
                # the reference stores the declared precision — ns truncate
                ts = pd.Timestamp(ns // 1000, unit="us")

        return [(table, tags, k, ftype, f64, i64, s, b, ts, None)
                for k, (ftype, f64, i64, s, b) in fields]
    except (ValueError, KeyError, OverflowError) as e:
        return [(None, None, None, None, None, None, None, None, None,
                 f"invalid line protocol: {e}: {line[:120]}")]


# ---- influx line protocol as column algebra ----
# Java-regex forms of the scanner's grammar. A backslash escapes only its
# section's stop characters and is a literal before anything else, so a token
# is "escape pair, else any non-stop char"; possessive quantifiers keep the
# regex from backtracking into another tokenisation than the scanner's.
_TOKEN = r"(?:\\[=, ]|[^=, ])++"            # tag key, tag value, field key
_MEASUREMENT = r"(?:\\[, ]|[^, ])++"
_QUOTED = r'"(?:\\["\\]|[^"])*+"'          # only \" and \\ escape
_RAW = r'[^", ][^, ]*+'                     # checked by _value_ok
_FIELD = rf"{_TOKEN}=(?:{_QUOTED}|{_RAW})"
# groups: 1 measurement, 2 tag set (",k=v" pairs), 3 field set, 4 timestamp
_LINE_RE = (rf"^({_MEASUREMENT})((?:,{_TOKEN}={_TOKEN})*+) ++"
            rf"({_FIELD}(?:,{_FIELD})*+)(?: [ \t\r\n]*+(-?[0-9]++))?\z")
# A matched line is rewritten to its four groups, each after _SEP, and split
# once. A NUL of the line is written _NUL_ESC first, so _SEP, whose second
# char is not the escape's, cannot occur in the line itself.
_SEP, _NUL, _NUL_ESC = "\x00\x02", "\x00", "\x00\x01"
_LINE_GROUPS = "".join(f"{_SEP}${i}" for i in range(1, 5))
_TAG_RE = rf",({_TOKEN})=({_TOKEN})"        # groups: key, value
_FIELD_KEY_RE = rf"(?:^|,)({_TOKEN})=(?:{_QUOTED}|{_RAW})"
_FIELD_VALUE_RE = rf"(?:^|,){_TOKEN}=({_QUOTED}|{_RAW})"
# A plain line has no backslash or quote, single spaces between its
# sections, and numbers too short to overflow (digit runs of at most 18,
# exponents of at most 2 digits): it is split with literal `split` and
# `substring_index`, and its values need no further check. Every other line
# takes _LINE_RE.
_PLAIN_TEXT = r'[^=, \\"]+'
_SHORT_VALUE = (r"(?:-?[0-9]{1,18}(?:i|(?:\.[0-9]{0,18})?(?:[eE][-+]?[0-9]{1,2})?)"
                r"|[0-9]{1,18}u|-?\.[0-9]{1,18}(?:[eE][-+]?[0-9]{1,2})?"
                r"|[tT](?:rue)?|TRUE|[fF](?:alse)?|FALSE)")
_PLAIN_FIELD = rf"{_PLAIN_TEXT}={_SHORT_VALUE}"
_PLAIN_LINE_RE = (rf'^[^, \\"]+(?:,{_PLAIN_TEXT}={_PLAIN_TEXT})* '
                  rf"{_PLAIN_FIELD}(?:,{_PLAIN_FIELD})*(?: -?[0-9]+)?\z")
_TRUE = ("t", "T", "true", "True", "TRUE")
_FALSE = ("f", "F", "false", "False", "FALSE")
_MIN_US = -(1 << 63)  # pandas reads it as NaT: the scanner's time is NULL
_WS = " \t\r\n"  # what the scanner strips; F.btrim(c) alone strips only " "


def _unescape(c: Column, chars: str) -> Column:
    """Drop the backslash of each escape pair ``\\x`` with x in ``chars``,
    left to right as the scanner reads them."""
    return F.regexp_replace(c, rf"\\([{chars}])", "$1")


def _value_ok(val: Column) -> Column:
    """The raw value text ``val`` (quotes included) is a value as
    ``_parse_field_value`` reads it: ASCII digits, i64 range, finite."""
    body = val.substr(F.lit(1), F.length(val) - 1)  # minus the type suffix
    return (F.when(val.startswith('"') | val.isin(*_TRUE, *_FALSE), True)
            .when(val.endswith("i"), body.rlike(rf"^{_INT_RE.pattern}\z")
                  & body.try_cast("long").isNotNull())
            .when(val.endswith("u"), body.rlike(rf"^{_UINT_RE.pattern}\z")
                  & body.try_cast("long").isNotNull())
            .otherwise(val.rlike(rf"^(?:{_FLOAT_RE.pattern})\z")
                       & (F.abs(val.try_cast("double")) != F.lit(math.inf))))


def _typed_value(val: Column) -> list[Column]:
    """An accepted field's value text -> its _INFLUX_SCHEMA value columns
    (field_type, v_f64, v_i64, v_str, v_bool)."""
    quoted = val.startswith('"')
    ftype = (F.when(quoted, "string")
             .when(val.isin(*_TRUE, *_FALSE), "boolean")
             .when(val.endswith("i"), "int64")
             .when(val.endswith("u"), "uint64")
             .otherwise("float64"))
    body = val.substr(F.lit(1), F.length(val) - 1)
    return [
        ftype.alias("field_type"),
        F.when(ftype == "float64", val.try_cast("double")).alias("v_f64"),
        F.when(ftype.isin("int64", "uint64"), body.try_cast("long"))
        .alias("v_i64"),
        F.when(quoted, _unescape(val.substr(F.lit(2), F.length(val) - 2),
                                 '"\\\\')).alias("v_str"),
        F.when(ftype == "boolean", val.isin(*_TRUE)).alias("v_bool"),
    ]


def _last_wins_map(keys: Column, vals: Column) -> Column:
    """``map(keys -> vals)`` in which a repeated key keeps its last value at
    its first position, as the scanner's dict does; ``map_from_arrays``
    itself raises on a repeated key."""
    uniq = F.array_distinct(keys)
    last = F.transform(uniq, lambda k: F.element_at(
        vals, (F.size(keys) + 1 - F.array_position(F.reverse(keys), k))
        .cast("int")))
    return F.when(F.size(uniq) == F.size(keys), F.map_from_arrays(keys, vals)
                  ).otherwise(F.map_from_arrays(uniq, last))


def _micros(ts_raw: str, precision: str) -> Column:
    """µs since the epoch of the timestamp text that the SQL expression
    ``ts_raw`` gives, as the scanner computes it (``floor(ts *
    precision_ns / 1000)``), or NULL where that falls outside i64. No step
    overflows where the scanner's does not: a text beyond i64 can still be
    in range at ``ns``, so that case takes exact decimal division."""
    v = f"try_cast({ts_raw} AS BIGINT)"
    return F.expr({
        "ns": f"CASE WHEN {v} IS NOT NULL THEN {v} div 1000"
              f" - IF({v} % 1000 < 0, 1, 0) ELSE try_cast(floor("
              f"try_cast({ts_raw} AS DECIMAL(25, 0)) / 1000) AS BIGINT) END",
        "us": v,
        "ms": f"try_multiply({v}, 1000)",
        "s": f"try_multiply({v}, 1000000)",
    }[precision])


@functools.lru_cache(maxsize=None)
def _influx_line_layers(precision: str) -> tuple[list[Column], ...]:
    """The select lists that take a frame of one string column ``line`` to
    one row per line, parsed by the column parser: the line, ``skip`` (blank
    or comment), ``plain``, ``matched`` (the line has the grammar's shape),
    the table, the tag keys and values, the time ``us`` and ``no_ts``, and
    ``items``: a plain line's ``key=value`` texts, else its raw value texts
    beside its unescaped field keys ``rkeys``.

    Each layer is its own select, so that an expression that a later layer
    reads several times is computed once per line, and a layer's columns
    that no later one reads are pruned. The lists are built once per
    precision, so a batch costs a few JVM calls per layer, not one per
    expression node."""
    line, s, skip, plain, parts = map(
        F.col, ("line", "s", "skip", "plain", "parts"))
    groups = F.regexp_replace(F.replace(s, F.lit(_NUL), F.lit(_NUL_ESC)),
                              _LINE_RE, _LINE_GROUPS)
    head = F.get(parts, 0)

    def group(i: int) -> Column:
        return F.replace(F.get(parts, i), F.lit(_NUL_ESC), F.lit(_NUL))

    def unescaped(tokens: Column) -> Column:
        return F.when(plain, tokens).otherwise(
            F.transform(tokens, lambda t: _unescape(t, "=, ")))

    tag_set = F.when(plain, head).otherwise(group(2))
    keys, vals = (F.regexp_extract_all(tag_set, F.lit(_TAG_RE), F.lit(i))
                  for i in (1, 2))
    ts_raw = "coalesce(get(parts, IF(plain, 2, 4)), '')"
    return (
        [line, F.btrim(line, F.lit(_WS)).alias("s")],
        [line, s, (s.isNull() | (s == "") | s.startswith("#")).alias("skip"),
         s.rlike(_PLAIN_LINE_RE).alias("plain")],
        [line, skip, plain,
         F.when(plain, F.split(s, " ")).otherwise(F.split(groups, _SEP))
         .alias("parts")],
        [line, skip, plain,
         F.when(plain, F.substring_index(head, ",", 1)).otherwise(
             _unescape(group(1), ", ")).alias("table"),
         F.when(plain, F.split(F.get(parts, 1), ",")).otherwise(
             F.regexp_extract_all(group(3), F.lit(_FIELD_VALUE_RE), F.lit(1))
         ).alias("items"),
         F.when(~plain, F.transform(
             F.regexp_extract_all(group(3), F.lit(_FIELD_KEY_RE), F.lit(1)),
             lambda k: _unescape(k, "=, "))).alias("rkeys"),
         unescaped(keys).alias("keys"), unescaped(vals).alias("vals"),
         F.expr(f"{ts_raw} = ''").alias("no_ts"),
         _micros(ts_raw, precision).alias("us"),
         # a match has the empty text before its first _SEP and four groups
         (plain | (F.size(parts) == 5)).alias("matched")],
    )


def _line_row(*cols: Column) -> list[Column]:
    """The select list that ends ``_influx_line_layers``: ``cols``, with
    ``ok`` (the column parser accepts the line), as an ``inline`` of the
    line's own row. A filter on these columns (``table = t``, ``NOT ok``)
    stops at the ``inline`` instead of being pushed down into the layers,
    where it would evaluate the parse a second time."""
    plain = F.col("plain")
    ok = (~F.col("skip") & F.col("matched")
          & (plain | F.forall("items", _value_ok))
          & (F.col("no_ts") | F.col("us").isNotNull()))
    return [F.inline(F.array(F.struct(
        F.coalesce(ok, F.lit(False)).alias("ok"), *cols)))]


@functools.lru_cache(maxsize=None)
def _influx_row_layers() -> tuple[list[Column], ...]:
    """The select lists that take ``_influx_line_layers``' rows to one
    _INFLUX_SCHEMA row per field of each accepted line."""
    plain, item, us, table, tags, ts, rkeys = map(F.col, (
        "plain", "item", "us", "table", "tags", TIME_INDEX, "rkeys"))
    return (
        _line_row(
            plain, table, F.col("items"), rkeys,
            _last_wins_map(F.col("keys"), F.col("vals")).alias("tags"),
            F.when(us != _MIN_US, F.timestamp_micros(us)).alias(TIME_INDEX)),
        [plain, table, tags, ts, rkeys,
         F.posexplode(F.when(F.col("ok"), F.col("items"))).alias(
             "pos", "item")],
        [table, tags, ts,
         F.when(plain, F.substring_index(item, "=", 1)).otherwise(
             F.get(rkeys, F.col("pos"))).alias("field_key"),
         F.when(plain, F.substring_index(item, "=", -1)).otherwise(
             item).alias("val")],
        [table, tags, F.col("field_key"), *_typed_value(F.col("val")), ts,
         F.lit(None).cast("string").alias("err")],
    )


@functools.lru_cache(maxsize=None)
def _rejected_row() -> list[Column]:
    """The select list that takes ``_influx_line_layers``' rows to the
    ``line``, ``skip`` and ``ok`` that ``_influx_err_layers`` reads."""
    return _line_row(F.col("line"), F.col("skip"))


def _select_layers(df: DataFrame, layers) -> DataFrame:
    for cols in layers:
        df = df.select(*cols)
    return df


def _influx_err(line: str, precision: str) -> str:
    """The scanner's ``err`` for a line the column parser rejected; a line
    the scanner accepts gets an error naming the disagreement instead of
    being dropped."""
    rows = _parse_influx_line(line, precision)
    if rows and rows[0][-1] is not None:
        return rows[0][-1]
    return ("invalid line protocol: the column parser rejects a line the "
            f"scanner accepts: {line.strip(_WS)[:120]}")


# precision -> (the Spark context, _influx_err_layers' lists for it)
_ERR_LAYERS: dict[str, tuple[SparkContext, tuple[Column, list[Column]]]] = {}


def _influx_err_layers(sc: SparkContext,
                       precision: str) -> tuple[Column, list[Column]]:
    """The filter and the select list that take rows of ``line``, ``skip``
    and ``ok`` to one err row per line the column parser rejected, worded by
    the scanner in an Arrow-batched UDF.

    Every column but ``err`` is a typed NULL literal, so a filter on any of
    them (``influx_pivot``'s ``table = t``) folds this branch to an empty
    relation and no Python worker starts. The UDF is marked nondeterministic
    so that no filter is pushed below it, apart from that literal; a
    deterministic one lets the optimizer push the filter's conjuncts apart
    and keep the Python node in the plan. A UDF pickles its function once,
    when first applied, and is bound to that Spark context: the lists are
    kept for the last context only, so a stopped one is not held."""
    cached = _ERR_LAYERS.get(precision)
    if cached is not None and cached[0] is sc:
        return cached[1]

    @F.pandas_udf("string")
    def word(lines: pd.Series) -> pd.Series:
        return pd.Series([_influx_err(line, precision) for line in lines])

    layers = ~F.col("ok") & ~F.col("skip"), [
        *(F.lit(None).cast(t).alias(n) for n, t in _INFLUX_COLUMNS[:-1]),
        word.asNondeterministic()("line").alias("err")]
    _ERR_LAYERS[precision] = sc, layers
    return layers


def parse_influx_lines(
    lines: DataFrame, line_col: str = "line", precision: str = "ns"
) -> DataFrame:
    """Parse a column of InfluxDB line-protocol text into long-format typed
    rows: (table, tags, field_key, field_type, v_*, greptime_timestamp, err).

    ``precision`` mirrors the protocol's ``precision=`` query param; the
    default is nanoseconds like the reference (influxdb.rs:28). Malformed
    lines come back with ``err`` set and everything else NULL. No shuffle;
    downstream ``influx_pivot`` or an aggregation decides the layout.

    Accepted lines are parsed by JVM column expressions, each line once
    before the explode into field rows: a plain line by literal splits, any
    other by one pass of ``_LINE_RE``. Only rejected lines reach Python, in
    a union branch that words their ``err`` with ``_parse_influx_line``. A
    query that filters on any column but ``err``, as ``influx_pivot`` does,
    prunes that branch: it reads the lines once and runs no Python worker.

    A query that keeps the err rows (a streaming sink, an unfiltered
    ``collect``) runs both branches. Spark does not share a subplan between
    them: the source is read twice (for a ``createDataFrame`` of a Python
    list, that is two passes through PySpark's own re-serialisation worker),
    and the second branch evaluates the part of the parse that decides
    whether a line is accepted a second time, without the tags and the field
    rows. On 10k-line ``createDataFrame`` batches on 4 vCPUs that
    unfiltered job is slower than the single-pass ``mapInPandas`` parse it
    replaced: +18% for plain lines, +61% when no line is plain
    (``tools/influx_parse_bench.py``, shape ``all``). A consumer that reads
    an expensive source more than once can ``localCheckpoint`` the lines
    first.
    """
    if precision not in _PRECISION_NS:
        raise ValueError(f"unsupported precision: {precision}")
    per_line = _select_layers(
        lines.select(F.col(line_col).cast("string").alias("line")),
        _influx_line_layers(precision))
    rows = _select_layers(per_line, _influx_row_layers())
    rejected, err_cols = _influx_err_layers(
        lines.sparkSession.sparkContext, precision)
    return rows.union(per_line.select(*_rejected_row()).filter(rejected)
                      .select(*err_cols))


def influx_pivot(parsed: DataFrame, table: str) -> DataFrame:
    """One measurement's long-format rows → a wide table (reference: one
    row-insert schema per measurement, influxdb.rs:55-105): the tags stay in
    the map, each field key becomes a string column, ordered by key. A field
    given more than once for one (series, timestamp) in a batch takes
    ``first``, which is an arbitrary one of them (the reference rejects such
    batches).

    The measurement's rows are materialized once (``localCheckpoint``,
    eager) and the same job observes their distinct field keys, so the pivot
    needs no discovery job and the caller's write reads the materialized rows
    instead of parsing the batch again. Calling this runs the parse. The
    materialized rows are released once the returned frame and every frame
    derived from it are garbage collected. More distinct keys than
    ``spark.sql.pivotMaxValues`` raise, as Spark's own discovery does."""
    keys_seen = Observation()
    rows = parsed.filter(
        F.col("err").isNull() & (F.col("table") == table)
    ).select(
        "tags",
        TIME_INDEX,
        "field_key",
        F.coalesce(
            F.col("v_f64").cast("string"),
            F.col("v_i64").cast("string"),
            F.col("v_str"),
            F.col("v_bool").cast("string"),
        ).alias("v"),
    ).observe(
        # array_sort orders strings as Spark orders discovered pivot values
        keys_seen, F.array_sort(F.collect_set("field_key")).alias("keys")
    ).localCheckpoint(eager=True)
    keys = keys_seen.get["keys"]
    limit = int(parsed.sparkSession.conf.get("spark.sql.pivotMaxValues"))
    if len(keys) > limit:
        raise AnalysisException(
            f"The pivot column field_key has more than {limit} distinct "
            "values, this could indicate an error. If this was intended, set "
            "spark.sql.pivotMaxValues to at least the number of distinct "
            "values of the pivot column.")
    return rows.groupBy("tags", TIME_INDEX).pivot("field_key", keys).agg(
        F.first("v"))


def parse_opentsdb_puts(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse OpenTSDB telnet-style ``put`` lines with pure column algebra
    (the grammar is whitespace-split — no escapes, so no Python is needed):
    ``put <metric> <ts> <value> [<tagk=tagv> ...]``.

    Output: (metric, greptime_timestamp, greptime_value, tags, err); the
    reference's error strings are reproduced in ``err`` for malformed lines
    (opentsdb/codec.rs:38-105). ts < 13 digits is seconds → ms
    (codec.rs:175-183)."""
    toks = F.split(F.trim(F.col(line_col)), r"\s+")
    cmd = F.element_at(toks, 1)
    metric = F.element_at(toks, 2)
    ts_raw = F.element_at(toks, 3)
    val_raw = F.element_at(toks, 4)
    tag_toks = F.slice(toks, 5, F.greatest(F.size(toks) - 4, F.lit(0)))

    ts_num = ts_raw.try_cast("long")
    # digits < 13 means seconds (reference comment: 13-digit epoch-ms starts
    # in 2286 and 12-digit ms ended in 2001). The digit count comes from the
    # PARSED absolute value like codec.rs:175-183 — not the raw token, whose
    # leading zeros or '+' sign would misclassify (e.g. '0001663840496').
    ts_ms = F.when(F.length(F.abs(ts_num).cast("string")) < 13,
                   ts_num * 1000).otherwise(ts_num)
    val_num = val_raw.try_cast("double")

    tag_pairs = F.transform(tag_toks, lambda t: F.split(t, "="))
    bad_tag = F.exists(
        tag_pairs,
        lambda kv: (F.size(kv) != 2) | (F.element_at(kv, 1) == "") | (F.element_at(kv, 2) == ""),
    )
    tag_keys = F.transform(tag_pairs, lambda kv: F.element_at(kv, 1))
    dup_tag = F.size(F.array_distinct(tag_keys)) != F.size(tag_keys)

    err = (
        F.when(cmd != "put", F.concat(F.lit("unknown command "), F.coalesce(cmd, F.lit("")), F.lit(".")))
        .when(F.size(toks) < 4, F.format_string(
            "put: illegal argument: not enough arguments (need least 4, got %d)", F.size(toks)))
        .when(ts_num.isNull(), F.concat(F.lit("put: invalid timestamp: "), ts_raw))
        .when(val_num.isNull(), F.concat(F.lit("put: invalid value: "), val_raw))
        .when(bad_tag, F.lit("put: invalid tag"))
        .when(dup_tag, F.lit("put: illegal argument: duplicate tag"))
    )
    tags = F.map_from_entries(
        F.transform(tag_pairs, lambda kv: F.struct(
            F.element_at(kv, 1).alias("key"), F.element_at(kv, 2).alias("value")))
    )
    return lines.select(
        F.when(err.isNull(), metric).alias("metric"),
        F.when(err.isNull(), F.timestamp_millis(ts_ms)).alias(TIME_INDEX),
        F.when(err.isNull(), val_num).alias(VALUE_COL),
        F.when(err.isNull(), tags).alias("tags"),
        err.alias("err"),
    )


def _ns_to_ts(ns_long):
    """Integer ns -> µs TimestampType WITHOUT a double round-trip: epoch ns
    (~1.7e18) exceeds double's 2^53 exact-integer range, so `/ 1000` through
    double rounds by up to ~0.5µs. Decimal division is exact."""
    return F.timestamp_micros(
        F.floor(ns_long.cast("decimal(38,9)") / 1000).cast("long"))


# Loki push payload: {"streams": [{"stream": {label: value, ...},
#                                  "values": [["<ts_ns>", "<line>"], ...]}]}
_LOKI_SCHEMA = (
    "streams array<struct<stream:map<string,string>,"
    " values:array<array<string>>>>"
)


def parse_loki_push(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse Loki push-API JSON payloads into log rows — the reference's
    /loki/api/v1/push ingestion (src/servers/src/http/loki.rs:61-91: labels
    become tag columns, the message lands in ``line``, timestamps are
    nanoseconds in the default time-index column).

    Pure column algebra: ``from_json`` with an explicit schema, nested
    ``transform`` over streams/values and ONE explode — fully JVM-side and
    shuffle-free, so a 100 TB backfill of push payloads parses at scan
    speed (the former good/bad branch union re-ran the scan + from_json on
    both sides). Returns (labels map, greptime_timestamp, line, err); rows
    whose payload does not parse carry ``err``. Structured-metadata third
    elements (rare) are not modeled — the value pair is [ts, line].
    """
    parsed = payloads.select(
        F.col(payload_col).alias("_raw"),
        F.from_json(F.col(payload_col), _LOKI_SCHEMA).alias("p"),
    )
    bad_row = F.struct(
        F.lit(None).cast("map<string,string>").alias("labels"),
        F.lit(None).cast("timestamp").alias(TIME_INDEX),
        F.lit(None).cast("string").alias("line"),
        F.concat(F.lit("invalid loki push payload: "),
                 F.substring("_raw", 1, 120)).alias("err"),
    )

    def _stream_rows(s):
        def row(v):
            ts_raw = F.get(v, 0)
            ts = ts_raw.try_cast("long")
            # a quarantined value carries nothing but its err
            return F.struct(
                F.when(ts.isNotNull(), s["stream"]).alias("labels"),
                _ns_to_ts(ts).alias(TIME_INDEX),
                F.when(ts.isNotNull(), F.get(v, 1).cast("string")).alias("line"),
                F.when(ts.isNull(),
                       F.concat(F.lit("invalid loki timestamp: "),
                                F.coalesce(ts_raw, F.lit("null"))))
                .cast("string").alias("err"),
            )

        return F.transform(
            F.coalesce(s["values"],
                       F.expr("CAST(array() AS array<array<string>>)")),
            row)

    all_rows = F.when(
        F.col("p").isNull() | F.col("p.streams").isNull(), F.array(bad_row)
    ).otherwise(F.flatten(F.transform(F.col("p.streams"), _stream_rows)))
    return parsed.select(F.explode(all_rows).alias("r")).select("r.*")


def parse_elasticsearch_bulk(
    payloads: DataFrame,
    payload_col: str = "payload",
    default_index: str | None = None,
    msg_field: str | None = None,
) -> DataFrame:
    """Parse Elasticsearch ``_bulk`` NDJSON payloads into (table, document)
    rows — the reference's /_bulk log ingestion
    (src/servers/src/elasticsearch.rs:291-380): lines come in (command,
    document) pairs; the command must be ``create`` or ``index`` (treated
    identically — no upsert), its ``_index`` names the target table, falling
    back to ``default_index`` (the URL path parameter); with ``msg_field``
    only that field of the document is kept as the log line.

    Pure column algebra: split the body into lines, pair them positionally
    with a transform over an index sequence, ``from_json`` the command.
    Shuffle-free and JVM-side; the document stays an opaque JSON string for
    a downstream pipeline (pipeline.py) to shred. Malformed pairs carry
    ``err`` (reference error phrasing) with everything else NULL.
    """
    lines = F.filter(
        F.transform(F.split(F.col(payload_col), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(lines) - 1) / 2).cast("int")),
        lambda i: F.struct(
            F.get(lines, i * 2).alias("cmd"),      # F.get: NULL out of range
            F.get(lines, i * 2 + 1).alias("doc"),
        ),
    )
    # a dangling trailing command with no document is silently dropped,
    # matching the reference's while-let pairing loop
    rows = payloads.select(F.explode(pairs).alias("p")).filter(
        F.col("p.doc").isNotNull()
    ).select(
        F.from_json(
            F.col("p.cmd"), "map<string,struct<_index:string>>"
        ).alias("cmd"),
        F.col("p.cmd").alias("cmd_raw"),
        F.col("p.doc").alias("doc"),
    )
    op = F.element_at(F.map_keys("cmd"), 1)
    idx = F.coalesce(
        F.element_at(F.map_values("cmd"), 1)["_index"],
        F.lit(default_index).cast("string"),
    )
    err = (
        F.when(F.col("cmd").isNull() | ~op.isin("create", "index"),
               F.concat(F.lit("invalid bulk request, expected 'create' or "
                              "'index' but got "), F.substring("cmd_raw", 1, 80)))
        .when(idx.isNull(), F.lit("missing index in bulk request"))
    )
    doc = (F.get_json_object("doc", f"$.{msg_field}") if msg_field
           else F.col("doc"))
    return rows.select(
        F.when(err.isNull(), idx).alias("table"),
        F.when(err.isNull(), doc).alias("document"),
        err.alias("err"),
    )


# OTLP/JSON metrics (gauge + sum number points). Protobuf-JSON renders int64
# as strings, hence asInt:string; attributes are AnyValue wrappers — the
# stringValue arm covers metric tags.
_OTLP_ATTR = "array<struct<key:string,value:struct<stringValue:string>>>"
_OTLP_DP = (f"struct<timeUnixNano:string,asDouble:double,asInt:string,"
            f"attributes:{_OTLP_ATTR}>")
# uint64 fields (count, bucketCounts) are JSON strings per the proto3
# JSON mapping
_OTLP_HIST_DP = (f"struct<timeUnixNano:string,count:string,sum:double,"
                 f"bucketCounts:array<string>,explicitBounds:array<double>,"
                 f"attributes:{_OTLP_ATTR}>")
_OTLP_QUANTILE = "struct<quantile:double,value:double>"
_OTLP_SUMM_DP = (
    f"struct<timeUnixNano:string,count:string,sum:double,"
    f"quantileValues:array<{_OTLP_QUANTILE}>,"
    f"attributes:{_OTLP_ATTR}>")
_OTLP_METRIC = (
    f"struct<name:string,"
    f"gauge:struct<dataPoints:array<{_OTLP_DP}>>,"
    f"sum:struct<dataPoints:array<{_OTLP_DP}>,isMonotonic:boolean>,"
    f"histogram:struct<dataPoints:array<{_OTLP_HIST_DP}>>,"
    f"summary:struct<dataPoints:array<{_OTLP_SUMM_DP}>>>")
_OTLP_SCOPE_METRICS = f"struct<metrics:array<{_OTLP_METRIC}>>"
_OTLP_SCHEMA = (
    f"resourceMetrics array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTR}>,"
    f"scopeMetrics:array<{_OTLP_SCOPE_METRICS}>>>"
)


def _no_elems(elem_type: str):
    """An empty ``array<elem_type>``: the fallback for an absent JSON array."""
    return F.expr(f"CAST(array() AS array<{elem_type}>)")


def _fmt_f64_tag(c):
    """Rust f64 Display for tag cells (metrics.rs write_tag of bounds /
    quantiles): integral values drop the fraction ('1' not '1.0')."""
    return F.when(c == c.cast("long").cast("double"),
                  c.cast("long").cast("string")).otherwise(c.cast("string"))


def normalize_otlp_name(name) -> "F.Column":
    """The reference's legacy OTLP table-name normalization: lowercase,
    '.'/'-' → '_' (src/servers/src/otlp/metrics/translator.rs:281-283)."""
    c = name if not isinstance(name, str) else F.col(name)
    return F.translate(F.lower(c), ".-", "__")


def parse_otlp_metrics_json(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Parse OTLP/JSON metrics export payloads (gauge/sum number points
    PLUS histogram and summary points) into rows — the reference's
    /v1/otlp/v1/metrics ingestion (src/servers/src/otlp/metrics.rs:99-830):
    metric name → table (legacy normalization), resource + data-point
    attributes → tags (data-point keys win on collision), values coerced
    to f64 (metrics.rs:460-477: asInt/asDouble both land as f64 in
    ``greptime_value``), timeUnixNano → the default time index. Histogram
    points shred into ``{name}_bucket`` (cumulative counts under an ``le``
    tag) + ``{name}_sum`` + ``{name}_count``; summary points into
    ``{name}`` (``quantile`` tag) + ``{name}_count`` + ``{name}_sum``
    (encode_histogram:613, encode_summary:717). Exponential histograms are
    a no-op in the reference too (metrics.rs:168).

    Pure ``from_json`` + higher-order functions — JVM-side, shuffle-free
    (the cumulative bucket count is an ``aggregate()`` over the bucket
    prefix). Payloads that do not parse yield one row with ``err`` set.

    Single-pass: every output row kind (gauge/sum number points, the
    histogram {name}_bucket/_sum/_count fan-out, the summary
    quantile/_count/_sum fan-out, the bad-payload row) is built into ONE
    ``array<struct>`` per payload with nested ``transform``/``flatten`` and
    exploded once. The r11 form unioned 8 filter branches off the parsed
    relation, and physical planning duplicated the scan+from_json subtree
    into every branch (q94: 16 scans / 16 from_json; q116: 18/18) — one
    logical parse cost 16 JSON parses of every payload. This form keeps
    exactly 1 (r12 A/B: row-multiset parity on the q94/q116 streams + edge
    corpus, ~5x on both legs; recorded in OPTIMIZATION_r12.md).
    """
    row_t = (f"struct<table:string,tags:map<string,string>,"
             f"{TIME_INDEX}:timestamp,{VALUE_COL}:double,"
             f"metric_type:string,err:string>")
    no_rows = _no_elems(row_t)
    empty_attrs = F.expr(f"CAST(array() AS {_OTLP_ATTR})")
    empty_map = F.expr("CAST(map() AS map<string,string>)")

    def _mk_row(table, tags, ts_ns_str, value, mtype, err):
        # a quarantined point carries nothing but its err
        ok = err.isNull()
        return F.struct(
            F.when(ok, table.cast("string")).alias("table"),
            F.when(ok, tags).alias("tags"),
            F.when(ok, _ns_to_ts(ts_ns_str.try_cast("long"))).alias(TIME_INDEX),
            F.when(ok, value.cast("double")).alias(VALUE_COL),
            F.when(ok, F.lit(mtype)).alias("metric_type"),
            err.cast("string").alias("err"),
        )

    def _ts_err(ts_ns_str):
        return F.when(
            ts_ns_str.try_cast("long").isNull(),
            F.concat(F.lit("invalid otlp timestamp: "),
                     F.coalesce(ts_ns_str, F.lit("null"))))

    def _count_err(dp, counts):
        # an OTLP count is a decimal string; a JSON null stays a NULL count
        bad = F.exists(F.concat(F.array(dp["count"]), counts),
                       lambda c: c.isNotNull() & c.try_cast("double").isNull())
        return F.when(bad, F.lit("invalid otlp count"))

    def _tags(res_attrs, dp_attrs):
        # resource attrs + data-point attrs; data-point keys win on collision
        dpa = F.coalesce(dp_attrs, empty_attrs)
        ra = F.coalesce(res_attrs, empty_attrs)
        keys = F.transform(dpa, lambda e: e["key"])
        kept = F.filter(ra, lambda e: ~F.array_contains(keys, e["key"]))
        return F.map_from_entries(F.transform(
            F.concat(kept, dpa),
            lambda e: F.struct(e["key"].alias("key"),
                               e["value"]["stringValue"].alias("value"))))

    def _num_rows(ra, m, kind):
        # gauge/sum number points: one row per dataPoint
        def row(dp):
            value = F.coalesce(dp["asDouble"], dp["asInt"].try_cast("double"))
            err = (F.when(value.isNull(), F.lit("missing data point value"))
                   .otherwise(_ts_err(dp["timeUnixNano"])))
            return _mk_row(normalize_otlp_name(m["name"]),
                           _tags(ra, dp["attributes"]),
                           dp["timeUnixNano"], value, kind, err)

        return F.when(
            m[kind].isNotNull(),
            F.transform(F.coalesce(m[kind]["dataPoints"], _no_elems(_OTLP_DP)),
                        row),
        ).otherwise(no_rows)

    # histogram / summary shredding (metrics.rs encode_histogram:613,
    # encode_summary:717, emitted_semantic_tables:144): a histogram point
    # fans into {name}_bucket (le tag, CUMULATIVE count), {name}_sum and
    # {name}_count rows; a summary point into {name} (quantile tag),
    # {name}_count and {name}_sum.
    def _hist_rows(ra, m):
        name = normalize_otlp_name(m["name"])

        def dp_rows(dp):
            tags = _tags(ra, dp["attributes"])
            buckets = F.coalesce(dp["bucketCounts"], _no_elems("string"))
            err = F.coalesce(_ts_err(dp["timeUnixNano"]),
                             _count_err(dp, buckets))
            bounds = dp["explicitBounds"]
            # cumulative counts, one running sum per point; a NULL count
            # makes it and every later bucket's count NULL
            cums = F.aggregate(
                buckets,
                F.struct(F.lit(0.0).alias("s"),
                         _no_elems("double").alias("a")),
                lambda acc, x: F.struct(
                    (acc["s"] + x.try_cast("double")).alias("s"),
                    F.array_append(acc["a"], acc["s"] + x.try_cast("double"))
                    .alias("a")),
                lambda acc: acc["a"])

            def bucket_row(cum, idx):
                # le = explicit bound at idx, 'inf' for the one-past-last
                # bucket; a malformed extra bucket gets NO le tag
                # (metrics.rs:647-662)
                le_map = (F.when(idx < F.size(bounds),
                                 F.create_map(F.lit("le"),
                                              _fmt_f64_tag(F.get(bounds, idx))))
                          .when(idx == F.size(bounds),
                                F.create_map(F.lit("le"), F.lit("inf")))
                          .otherwise(empty_map))
                return _mk_row(F.concat(name, F.lit("_bucket")),
                               F.map_concat(tags, le_map),
                               dp["timeUnixNano"], cum, "histogram", err)

            sum_row = _mk_row(F.concat(name, F.lit("_sum")), tags,
                              dp["timeUnixNano"], dp["sum"], "histogram", err)
            count_row = _mk_row(F.concat(name, F.lit("_count")), tags,
                                dp["timeUnixNano"],
                                dp["count"].try_cast("double"),
                                "histogram", err)
            return F.concat(
                F.transform(cums, bucket_row),
                F.when(dp["sum"].isNotNull(),
                       F.array(sum_row)).otherwise(no_rows),
                F.array(count_row),
            )

        return F.when(
            m["histogram"].isNotNull(),
            F.flatten(F.transform(
                F.coalesce(m["histogram"]["dataPoints"],
                           _no_elems(_OTLP_HIST_DP)),
                dp_rows)),
        ).otherwise(no_rows)

    def _summ_rows(ra, m):
        name = normalize_otlp_name(m["name"])

        def dp_rows(dp):
            tags = _tags(ra, dp["attributes"])
            err = F.coalesce(_ts_err(dp["timeUnixNano"]),
                             _count_err(dp, _no_elems("string")))

            def q_row(qv):
                qtags = F.map_concat(
                    tags, F.create_map(F.lit("quantile"),
                                       _fmt_f64_tag(qv["quantile"])))
                return _mk_row(name, qtags, dp["timeUnixNano"],
                               qv["value"], "summary", err)

            count_row = _mk_row(F.concat(name, F.lit("_count")), tags,
                                dp["timeUnixNano"],
                                dp["count"].try_cast("double"),
                                "summary", err)
            sum_row = _mk_row(F.concat(name, F.lit("_sum")), tags,
                              dp["timeUnixNano"], dp["sum"], "summary", err)
            return F.concat(
                F.transform(
                    F.coalesce(dp["quantileValues"],
                               _no_elems(_OTLP_QUANTILE)),
                    q_row),
                F.array(count_row),
                F.when(dp["sum"].isNotNull(),
                       F.array(sum_row)).otherwise(no_rows),
            )

        return F.when(
            m["summary"].isNotNull(),
            F.flatten(F.transform(
                F.coalesce(m["summary"]["dataPoints"],
                           _no_elems(_OTLP_SUMM_DP)),
                dp_rows)),
        ).otherwise(no_rows)

    def _metric_rows(ra, m):
        return F.concat(_num_rows(ra, m, "gauge"), _num_rows(ra, m, "sum"),
                        _hist_rows(ra, m), _summ_rows(ra, m))

    def _rm_rows(rm):
        ra = rm["resource"]["attributes"]
        return F.flatten(F.transform(
            F.coalesce(rm["scopeMetrics"], _no_elems(_OTLP_SCOPE_METRICS)),
            lambda sm: F.flatten(F.transform(
                F.coalesce(sm["metrics"], _no_elems(_OTLP_METRIC)),
                lambda m: _metric_rows(ra, m)))))

    parsed = payloads.select(
        F.col(payload_col).alias("_raw"),
        F.from_json(F.col(payload_col), _OTLP_SCHEMA).alias("p"),
    )
    bad_row = F.struct(
        F.lit(None).cast("string").alias("table"),
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.lit(None).cast("timestamp").alias(TIME_INDEX),
        F.lit(None).cast("double").alias(VALUE_COL),
        F.lit(None).cast("string").alias("metric_type"),
        F.concat(F.lit("invalid otlp metrics payload: "),
                 F.substring("_raw", 1, 120)).alias("err"),
    )
    all_rows = F.when(
        F.col("p").isNull() | F.col("p.resourceMetrics").isNull(),
        F.array(bad_row),
    ).otherwise(
        F.flatten(F.transform(F.col("p.resourceMetrics"), _rm_rows)))
    return parsed.select(F.explode(all_rows).alias("r")).select("r.*")


OTLP_LOG_TABLE = "opentelemetry_logs"  # reference default (otlp/logs.rs:52)

_OTLP_LOGREC = (
    f"struct<timeUnixNano:string,observedTimeUnixNano:string,"
    f"severityNumber:int,severityText:string,"
    f"body:struct<stringValue:string>,attributes:{_OTLP_ATTR},"
    f"traceId:string,spanId:string,flags:int>"
)
_OTLP_SCOPE = "struct<name:string,version:string>"
_OTLP_SCOPE_LOGS = (f"struct<scope:{_OTLP_SCOPE},"
                    f"logRecords:array<{_OTLP_LOGREC}>>")
_OTLP_LOGS_SCHEMA = (
    f"resourceLogs array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTR}>,"
    f"scopeLogs:array<{_OTLP_SCOPE_LOGS}>>>"
)


def _quarantined(err: Column, **cols: Column) -> Column:
    """struct(cols..., err) whose columns are all NULL where ``err`` is set:
    a quarantined row carries only its error."""
    return F.struct(*[F.when(err.isNull(), c).alias(n) for n, c in cols.items()],
                    err.cast("string").alias("err"))


def parse_otlp_logs_json(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Parse OTLP/JSON logs export payloads into the reference's identity
    log schema (src/servers/src/otlp/logs.rs:199-311: timestamp(ns),
    trace_id, span_id, severity_text, severity_number, body, log_attributes
    json, scope_name tag, resource_attributes json; default table
    ``opentelemetry_logs``). timeUnixNano falls back to
    observedTimeUnixNano when zero/absent, matching the collector
    convention. ``from_json`` + nested ``transform`` and ONE explode,
    shuffle-free (the former good/bad branch union re-ran the scan +
    from_json on both sides)."""
    parsed = payloads.select(
        F.col(payload_col).alias("_raw"),
        F.from_json(F.col(payload_col), _OTLP_LOGS_SCHEMA).alias("p"),
    )
    bad_row = F.struct(
        F.lit(None).cast("timestamp").alias("timestamp"),
        *[F.lit(None).cast(t).alias(n) for n, t in (
            ("trace_id", "string"), ("span_id", "string"),
            ("severity_text", "string"), ("severity_number", "int"),
            ("body", "string"), ("log_attributes", "string"),
            ("scope_name", "string"), ("resource_attributes", "string"))],
        F.concat(F.lit("invalid otlp logs payload: "),
                 F.substring("_raw", 1, 120)).alias("err"),
    )

    def _attrs_json(col):
        entries = F.transform(
            F.coalesce(col, F.expr(f"CAST(array() AS {_OTLP_ATTR})")),
            lambda e: F.struct(e["key"].alias("key"),
                               e["value"]["stringValue"].alias("value")),
        )
        return F.to_json(F.map_from_entries(entries))

    def _rl_rows(rl):
        res_json = _attrs_json(rl["resource"]["attributes"])

        def rec_row(sl, r):
            ts_ns = F.coalesce(
                F.nullif(r["timeUnixNano"].try_cast("long"), F.lit(0)),
                r["observedTimeUnixNano"].try_cast("long"),
            )
            return _quarantined(
                F.when(ts_ns.isNull(), F.lit("missing log record timestamp")),
                timestamp=_ns_to_ts(ts_ns),
                trace_id=r["traceId"],
                span_id=r["spanId"],
                severity_text=r["severityText"],
                severity_number=r["severityNumber"],
                body=r["body"]["stringValue"],
                log_attributes=_attrs_json(r["attributes"]),
                scope_name=sl["scope"]["name"],
                resource_attributes=res_json,
            )

        return F.flatten(F.transform(
            F.coalesce(rl["scopeLogs"], _no_elems(_OTLP_SCOPE_LOGS)),
            lambda sl: F.transform(
                F.coalesce(sl["logRecords"], _no_elems(_OTLP_LOGREC)),
                lambda r: rec_row(sl, r))))

    all_rows = F.when(
        F.col("p").isNull() | F.col("p.resourceLogs").isNull(),
        F.array(bad_row),
    ).otherwise(F.flatten(F.transform(F.col("p.resourceLogs"), _rl_rows)))
    return parsed.select(F.explode(all_rows).alias("r")).select("r.*")


def _esc(s: str, special: str) -> str:
    # backslash itself is NOT escaped (it is not an escapable char in
    # measurements/tags/keys — the parser keeps a backslash before a
    # non-escapable char literally, so escaping it here would double it).
    # Inherent format wart, same as InfluxDB's: content whose literal
    # backslash is immediately followed by a separator cannot round-trip.
    out = []
    for ch in s:
        if ch in special:
            out.append("\\")
        out.append(ch)
    return "".join(out)


def format_influx_line(table: str, tags: dict, fields: dict,
                       ts_ns: int | None = None) -> str:
    """Render one line of InfluxDB line protocol with full escaping — the
    emitter dual of :func:`parse_influx_lines` (measurement escapes ',' and
    ' '; tag/field keys and tag values escape ',', '=', ' '; string field
    values are quoted with '\"' and '\\\\' escaped; floats use repr, ints get
    the 'i' suffix, bools t/f). Useful for tests and for exporting tables as
    line protocol."""
    head = _esc(table, ", ")
    for k in sorted(tags):
        head += "," + _esc(str(k), ",= ") + "=" + _esc(str(tags[k]), ",= ")
    parts = []
    for k in sorted(fields):
        v = fields[k]
        if isinstance(v, bool):
            rv = "t" if v else "f"
        elif isinstance(v, int):
            rv = f"{v}i"
        elif isinstance(v, float):
            rv = repr(v)
        else:
            rv = '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'
        parts.append(_esc(str(k), ",= ") + "=" + rv)
    line = head + " " + ",".join(parts)
    if ts_ns is not None:
        line += f" {ts_ns}"
    return line


# ---- Prometheus remote write (snappy-compressed protobuf WriteRequest) ----
# Wire handling is self-contained: raw-snappy block decompression rides
# pyarrow's bundled snappy codec (the block format's varint preamble gives
# the decompressed size), and the WriteRequest message is decoded with a
# ~60-line reader for the public protobuf wire format — field numbers from
# the published prometheus/prompb/remote.proto + types.proto:
#   WriteRequest{ repeated TimeSeries timeseries = 1 }
#   TimeSeries  { repeated Label labels = 1; repeated Sample samples = 2 }
#   Label       { string name = 1; string value = 2 }
#   Sample      { double value = 1; int64 timestamp = 2 }  // ms epoch

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not (b & 0x80):
            return n, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _ld(fnum: int, body: bytes) -> bytes:
    """A length-delimited protobuf field."""
    return _varint((fnum << 3) | 2) + _varint(len(body)) + body


def snappy_decompress(buf: bytes) -> bytes:
    """Raw snappy block decompression via pyarrow's bundled codec; the
    block's own uncompressed-length preamble supplies the size pyarrow
    requires."""
    import pyarrow as pa

    n, _ = _read_varint(buf, 0)
    if n > 1 << 30:
        raise ValueError(f"implausible decompressed size {n}")
    return bytes(pa.Codec("snappy").decompress(buf, n))


def _decode_fields(buf: bytes):
    """Yield (field_number, wire_type, value) over one protobuf message;
    unknown fields are skipped per wire type."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        fnum, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _read_varint(buf, i)
        elif wt == 1:
            v, i = buf[i:i + 8], i + 8
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            v, i = buf[i:i + ln], i + ln
        elif wt == 5:
            v, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fnum, wt, v


def decode_write_request(payload: bytes) -> list[tuple[dict, list]]:
    """Snappy-compressed WriteRequest -> [(labels dict, [(value, ts_ms)])]."""
    import struct

    body = snappy_decompress(payload)
    series = []
    for fnum, wt, v in _decode_fields(body):
        if fnum != 1 or wt != 2:
            continue
        labels, samples = {}, []
        for sf, swt, sv in _decode_fields(v):
            if sf == 1 and swt == 2:          # Label
                name = value = b""
                for lf, _lwt, lv in _decode_fields(sv):
                    if lf == 1:
                        name = lv
                    elif lf == 2:
                        value = lv
                labels[name.decode("utf-8")] = value.decode("utf-8")
            elif sf == 2 and swt == 2:        # Sample
                val, ts = 0.0, 0
                for pf, pwt, pv in _decode_fields(sv):
                    if pf == 1 and pwt == 1:
                        val = struct.unpack("<d", pv)[0]
                    elif pf == 2 and pwt == 0:
                        # int64 varint; interpret two's complement
                        ts = pv - (1 << 64) if pv >= (1 << 63) else pv
                samples.append((val, ts))
        series.append((labels, samples))
    return series


PROM_NAME_LABEL = "__name__"  # src/servers/src/prom_store.rs:44


def parse_prom_remote_write(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Parse Prometheus remote-write payloads (snappy + protobuf) into rows:
    the ``__name__`` label names the target table, the remaining labels are
    tags, each sample lands as (greptime_timestamp ms, greptime_value f64)
    — the reference's /v1/prometheus/write conversion
    (src/servers/src/prom_store.rs:44-80, prom_row_builder.rs:33-120).

    Arrow-batched ``mapInPandas`` (binary wire decode is per-payload Python
    work confined to the ingest edge, like the influx tokenizer); malformed
    payloads yield one ``err`` row each instead of failing the batch."""
    import pandas as pd  # noqa: F811 (mapInPandas worker import)

    cols = ["table", "tags", TIME_INDEX, VALUE_COL, "err"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                try:
                    for labels, samples in decode_write_request(bytes(payload)):
                        name = labels.pop(PROM_NAME_LABEL, None)
                        if name is None:
                            raise ValueError("series without __name__ label")
                        for val, ts_ms in samples:
                            rows.append((name, labels,
                                         pd.Timestamp(ts_ms, unit="ms"),
                                         val, None))
                except (ValueError, IndexError, KeyError, OSError) as e:
                    # OSError: pyarrow raises ArrowIOError on corrupt snappy
                    rows.append((None, None, None, None,
                                 f"invalid remote write payload: {e}"))
            yield pd.DataFrame(rows, columns=cols)

    return payloads.mapInPandas(
        gen,
        schema=(f"table string, tags map<string,string>, "
                f"{TIME_INDEX} timestamp, {VALUE_COL} double, err string"),
    )


def encode_write_request(series: list[tuple[dict, list]]) -> bytes:
    """Emitter dual of :func:`decode_write_request` (tests + exporting):
    [(labels, [(value, ts_ms)])] -> snappy-compressed WriteRequest bytes."""
    import struct

    import pyarrow as pa

    msg = bytearray()
    for labels, samples in series:
        ts_body = bytearray()
        for k, v in labels.items():
            ts_body += _ld(1, _ld(1, k.encode()) + _ld(2, v.encode()))
        for val, ts_ms in samples:
            sample = (_varint((1 << 3) | 1) + struct.pack("<d", val)
                      + _varint(2 << 3) + _varint(ts_ms & 0xFFFFFFFFFFFFFFFF))
            ts_body += _ld(2, bytes(sample))
        msg += _ld(1, bytes(ts_body))
    return bytes(pa.Codec("snappy").compress(bytes(msg)))


# ---- Splunk HTTP Event Collector (HEC) -----------------------------------
# The reference's /v1/splunk endpoint family (src/servers/src/http/splunk.rs):
# /services/collector/event takes batches of JSON event objects (concatenated
# with ANY or NO separator, or as one top-level array); /services/collector/raw
# takes a verbatim text body, one event unless an explicit ?linebreaker= splits
# it. Event semantics (splunk.rs:215-275): `time` (epoch seconds, fractional
# ok, >=1e12 read as ms) -> timestamp; `index` -> table (sanitized to a valid
# name, splunk.rs:303-332); host/source/sourcetype + the flat `fields` object
# -> tags; `event` + remaining keys -> data. Server-only machinery (HEC
# response codes as HTTP replies, pipeline resolution, ack channels) has no
# batch analog; the HEC code + text for an invalid event land in `err`
# instead of rejecting the whole batch (the 100-TB-backfill posture used by
# every codec in this module — NOTE the reference rejects the full request).

SPLUNK_DEFAULT_TABLE = "splunk_logs"  # splunk.rs:58

_SPLUNK_NAME_RE = None  # compiled lazily (regex import kept top-of-function)


def _splunk_sanitize_index(raw: str) -> str | None:
    """Coerce a Splunk ``index`` into a valid table name per the reference's
    NAME_PATTERN (splunk.rs:303-332: body chars alnum/_/:/-/./@/#, first
    char alpha/_/:/-; invalid chars -> '_', bad first char -> prefixed '_');
    None for empty/whitespace input."""
    import re

    global _SPLUNK_NAME_RE
    if _SPLUNK_NAME_RE is None:
        # common_base regex_pattern.rs:18
        _SPLUNK_NAME_RE = re.compile(r"^[a-zA-Z_:-][a-zA-Z0-9_:\-.@#]*$")
    trimmed = raw.strip()
    if not trimmed:
        return None
    if _SPLUNK_NAME_RE.match(trimmed):
        return trimmed
    out = []
    for c in trimmed:
        out.append(c if (c.isascii() and c.isalnum()) or c in "_:-.@#" else "_")
    name = "".join(out)
    first = name[0]
    if not ((first.isascii() and first.isalpha()) or first in "_:-"):
        name = "_" + name
    return name if _SPLUNK_NAME_RE.match(name) else None


def _parse_hec_time(value):
    """HEC ``time`` -> pd.Timestamp (µs) or None: epoch seconds, fractional
    kept; values >= 1e12 read as epoch ms (splunk.rs:161-181)."""
    if isinstance(value, bool):
        return None
    if isinstance(value, (int, float)):
        n = float(value)
    elif isinstance(value, str):
        try:
            n = float(value.strip())
        except ValueError:
            return None
    else:
        return None
    if not math.isfinite(n):
        return None
    if n >= 1e12:
        return pd.Timestamp(int(n), unit="ms")
    secs = math.floor(n)
    frac_ns = int((n - secs) * 1e9)  # truncating like the reference
    return pd.Timestamp(secs * 1_000_000 + frac_ns // 1000, unit="us")


def _iter_hec_events(body: str):
    """Yield event values from a HEC body: JSON objects concatenated with
    any/no separator; top-level arrays are flattened (splunk.rs:153-157 /
    the shared transform_ndjson_array_factory). Raises ValueError on a
    malformed value — the caller maps that to one err row for the payload."""
    import json

    dec = json.JSONDecoder()
    i, n = 0, len(body)
    while True:
        while i < n and body[i] in " \t\r\n":
            i += 1
        if i >= n:
            return
        try:
            value, i = dec.raw_decode(body, i)
        except ValueError:
            raise ValueError("invalid data format")
        if isinstance(value, list):
            yield from value
        else:
            yield value


def _hec_stringify(v) -> str:
    import json

    return v if isinstance(v, str) else json.dumps(v, separators=(",", ":"))


def _hec_event_row(obj, query_table):
    """One HEC event object -> output tuple (table, tags, event, extra, ts,
    err). Mirrors splunk.rs validate_event (codes 12/13/6) +
    hec_event_to_map; `time` absent -> NULL timestamp (the reference falls
    back to wall-clock ingest time, which a deterministic batch transform
    must not bake in — callers coalesce with current_timestamp())."""
    import json

    if not isinstance(obj, dict):
        return (None, None, None, None, None,
                "hec code 6: skipping non-object event")
    ev = obj.get("event")
    if "event" not in obj:
        return (None, None, None, None, None,
                "hec code 12: Event field is required")
    if ev is None or (isinstance(ev, str) and not ev.strip()):
        return (None, None, None, None, None,
                "hec code 13: Event field cannot be blank")
    ts = None
    if obj.get("time") is not None:
        ts = _parse_hec_time(obj["time"])
        if ts is None:
            return (None, None, None, None, None,
                    "hec code 6: invalid data format")
    rest = {k: v for k, v in obj.items() if k not in ("event", "time")}
    index = rest.pop("index", None)
    table = (_splunk_sanitize_index(index) if isinstance(index, str) else None) \
        or query_table or SPLUNK_DEFAULT_TABLE
    tags = {}
    fields = rest.pop("fields", None)
    if isinstance(fields, dict):
        for k, v in fields.items():
            tags[k] = _hec_stringify(v)
    for key in ("host", "source", "sourcetype"):
        if key in rest:
            tags[key] = _hec_stringify(rest.pop(key))
    extra = json.dumps(rest, separators=(",", ":")) if rest else None
    return (table, tags, _hec_stringify(ev), extra, ts, None)


def parse_splunk_hec(
    payloads: DataFrame, payload_col: str = "payload",
    default_table: str | None = None,
) -> DataFrame:
    """Parse Splunk HEC ``/services/collector/event`` payloads into rows:
    (table, tags, event, extra json, greptime_timestamp, err) — the
    reference's splunk.rs:384-446 conversion. ``default_table`` mirrors the
    ``?table=`` query param (index -> table -> 'splunk_logs').

    Arrow-batched ``mapInPandas`` (HEC's separator-free concatenated-object
    batching needs an incremental JSON decoder, like the influx tokenizer);
    one pass at the ingest edge, no shuffle. A malformed payload yields one
    err row; an invalid event yields an err row carrying the reference's
    HEC code + text (the reference rejects the whole request instead)."""
    cols = ["table", "tags", "event", "extra", TIME_INDEX, "err"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                try:
                    events = list(_iter_hec_events(str(payload)))
                except ValueError:
                    rows.append((None, None, None, None, None,
                                 "hec code 6: invalid data format"))
                    continue
                if not events:
                    rows.append((None, None, None, None, None,
                                 "hec code 5: No data"))
                    continue
                rows.extend(_hec_event_row(ev, default_table) for ev in events)
            yield pd.DataFrame(rows, columns=cols, dtype=object)

    return payloads.mapInPandas(
        gen,
        schema=(f"table string, tags map<string,string>, event string, "
                f"extra string, {TIME_INDEX} timestamp, err string"),
    )


def parse_splunk_raw(
    payloads: DataFrame, payload_col: str = "payload",
    linebreaker: str | None = None,
    host: str | None = None, source: str | None = None,
    sourcetype: str | None = None, time: str | None = None,
    index: str | None = None, table: str | None = None,
) -> DataFrame:
    """Parse Splunk HEC ``/services/collector/raw`` bodies into rows:
    (table, tags, message, greptime_timestamp) — splunk.rs:455-529. Without
    ``linebreaker`` the whole body is ONE verbatim event (multiline stack
    traces stay intact); with it the body splits on that literal, dropping
    whitespace-only segments. host/source/sourcetype/time/index/table are
    request-level query params applying to every event; ``time`` is HEC
    epoch seconds (ValueError if unparsable, like the reference's code-6
    reject); absent time -> NULL timestamp (reference: ingest wall-clock).

    Pure column algebra — split/filter/explode are JVM-side and
    shuffle-free, so raw-event backfills parse at scan speed."""
    resolved = (_splunk_sanitize_index(index) if index else None) \
        or table or SPLUNK_DEFAULT_TABLE
    ts = None
    if time is not None:
        ts = _parse_hec_time(time)
        if ts is None:
            raise ValueError(f"hec code 6: invalid data format: time={time}")
    tags = {k: v for k, v in
            (("host", host), ("source", source), ("sourcetype", sourcetype))
            if v is not None}
    body = F.col(payload_col)
    if linebreaker:
        import re as _re

        # F.split takes a regex — quote the literal delimiter
        events = F.filter(
            F.split(body, _re.escape(linebreaker), -1),
            lambda s: F.trim(s) != "",
        )
    else:
        events = F.when(F.trim(body) != "", F.array(body)).otherwise(
            F.expr("CAST(array() AS array<string>)"))
    tag_col = (F.map_from_arrays(
        F.array(*[F.lit(k) for k in tags]),
        F.array(*[F.lit(v) for v in tags.values()]))
        if tags else F.expr("CAST(map() AS map<string,string>)"))
    # epoch-µs literal, independent of the session timezone
    ts_col = (F.timestamp_micros(F.lit(ts.value // 1000)) if ts is not None
              else F.lit(None).cast("timestamp"))
    return payloads.select(F.explode(events).alias("message")).select(
        F.lit(resolved).alias("table"),
        tag_col.alias("tags"),
        F.col("message"),
        ts_col.alias(TIME_INDEX),
    )


OTLP_TRACE_TABLE = "opentelemetry_traces"  # common_catalog consts.rs:186

_OTLP_SPAN = (
    f"struct<traceId:string,spanId:string,parentSpanId:string,name:string,"
    f"kind:string,startTimeUnixNano:string,endTimeUnixNano:string,"
    f"attributes:{_OTLP_ATTR},status:struct<code:string,message:string>>"
)
_OTLP_SCOPE_SPANS = f"struct<scope:{_OTLP_SCOPE},spans:array<{_OTLP_SPAN}>>"
_OTLP_TRACES_SCHEMA = (
    f"resourceSpans array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTR}>,"
    f"scopeSpans:array<{_OTLP_SCOPE_SPANS}>>>"
)


def parse_otlp_traces_json(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Parse OTLP/JSON trace export payloads into the reference's
    greptime_trace_v1 span rows (src/servers/src/otlp/trace.rs:23-66,
    trace/v1.rs:44-110): timestamp = span start (ns time index),
    timestamp_end, duration_nano, trace/span/parent ids, span_name,
    span_kind (OTLP's SPAN_KIND_ prefixed enum), span_status_code
    (STATUS_CODE_*, UNSET default), service_name promoted from the
    resource's ``service.name``, span/resource attributes as JSON, scope
    name; default table ``opentelemetry_traces``. ``from_json`` + nested
    ``transform`` and ONE explode, shuffle-free (the former good/bad branch
    union re-ran the scan + from_json on both sides)."""
    parsed = payloads.select(
        F.col(payload_col).alias("_raw"),
        F.from_json(F.col(payload_col), _OTLP_TRACES_SCHEMA).alias("p"),
    )
    bad_row = F.struct(
        F.lit(None).cast("timestamp").alias("timestamp"),
        *[F.lit(None).cast(t).alias(n) for n, t in (
            ("timestamp_end", "timestamp"), ("duration_nano", "long"),
            ("trace_id", "string"), ("span_id", "string"),
            ("parent_span_id", "string"), ("span_name", "string"),
            ("span_kind", "string"), ("span_status_code", "string"),
            ("service_name", "string"), ("span_attributes", "string"),
            ("resource_attributes", "string"), ("scope_name", "string"))],
        F.concat(F.lit("invalid otlp traces payload: "),
                 F.substring("_raw", 1, 120)).alias("err"),
    )

    def _attrs_json(col):
        entries = F.transform(
            F.coalesce(col, F.expr(f"CAST(array() AS {_OTLP_ATTR})")),
            lambda e: F.struct(e["key"].alias("key"),
                               e["value"]["stringValue"].alias("value")),
        )
        return F.to_json(F.map_from_entries(entries))

    def _attr(col, key):
        return F.element_at(
            F.map_from_entries(F.transform(
                F.coalesce(col, F.expr(f"CAST(array() AS {_OTLP_ATTR})")),
                lambda e: F.struct(e["key"].alias("key"),
                                   e["value"]["stringValue"].alias("value")))),
            key,
        )

    def _rs_rows(rs):
        res_attrs = rs["resource"]["attributes"]
        res_json = _attrs_json(res_attrs)
        service = _attr(res_attrs, "service.name")

        def span_row(ss, s):
            start_ns = s["startTimeUnixNano"].try_cast("long")
            end_ns = s["endTimeUnixNano"].try_cast("long")
            return _quarantined(
                F.when(start_ns.isNull(), F.lit("missing span start timestamp")),
                timestamp=_ns_to_ts(start_ns),
                timestamp_end=_ns_to_ts(end_ns),
                duration_nano=end_ns - start_ns,
                trace_id=s["traceId"],
                span_id=s["spanId"],
                parent_span_id=s["parentSpanId"],
                span_name=s["name"],
                span_kind=F.coalesce(s["kind"], F.lit("SPAN_KIND_UNSPECIFIED")),
                span_status_code=F.coalesce(s["status"]["code"],
                                            F.lit("STATUS_CODE_UNSET")),
                service_name=service,
                span_attributes=_attrs_json(s["attributes"]),
                resource_attributes=res_json,
                scope_name=ss["scope"]["name"],
            )

        return F.flatten(F.transform(
            F.coalesce(rs["scopeSpans"], _no_elems(_OTLP_SCOPE_SPANS)),
            lambda ss: F.transform(
                F.coalesce(ss["spans"], _no_elems(_OTLP_SPAN)),
                lambda s: span_row(ss, s))))

    all_rows = F.when(
        F.col("p").isNull() | F.col("p.resourceSpans").isNull(),
        F.array(bad_row),
    ).otherwise(F.flatten(F.transform(F.col("p.resourceSpans"), _rs_rows)))
    return parsed.select(F.explode(all_rows).alias("r")).select("r.*")


# ---- Prometheus remote write V2 (io.prometheus.write.v2.Request) ----------
# The reference negotiates v2 by content-type (http/prom_store.rs:62
# REMOTE_WRITE_V2_PROTO, remote_write_proto) and decodes the public
# prompb/io/prometheus/write/v2 Request: a symbol table (field 4) plus
# TimeSeries with labels_refs index PAIRS into it (v2.rs
# resolve_series_labels). Samples share the v1 (value, ts_ms) shape;
# native-histogram payloads are experimental in the reference and
# rejected unless opted in — mirrored here as a ValueError.

REMOTE_WRITE_V2_PROTO = "io.prometheus.write.v2.Request"
_LABEL_NAME_RE = None  # built lazily (validation.rs validate_label_name)


def remote_write_proto(content_type: str | None) -> str:
    """'v1' or 'v2' from the request content-type
    (http/prom_store.rs remote_write_proto: any x-protobuf with
    proto=io.prometheus.write.v2.Request is v2, everything else v1)."""
    if content_type and REMOTE_WRITE_V2_PROTO in content_type.replace(
            '"', "").replace("'", ""):
        return "v2"
    return "v1"


def zstd_decompress(buf: bytes) -> bytes:
    """Zstd frame decompression via pyarrow; the frame header's
    frame-content-size field supplies the size pyarrow requires, with a
    doubling fallback when the producer omitted it."""
    import pyarrow as pa

    codec = pa.Codec("zstd")
    size = _zstd_frame_content_size(buf)
    if size is not None:
        return bytes(codec.decompress(buf, size))
    guess = max(4 * len(buf), 1 << 12)
    while guess <= 1 << 30:
        try:
            return bytes(codec.decompress(buf, guess))
        except Exception:
            guess *= 4
    raise ValueError("unable to determine zstd decompressed size")


def _zstd_frame_content_size(buf: bytes) -> int | None:
    """RFC 8878 frame header parse: returns frame_content_size or None."""
    if len(buf) < 6 or buf[:4] != b"\x28\xb5\x2f\xfd":
        return None
    fhd = buf[4]
    fcs_flag, single_segment, dict_flag = fhd >> 6, (fhd >> 5) & 1, fhd & 3
    i = 5 + (0 if single_segment else 1)
    i += (0, 1, 2, 4)[dict_flag]
    if fcs_flag == 0:
        return buf[i] if single_segment and i < len(buf) else None
    width = (0, 2, 4, 8)[fcs_flag]
    if i + width > len(buf):
        return None
    n = int.from_bytes(buf[i:i + width], "little")
    return n + 256 if fcs_flag == 1 else n


def _try_decompress(payload: bytes, zstd: bool) -> bytes:
    """prom_remote_write/mod.rs try_decompress with the VictoriaMetrics
    mismatched-header fallback: try the declared compression, then the
    other one."""
    first, second = ((zstd_decompress, snappy_decompress) if zstd
                     else (snappy_decompress, zstd_decompress))
    try:
        return first(payload)
    except Exception:
        return second(payload)


def _valid_label_name(name: str) -> bool:
    """validation.rs validate_label_name: [a-zA-Z_][a-zA-Z0-9_]*."""
    global _LABEL_NAME_RE
    if _LABEL_NAME_RE is None:
        import re as _re

        _LABEL_NAME_RE = _re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*\Z")
    return bool(_LABEL_NAME_RE.match(name))


def decode_write_request_v2(payload: bytes,
                            zstd: bool = False) -> list[tuple[dict, list]]:
    """Compressed v2 Request -> [(labels dict incl __name__, [(value,
    ts_ms)])] — the v1 decoder's shape, so the downstream table routing is
    shared. Validations mirror v2.rs resolve_series_labels: symbols[0]
    must be "", labels_refs even and in-range, label names valid and
    unique per series, __name__ present and non-empty; native histograms
    rejected (experimental gate)."""
    import struct

    body = _try_decompress(payload, zstd)
    symbols: list[str] = []
    series_bufs: list[bytes] = []
    for fnum, wt, v in _decode_fields(body):
        if fnum == 4 and wt == 2:
            symbols.append(v.decode("utf-8"))
        elif fnum == 5 and wt == 2:
            series_bufs.append(v)
    if not series_bufs and not symbols:
        return []
    if not symbols or symbols[0] != "":
        raise ValueError(
            "remote write v2 symbols must start with an empty string")

    def symbol(idx: int, field: str) -> str:
        if idx >= len(symbols):
            raise ValueError(
                f"remote write v2 {field} symbol ref {idx} out of range")
        return symbols[idx]

    out = []
    for sbuf in series_bufs:
        refs: list[int] = []
        samples: list[tuple[float, int]] = []
        for fnum, wt, v in _decode_fields(sbuf):
            if fnum == 1 and wt == 2:  # packed labels_refs
                i = 0
                while i < len(v):
                    n, i = _read_varint(v, i)
                    refs.append(n)
            elif fnum == 1 and wt == 0:  # unpacked
                refs.append(v)
            elif fnum == 2 and wt == 2:  # Sample
                val, ts = 0.0, 0
                for pf, pwt, pv in _decode_fields(v):
                    if pf == 1 and pwt == 1:
                        val = struct.unpack("<d", pv)[0]
                    elif pf == 2 and pwt == 0:
                        ts = pv - (1 << 64) if pv >= (1 << 63) else pv
                samples.append((val, ts))
            elif fnum == 5 and wt == 2:  # Histogram
                raise ValueError(
                    "prometheus remote write v2 native histogram ingestion "
                    "is experimental; set prom_store."
                    "experimental_enable_prometheus_native_histogram = true "
                    "to enable it")
            # fields 3 (exemplars), 4 (metadata), 6 (created_timestamp)
            # intentionally ignored, like the reference
        if not samples:
            # the reference skips sample-less series before resolving
            # labels (v2.rs into_write_requests `continue`)
            continue
        if len(refs) % 2:
            raise ValueError(
                "remote write v2 labels_refs must contain name/value pairs")
        labels: dict = {}
        for j in range(0, len(refs), 2):
            name = symbol(refs[j], "label name")
            value = symbol(refs[j + 1], "label value")
            if not _valid_label_name(name):
                raise ValueError(
                    f"remote write v2 label name `{name}` is invalid")
            if name in labels:
                raise ValueError(
                    f"remote write v2 label name `{name}` is repeated")
            labels[name] = value
        if PROM_NAME_LABEL not in labels:
            raise ValueError("missing '__name__' label in time-series")
        if not labels[PROM_NAME_LABEL]:
            raise ValueError(
                "remote write v2 label `__name__` value must not be empty")
        out.append((labels, samples))
    return out


def encode_write_request_v2(series: list[tuple[dict, list]],
                            zstd: bool = False) -> bytes:
    """Emitter dual of :func:`decode_write_request_v2` (tests/export):
    builds the symbol table (index 0 = ""), packed labels_refs and
    samples, then snappy- or zstd-compresses."""
    import struct

    import pyarrow as pa

    table: dict[str, int] = {"": 0}

    def sym(s: str) -> int:
        if s not in table:
            table[s] = len(table)
        return table[s]

    ts_bufs = []
    for labels, samples in series:
        refs = bytearray()
        for k, v in labels.items():
            refs += _varint(sym(k)) + _varint(sym(v))
        body = _ld(1, bytes(refs))
        for val, ts_ms in samples:
            body += _ld(2, _varint((1 << 3) | 1) + struct.pack("<d", val)
                       + _varint(2 << 3)
                       + _varint(ts_ms & 0xFFFFFFFFFFFFFFFF))
        ts_bufs.append(body)
    msg = bytearray()
    for s, _ in sorted(table.items(), key=lambda kv: kv[1]):
        msg += _ld(4, s.encode("utf-8"))
    for b in ts_bufs:
        msg += _ld(5, b)
    codec = pa.Codec("zstd" if zstd else "snappy")
    return bytes(codec.compress(bytes(msg)))


def parse_prom_remote_write_v2(
    payloads: DataFrame, payload_col: str = "payload",
    zstd: bool = False,
) -> DataFrame:
    """v2 twin of :func:`parse_prom_remote_write`: same output schema
    (table, tags, greptime_timestamp, greptime_value, err), Arrow-batched
    decode at the ingest edge, malformed payloads -> one err row."""
    import pandas as pd  # noqa: F811 (mapInPandas worker import)

    cols = ["table", "tags", TIME_INDEX, VALUE_COL, "err"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                try:
                    for labels, samples in decode_write_request_v2(
                            bytes(payload), zstd=zstd):
                        name = labels.pop(PROM_NAME_LABEL)
                        for val, ts_ms in samples:
                            rows.append((name, labels,
                                         pd.Timestamp(ts_ms, unit="ms"),
                                         val, None))
                except (ValueError, IndexError, KeyError, OSError) as e:
                    rows.append((None, None, None, None,
                                 f"invalid remote write v2 payload: {e}"))
            yield pd.DataFrame(rows, columns=cols)

    return payloads.mapInPandas(
        gen,
        schema=(f"table string, tags map<string,string>, "
                f"{TIME_INDEX} timestamp, {VALUE_COL} double, err string"),
    )
