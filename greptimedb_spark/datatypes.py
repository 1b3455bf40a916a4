"""GreptimeDB data types, declared once.

One row per type the engine stores, after the reference's
``ConcreteDataType`` enum (``src/datatypes/src/data_type.rs``): the
spellings a column declaration or a cast accepts, the Spark type the value is
stored as, and every rendering that is read back. That is the DESC name (the
enum's display), the SHOW CREATE TABLE spelling, the HTTP wire name, the
``arrow_typeof`` name and the PostgreSQL type. A new spelling is one more
string in its row; nothing outside this module matches type names.

Timestamp precision is one rule. ``TIMESTAMP(p)`` declares the precision
digit p, bare ``TIMESTAMP`` declares 3, and a unit alias (``timestamp_s``,
``TimestampNanosecond``, ...) declares its unit's digit. The digit gives the
DESC unit, the unit of an integer literal (0 s, 3 ms, 6 µs, 9 ns) and the
unit that a cast or a stored value truncates to. Spark keeps microseconds,
so nanoseconds truncate to microseconds, and the µs and ns unit aliases cast
without truncating. ``DATETIME`` is an alias of the microsecond row, so its
integer literals are microseconds.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import types as T


class Precision(NamedTuple):
    unit: str        # DESC unit: TimestampSecond, ...
    trunc: str       # date_trunc unit of a cast or a stored value
    from_epoch: str  # Spark expression of an integer literal {v}
    to_epoch: str    # integer literal of a timestamp column {c}


PRECISIONS = {
    "0": Precision("Second", "SECOND",
                   "timestamp_seconds({v})", "unix_seconds({c})"),
    "3": Precision("Millisecond", "MILLISECOND",
                   "timestamp_millis({v})", "unix_millis({c})"),
    "6": Precision("Microsecond", "MICROSECOND",
                   "timestamp_micros({v})", "unix_micros({c})"),
    "9": Precision("Nanosecond", "MICROSECOND",
                   "timestamp_micros(CAST({v} / 1000 AS BIGINT))",
                   "unix_micros({c}) * 1000"),
}
DEFAULT_PRECISION = "3"


class DataType(NamedTuple):
    name: str                   # DESC name; {0}, {1} take the parameters
    sql: str                    # SHOW CREATE TABLE spelling
    spark: T.DataType           # what a column of this type stores
    # lower case; "(n)" / "(p,s)" mark a parameterized form. The first
    # spelling is the one a flow sink declares for the row's Spark type.
    spellings: tuple[str, ...]
    # the renderings of the Spark type this row owns (None: not the owner)
    wire: str | None = None     # HTTP column_schemas name
    arrow: str | None = None    # arrow_typeof name
    pg: tuple[int, str] | None = None  # PostgreSQL oid and format_type name
    precision: str | None = None


def _timestamp(p: str, *spellings: str, **owner) -> DataType:
    return DataType(f"Timestamp{PRECISIONS[p].unit}", f"TIMESTAMP({p})",
                    T.TimestampType(), spellings, precision=p, **owner)


# greptime type → spark type (SURVEY.md §1.2). int2/int4/int8 are Postgres
# width-in-BYTES aliases (reference create_type_alias.result: i8 → Int64);
# utf8/largeutf8/utf8view are the arrow string type names
# (arrow_cast(x, 'Utf8'), x::Utf8)
TYPES = (
    DataType("Int8", "TINYINT", T.ByteType(), ("tinyint",),
             "Int8", "Int8", (21, "smallint")),
    DataType("Int16", "SMALLINT", T.ShortType(), ("int16", "smallint", "int2"),
             "Int16", "Int16", (21, "smallint")),
    DataType("Int32", "INT", T.IntegerType(),
             ("int32", "int", "integer", "int4"),
             "Int32", "Int32", (23, "integer")),
    DataType("Int64", "BIGINT", T.LongType(), ("int64", "bigint", "int8"),
             "Int64", "Int64", (20, "bigint")),
    DataType("UInt8", "TINYINT UNSIGNED", T.ShortType(),
             ("uint8", "tinyint unsigned")),
    DataType("UInt16", "SMALLINT UNSIGNED", T.IntegerType(),
             ("uint16", "smallint unsigned")),
    DataType("UInt32", "INT UNSIGNED", T.LongType(),
             ("uint32", "int unsigned")),
    DataType("UInt64", "BIGINT UNSIGNED", T.DecimalType(20, 0),
             ("uint64", "bigint unsigned")),
    DataType("Float32", "FLOAT", T.FloatType(), ("float32", "float", "float4"),
             "Float32", "Float32", (700, "real")),
    DataType("Float64", "DOUBLE", T.DoubleType(),
             ("float64", "double", "float8"),
             "Float64", "Float64", (701, "double precision")),
    # bare DECIMAL is Decimal128(38, 10) in DataFusion; Spark's default
    # would be (10, 0)
    DataType("Decimal({0}, {1})", "DECIMAL({0}, {1})", T.DecimalType(38, 10),
             ("decimal", "decimal(p,s)"), "Decimal128({0}, {1})",
             "Decimal128({0}, {1})", (1700, "numeric")),
    # length-parameterized char types are plain UTF-8 strings in the
    # reference; Spark's CHAR/VARCHAR padding semantics don't apply
    DataType("String", "STRING", T.StringType(),
             ("string", "varchar", "text", "char", "tinytext", "mediumtext",
              "longtext", "utf8", "largeutf8", "utf8view", "varchar(n)",
              "char(n)"),
             "String", "Utf8", (25, "text")),
    DataType("Binary", "VARBINARY", T.BinaryType(),
             ("binary", "varbinary", "bytea", "blob", "tinyblob", "mediumblob",
              "longblob"),
             "Binary", "Binary", (17, "bytea")),
    DataType("Boolean", "BOOLEAN", T.BooleanType(), ("boolean", "bool"),
             "Boolean", "Boolean", (16, "boolean")),
    DataType("Date", "DATE", T.DateType(), ("date",),
             "Date", "Date32", (1082, "date")),
    # reference type aliases (src/sql/src/type_alias.rs): TimestampSecond /
    # Timestamp_s / Timestamp_sec etc.; arrow cast shorthands appear via
    # ::casts
    _timestamp("0", "timestamp_s", "timestamp_sec", "timestampsecond"),
    _timestamp("3", "timestamp", "timestamp_ms", "timestampmillisecond"),
    # Spark timestamps are µs-resolution, so this row owns Spark's type
    _timestamp("6", "timestamp_us", "timestampmicrosecond", "datetime",
               wire="TimestampMicrosecond",
               arrow="Timestamp(Microsecond, None)",
               pg=(1114, "timestamp without time zone")),
    _timestamp("9", "timestamp_ns", "timestampnanosecond"),
    DataType("Interval", "INTERVAL", T.CalendarIntervalType(), ("interval",),
             None, "Interval(MonthDayNano)", (1186, "interval")),
    # reference JSONB column ↔ canonical JSON text
    DataType("Json", "JSON", T.StringType(), ("json",), pg=(114, "json")),
    # json2: the reference's variant storage (flat SST format, RFC json2) ↔
    # Spark VARIANT (binary variant encoding, same design point)
    DataType("Json2", "JSON2", T.VariantType(), ("json2",)),
    # the reference's vector type is packed little-endian f32 bytes — raw
    # column scans print the hex form (types/vector/vector.result)
    DataType("Vector({0})", "VECTOR({0})", T.BinaryType(), ("vector(n)",)),
)

_SPELLINGS = {s: row for row in TYPES for s in row.spellings}
_BY_PRECISION = {row.precision: row for row in TYPES if row.precision}
# a Spark type's owner, by Spark's SQL name and its type name (bigint/long)
_OWNERS = {k: row for row in TYPES if row.arrow
           for k in (re.match(r"[a-z_]+", row.spark.simpleString()).group(),
                     row.spark.typeName())}
_PARAMS = re.compile(r"(\w+)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)")

# PostgreSQL type names by oid (format_type)
PG_NAMES = {row.pg[0]: row.pg[1] for row in TYPES if row.pg}

# JSON2 typed-field hints take these spellings; the reference rejects the
# rest (json2_type_hints.result rejects TIMESTAMP). REAL is Float32.
JSON2_HINTS = {"real": _SPELLINGS["float"], **{s: _SPELLINGS[s] for s in (
    "bigint", "int", "integer", "smallint", "tinyint", "double", "float",
    "string", "text", "varchar", "boolean", "bool")}}


def precision(decl: str) -> str | None:
    """Precision digit of a declared timestamp type, or None if it is not
    one (see the module docstring)."""
    t = decl.strip().lower()
    m = re.fullmatch(r"timestamp\s*(?:\((\d)\))?", t)
    if m:
        return m.group(1) or DEFAULT_PRECISION
    row = _SPELLINGS.get(t)
    return row.precision if row else None


def timestamp_rule(decl: str | None) -> Precision:
    """The precision rule of a declared type; milliseconds when it
    declares no precision."""
    return PRECISIONS.get(precision(decl or ""), PRECISIONS[DEFAULT_PRECISION])


def cast_trunc(decl: str) -> str | None:
    """date_trunc unit of a cast to, or a value stored in, a timestamp
    type. TIMESTAMP(6)/(9) truncate to microseconds (a no-op that names the
    cast's column); their unit aliases cast plainly."""
    t = re.sub(r"\s+", "", decl.lower())
    p = precision(t)
    if p not in PRECISIONS or (p in "69" and "(" not in t):
        return None
    return PRECISIONS[p].trunc


def _resolve(decl: str) -> tuple[DataType | None, tuple[str, ...]]:
    """(row, declared parameters) of a spelling; (None, ()) if it names no
    stored type."""
    t = decl.strip().lower()
    row = _BY_PRECISION.get(precision(t)) or _SPELLINGS.get(t)
    if row is not None:
        return row, ()
    m = _PARAMS.fullmatch(t)
    if m:
        args = tuple(a for a in m.groups()[1:] if a is not None)
        row = _SPELLINGS.get(m.group(1) + ("(p,s)" if len(args) > 1 else "(n)"))
        if row is not None:
            return row, args
    return None, ()


def _render(template: str, row: DataType, args: tuple) -> str:
    return template.format(*(args or re.findall(r"\d+", row.spark.simpleString())))


def spark_type(decl: str) -> str:
    """The Spark type a declared type stores as. Unknown words keep their
    spelling for Spark to judge; the timestamp and vector families store as
    their base type whatever the suffix."""
    t = decl.strip().lower()
    row, args = _resolve(t)
    if row is None:
        if t.startswith("timestamp"):
            return "timestamp"
        return "binary" if t.startswith("vector") else t
    if args and isinstance(row.spark, T.DecimalType):
        return t  # declared precision and scale pass through as written
    return row.spark.simpleString()


def desc_name(decl: str) -> str:
    """The DESC / information_schema ``greptime_data_type`` name."""
    row, args = _resolve(decl)
    return _render(row.name, row, args) if row else decl.strip().lower().capitalize()


def sql_name(decl: str) -> str:
    """The spelling SHOW CREATE TABLE prints (reference
    src/sql/src/statements.rs concrete_data_type_to_sql_data_type)."""
    row, args = _resolve(decl)
    return _render(row.sql, row, args) if row else decl.upper()


def sink_spelling(spark: str) -> str:
    """The type a flow's auto-created sink declares for a Spark output type:
    its owner's first spelling, timestamps at the default precision.
    Parameterized and unowned Spark types declare themselves."""
    row = _OWNERS.get(spark)
    if row is None:
        return spark
    return f"timestamp({DEFAULT_PRECISION})" if row.precision else row.spellings[0]


def _owner(spark: str) -> DataType | None:
    return _OWNERS.get(re.match(r"[a-z_]*", spark.lower()).group())


def _owned(dt: T.DataType, field: str) -> str:
    """The owner's ``field`` rendering of a Spark type, else its own name."""
    row = _owner(dt.simpleString())
    template = getattr(row, field) if row else None
    if template is None:
        return dt.simpleString()
    return template.format(*re.findall(r"\d+", dt.simpleString()))


def wire_name(dt: T.DataType) -> str:
    """HTTP column type name of an atomic Spark type."""
    if isinstance(dt, T.TimestampNTZType):
        dt = T.TimestampType()  # the same µs values, without a zone
    return _owned(dt, "wire")


def arrow_name(dt: T.DataType) -> str:
    """DataFusion/Arrow display name of a Spark type (arrow_typeof)."""
    return _owned(dt, "arrow")


def pg_oid(spark: str) -> int:
    """PostgreSQL type oid of a stored Spark type (text when none fits)."""
    return (_owner(spark) or _SPELLINGS["string"]).pg[0]
