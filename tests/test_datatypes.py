"""greptimedb_spark/datatypes.py: one row per stored type, every rendering
derived from it, and the ratchet that keeps type spellings out of every
other module. The SQL tests pin the renderings that used to depend on how a
type was spelled."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from greptimedb_spark import datatypes
from greptimedb_spark.catalog import Catalog
from greptimedb_spark.sql import GreptimeSQL

PKG = Path(__file__).resolve().parents[1] / "greptimedb_spark"

# spellings that are also Spark SQL or numpy type names, PostgreSQL names,
# plain words, or the canonical names the engine tests columns by: they
# appear elsewhere with other meanings
_SHARED = {
    "tinyint", "smallint", "int", "integer", "bigint", "float", "double",
    "real", "string", "text", "char", "varchar", "binary", "boolean", "bool",
    "date", "datetime", "timestamp", "decimal", "interval", "utf8",
    "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64",
    "float32", "float64", "json", "json2", "vector",
}


def _aliases() -> set[str]:
    spellings = {s.split("(")[0] for row in datatypes.TYPES
                 for s in row.spellings}
    return (spellings | set(datatypes.JSON2_HINTS)) - _SHARED


def test_type_spellings_live_only_in_datatypes():
    aliases = _aliases()
    assert {"int4", "float8", "mediumtext", "bytea", "utf8view",
            "timestamp_ms", "timestampnanosecond", "bigint unsigned"} <= aliases
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "datatypes.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and node.value in aliases:
                found.append(f"{path.relative_to(PKG)}:{node.lineno} "
                             f"{node.value!r}")
    assert not found, "type spellings outside datatypes.py:\n" + "\n".join(found)


@pytest.mark.parametrize("row", datatypes.TYPES, ids=lambda r: r.name)
def test_every_spelling_of_a_row_renders_alike(row):
    for s in row.spellings:
        decl = s.replace("(n)", "(3)").replace("(p,s)", "(12,4)")
        again = datatypes.sql_name(decl).lower()
        assert datatypes.desc_name(decl) == datatypes.desc_name(again), s
        assert datatypes.sql_name(again).lower() == again, s
        assert datatypes.spark_type(decl) == datatypes.spark_type(again) \
            or "decimal" in decl, s


@pytest.fixture(scope="module")
def g(spark, tmp_path_factory):
    g = GreptimeSQL(spark, catalog=Catalog(
        spark, str(tmp_path_factory.mktemp("datatypes_cat"))))
    g.sql("CREATE TABLE spelled (ts TIMESTAMP(3) TIME INDEX, "
          "b1 BLOB, b2 TINYBLOB, b3 MEDIUMBLOB, b4 LONGBLOB, b5 BYTEA, "
          "vc VARCHAR(10), ch CHAR(5), u UTF8, d DECIMAL, d2 DECIMAL(10,2))")
    return g


def _desc(g, table):
    return {r[0]: r[1] for r in g.sql(f"DESC {table}").collect()}


def test_blob_spellings_print_as_binary(g):
    """(a) every blob spelling and BYTEA print as BINARY does."""
    desc = _desc(g, "spelled")
    ddl = g.sql("SHOW CREATE TABLE spelled").collect()[0][1]
    cols = {r.column_name: r.data_type for r in g.sql(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'spelled'").collect()}
    for c in ("b1", "b2", "b3", "b4", "b5"):
        assert desc[c] == "Binary"
        assert f'"{c}" VARBINARY NULL' in ddl
        assert cols[c] == "varbinary"


def test_sized_char_spellings_print_as_string(g):
    """(b) VARCHAR(n) / CHAR(n) (and the arrow Utf8 names) print as
    STRING does, collation included."""
    desc = _desc(g, "spelled")
    full = {r.Field: r for r in g.sql("SHOW FULL COLUMNS FROM spelled").collect()}
    greptime = {r.column_name: r.greptime_data_type for r in g.sql(
        "SELECT column_name, greptime_data_type FROM information_schema.columns "
        "WHERE table_name = 'spelled'").collect()}
    for c in ("vc", "ch", "u"):
        assert desc[c] == greptime[c] == "String"
        assert full[c].Collation == "utf8_bin" and full[c].Type == "string"


def test_bare_decimal_prints_as_decimal_38_10(g):
    """(c) bare DECIMAL is DECIMAL(38, 10) everywhere."""
    desc = _desc(g, "spelled")
    ddl = g.sql("SHOW CREATE TABLE spelled").collect()[0][1]
    assert desc["d"] == "Decimal(38, 10)" and desc["d2"] == "Decimal(10, 2)"
    assert '"d" DECIMAL(38, 10) NULL' in ddl
    assert dict(g.sql("SELECT * FROM spelled").dtypes)["d"] == "decimal(38,10)"


def test_metric_logical_column_accepts_any_spelling_of_its_type(g):
    """(d) a logical table may spell the physical column's type another way;
    a different type is still rejected."""
    g.sql('CREATE TABLE phy_t (ts TIMESTAMP TIME INDEX, val DOUBLE, '
          'n STRING) ENGINE = metric WITH ("physical_metric_table" = "")')
    g.sql('CREATE TABLE lg_f64 (ts TIMESTAMP_MS TIME INDEX, val FLOAT64, '
          'n VARCHAR(8), host STRING PRIMARY KEY) ENGINE = metric '
          'WITH ("on_physical_table" = "phy_t")')
    assert _desc(g, "lg_f64")["val"] == "Float64"
    with pytest.raises(ValueError, match="Column type mismatch for val"):
        g.sql('CREATE TABLE lg_bad (ts TIMESTAMP TIME INDEX, val FLOAT32, '
              'host STRING PRIMARY KEY) ENGINE = metric '
              'WITH ("on_physical_table" = "phy_t")')


def test_pg_attribute_decimal_oid(g):
    """(e) a DECIMAL(p,s) column is numeric (1700) in pg_attribute."""
    g.protocol = "postgres"
    try:
        oids = {r.attname: r.atttypid for r in g.sql(
            "SELECT a.attname, a.atttypid FROM pg_catalog.pg_attribute a "
            "JOIN pg_catalog.pg_class c ON c.oid = a.attrelid "
            "WHERE c.relname = 'spelled'").collect()}
    finally:
        g.protocol = "mysql"
    assert oids["d2"] == oids["d"] == 1700
    assert oids["b1"] == 17 and oids["vc"] == 25 and oids["ts"] == 1114


def test_flow_sink_tinyint_column_stays_int8(g):
    """A flow's auto-created sink declares a TINYINT output as Int8 (the
    byte-width alias int8 would make it Int64)."""
    g.sql("CREATE TABLE fsrc (ts TIMESTAMP TIME INDEX, k STRING PRIMARY KEY, "
          "v TINYINT)")
    g.sql("CREATE FLOW f_i8 SINK TO fsink AS SELECT k, max(v) AS m, "
          "date_bin(INTERVAL '1 minute', ts) AS w FROM fsrc GROUP BY k, w")
    assert _desc(g, "fsink")["m"] == "Int8"
    assert '"m" TINYINT NULL' in g.sql("SHOW CREATE TABLE fsink").collect()[0][1]


def test_foreign_table_prints_each_spelling_as_its_canonical_type(g):
    """SHOW CREATE TABLE ... FOR POSTGRES_FOREIGN_TABLE maps a column through
    its type's SHOW CREATE spelling, so every alias prints the PostgreSQL
    type its canonical spelling prints."""
    g.sql("CREATE TABLE fdw (ts TIMESTAMP TIME INDEX, i64 INT64, "
          "big BIGINT, f64 FLOAT64, dbl DOUBLE, tt TINYTEXT, s STRING, "
          "u8 UINT8, u8b TINYINT UNSIGNED, bl BLOB, bi BINARY, "
          "dt DATETIME)")
    ddl = g.sql("SHOW CREATE TABLE fdw FOR POSTGRES_FOREIGN_TABLE"
                ).collect()[0][1]
    types = dict(line.strip().rstrip(",").replace('"', "").split(" ", 1)
                 for line in ddl.splitlines() if line.startswith('  "'))
    assert types["i64"] == types["big"] == "INT8"
    assert types["f64"] == types["dbl"] == "FLOAT8"
    assert types["tt"] == types["s"] == "VARCHAR"
    assert types["u8"] == types["u8b"] == "INT2"
    assert types["bl"] == types["bi"] == "BYTEA"
    assert types["dt"] == types["ts"] == "TIMESTAMP"


def test_datetime_integer_literals_are_microseconds(g):
    """DATETIME is the microsecond timestamp row: integer literals and
    integer DEFAULTs read as µs, as they do for TIMESTAMP(6)."""
    g.sql("CREATE TABLE dtl (ts DATETIME TIME INDEX, c DATETIME, "
          "d DATETIME DEFAULT 2500, v INT)")
    g.sql("INSERT INTO dtl (ts, c, v) VALUES (0, 1500, 1)")
    row = g.sql("SELECT CAST(c AS STRING) AS c, CAST(d AS STRING) AS d "
                "FROM dtl").collect()[0]
    assert row.c == "1970-01-01 00:00:00.0015"
    assert row.d == "1970-01-01 00:00:00.0025"


@pytest.mark.parametrize("p", ["1", "2", "4", "5", "7", "8", "12"])
def test_timestamp_precision_outside_the_four_units_is_rejected(g, p):
    with pytest.raises(ValueError, match=rf"column name: t, .*TIMESTAMP\({p}\)"):
        g.sql(f"CREATE TABLE tp{p} (ts TIMESTAMP TIME INDEX, t TIMESTAMP({p}))")
    g.sql("CREATE TABLE IF NOT EXISTS tp_alter (ts TIMESTAMP TIME INDEX)")
    with pytest.raises(ValueError, match=rf"column name: t, .*TIMESTAMP\({p}\)"):
        g.sql(f"ALTER TABLE tp_alter ADD COLUMN t TIMESTAMP({p})")
