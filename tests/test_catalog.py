"""Merge-view semantics: LastRow vs LastNonNull vs append mode.

Mirrors the reference's dedup reader behavior (src/mito2/src/read/dedup.rs)
via the sensor_sparse fixture shape from FIXTURES.md §5.
"""

import datetime as dt

import pytest

from greptimedb_spark.catalog import Catalog, TableMeta

TS = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path))


def _mk_rows():
    # (ts, sensor_id, temperature, humidity) written in three batches; the
    # same (sensor, ts) key gets partial overwrites.
    b1 = [(TS(0), "s1", 20.0, 50.0), (TS(0), "s2", 21.0, None), (TS(1), "s1", 22.0, 52.0)]
    b2 = [(TS(0), "s1", None, 55.0)]  # overwrite humidity only
    b3 = [(TS(0), "s2", 25.0, None)]  # overwrite temperature only
    return b1, b2, b3


SCHEMA = "ts timestamp, sensor_id string, temperature double, humidity double"


def _write(cat, spark, mode):
    meta = TableMeta(name=f"sensor_{mode}", time_index="ts", tags=["sensor_id"], merge_mode=mode)
    cat.create_table(meta)
    for batch in _mk_rows():
        cat.insert(meta.name, spark.createDataFrame(batch, SCHEMA))
    return meta.name


def test_last_row(cat, spark):
    name = _write(cat, spark, "last_row")
    rows = {(r.sensor_id, r.ts.second): (r.temperature, r.humidity) for r in cat.read(name).collect()}
    assert rows[("s1", 0)] == (None, 55.0)  # whole-row last-write-wins
    assert rows[("s2", 0)] == (25.0, None)
    assert rows[("s1", 1)] == (22.0, 52.0)
    assert len(rows) == 3


def test_last_non_null(cat, spark):
    name = _write(cat, spark, "last_non_null")
    rows = {(r.sensor_id, r.ts.second): (r.temperature, r.humidity) for r in cat.read(name).collect()}
    assert rows[("s1", 0)] == (20.0, 55.0)  # per-field last non-null
    assert rows[("s2", 0)] == (25.0, None)  # humidity never written non-null
    assert len(rows) == 3


def test_append_mode(cat, spark):
    meta = TableMeta(name="logs", time_index="ts", tags=["sensor_id"], append_mode=True)
    cat.create_table(meta)
    for batch in _mk_rows():
        cat.insert(meta.name, spark.createDataFrame(batch, SCHEMA))
    assert cat.read(meta.name).count() == 5  # no dedup


def test_compact_preserves_merge(cat, spark):
    name = _write(cat, spark, "last_non_null")
    before = sorted(map(tuple, cat.read(name).collect()))
    cat.compact(name)
    after = sorted(map(tuple, cat.read(name).collect()))
    assert before == after


def test_ttl(cat, spark):
    meta = TableMeta(name="ttl_t", time_index="ts", tags=["sensor_id"], ttl="1 HOUR")
    cat.create_table(meta)
    cat.insert(meta.name, spark.createDataFrame(_mk_rows()[0], SCHEMA))
    # TTL expires at flush/compaction, not at read (reference semantics)
    assert cat.read(meta.name).count() == 3
    assert cat.read(meta.name, at="2024-01-01 00:30:00").count() == 3
    cat.flush_table(meta.name)
    assert cat.read(meta.name).count() == 0  # 2024 data long expired


def test_read_series_ordering(cat, spark):
    name = _write(cat, spark, "last_row")
    df = cat.read_series(name)

    def check_sorted(it):
        rows = list(it)
        keys = [(r.sensor_id, r.ts) for r in rows]
        assert keys == sorted(keys)
        yield from []

    df.rdd.mapPartitions(lambda it: check_sorted(it)).count()  # raises if unsorted
    assert df.count() == 3


def test_lazy_cast_drop_readd_no_resurrection(spark, tmp_path):
    """A column dropped AFTER type modifications must not resurrect its old
    generations when a same-named column is re-added."""
    from greptimedb_spark.catalog import Catalog, TableMeta

    cat = Catalog(spark, str(tmp_path / "lazycast"))
    cat.create_table(TableMeta(
        name="lz", time_index="ts", tags=[],
        columns=[["ts", "timestamp", "timestamp(3)", None, True],
                 ["v", "double", "double", None, False]]))
    df = spark.createDataFrame([(1000, 0.1), (2000, 7.5)], "t long, v double") \
        .selectExpr("timestamp_millis(t) AS ts", "v")
    cat.insert("lz", df)
    # modify double -> string: stored f64 re-renders as its decimal text
    cat.modify_column("lz", "v", "string", "STRING")
    got = {r.v for r in cat.read("lz").collect()}
    assert got == {"0.1", "7.5"}
    # drop, re-add as int: old generations must stay invisible
    cat.drop_column("lz", "v")
    meta = cat.meta("lz")
    cat._update_meta("lz", columns=meta.columns + [["v", "int", "INT", None, False]])
    got = [r.v for r in cat.read("lz").collect()]
    assert got == [None, None]
    # new writes land in the fresh generation and render normally
    df2 = spark.createDataFrame([(3000, 42)], "t long, v int") \
        .selectExpr("timestamp_millis(t) AS ts", "v")
    cat.insert("lz", df2)
    got = {r.v for r in cat.read("lz").collect()}
    assert got == {None, 42}


def test_drop_readd_never_modified_no_resurrection(spark, tmp_path):
    """Dropping a NEVER-modified column then re-adding the same name must not
    resurrect the old stored values (reference: re-add gets a fresh column
    id). Regression: the drop sentinel used to be recorded only for columns
    that already had col_history."""
    from greptimedb_spark.catalog import Catalog, TableMeta

    cat = Catalog(spark, str(tmp_path / "dropreadd"))
    cat.create_table(TableMeta(
        name="dr", time_index="ts", tags=[],
        columns=[["ts", "timestamp", "timestamp(3)", None, True],
                 ["v", "double", "double", None, False]]))
    df = spark.createDataFrame([(1000, 0.5), (2000, 7.5)], "t long, v double") \
        .selectExpr("timestamp_millis(t) AS ts", "v")
    cat.insert("dr", df)
    cat.drop_column("dr", "v")
    meta = cat.meta("dr")
    cat._update_meta("dr", columns=meta.columns + [["v", "double", "DOUBLE", None, False]])
    assert [r.v for r in cat.read("dr").collect()] == [None, None]
    # new writes land in the fresh generation
    df2 = spark.createDataFrame([(3000, 9.0)], "t long, v double") \
        .selectExpr("timestamp_millis(t) AS ts", "v")
    cat.insert("dr", df2)
    assert {r.v for r in cat.read("dr").collect()} == {None, 9.0}


def _files_per_bucket(cat, name):
    """{bucket directory: parquet file count} of a table's stored files."""
    import pathlib

    data = pathlib.Path(cat.base_path) / name / "data"
    return {d.name: len(list(d.glob("*.parquet")))
            for d in data.iterdir() if d.is_dir()}


def _influx_frame(spark):
    from pyspark.sql import functions as F

    from greptimedb_spark.sources import protocols

    sec = 10**9
    lines = spark.createDataFrame(
        [(f"cpu,host=h{i % 3} usage={i}.5 "
          f"{(1704067200 + (i % 2) * 86_400 + i) * sec}",)
         for i in range(40)], "line string").repartition(4)
    wide = protocols.influx_pivot(protocols.parse_influx_lines(lines), "cpu")
    return wide.select(F.col(protocols.TIME_INDEX).alias("ts"),
                       F.col("tags")["host"].alias("sensor_id"),
                       F.col("usage").cast("double").alias("temperature"),
                       F.lit(None).cast("double").alias("humidity"))


@pytest.mark.parametrize("frame", ["one_partition", "four_partitions", "influx"])
def test_one_file_per_bucket(cat, spark, frame):
    """Every write stores one file per time bucket: an insert whatever its
    input partitioning, and the DELETE and compaction rewrites."""
    if frame == "influx":
        df = _influx_frame(spark)
    else:
        rows = [(dt.datetime(2024, 1, 1 + i % 2, 0, 0, i), f"s{i % 3}",
                 float(i), None) for i in range(40)]
        df = spark.createDataFrame(rows, SCHEMA)
        n = 1 if frame == "one_partition" else 4
        df = df.repartition(n)
        assert df.rdd.getNumPartitions() == n
    meta = TableMeta(name=f"layout_{frame}", time_index="ts", tags=["sensor_id"])
    cat.create_table(meta)
    cat.insert(meta.name, df)
    assert list(_files_per_bucket(cat, meta.name).values()) == [1, 1]
    cat.insert(meta.name, df)
    assert list(_files_per_bucket(cat, meta.name).values()) == [2, 2]
    cat.delete(meta.name, "sensor_id = 's0'")
    assert list(_files_per_bucket(cat, meta.name).values()) == [1, 1]
    cat.insert(meta.name, df)
    cat.compact(meta.name)
    assert list(_files_per_bucket(cat, meta.name).values()) == [1, 1]
    assert cat.read(meta.name).count() == 40


@pytest.mark.parametrize("alter", ["add", "modify"])
@pytest.mark.parametrize("rewrite", ["delete", "ttl"])
def test_rewrite_keeps_later_generation(spark, tmp_path, alter, rewrite):
    """A DELETE or TTL rewrite keeps the values of a column that only files
    written after ALTER TABLE ... ADD/MODIFY COLUMN carry, here a later day
    bucket than the older rows."""
    day = dt.timedelta(days=1)
    base = dt.datetime.combine(dt.date.today() - 8 * day, dt.time())
    cat = Catalog(spark, str(tmp_path))
    cat.create_table(TableMeta(
        name="gen", time_index="ts", tags=["k"],
        ttl="7 days" if rewrite == "ttl" else None,
        columns=[["ts", "timestamp"], ["k", "string"], ["v", "double"]]))
    cat.insert("gen", spark.createDataFrame(
        [(base, "a", 1.0), (base + dt.timedelta(seconds=1), "b", 2.0)],
        "ts timestamp, k string, v double"))
    if alter == "add":
        cat.add_column("gen", ["c", "double", "DOUBLE", None, False])
        new = spark.createDataFrame([(base + 2 * day, "c", 3.0, 30.0)],
                                    "ts timestamp, k string, v double, c double")
        col, want = "c", {"b": None, "c": 30.0}
    else:
        cat.modify_column("gen", "v", "string", "STRING")
        new = spark.createDataFrame([(base + 2 * day, "c", "x")],
                                    "ts timestamp, k string, v string")
        col, want = "v", {"b": "2.0", "c": "x"}
    cat.insert("gen", new)
    if rewrite == "delete":
        cat.delete("gen", "k = 'a'")
    else:
        cat.flush_table("gen")  # expires a and b (older than 7 days)
        want = {"c": want["c"]}
    assert {r.k: r[col] for r in cat.read("gen").collect()} == want


def test_column_records_from_every_stored_form(spark, tmp_path):
    """Legacy short lists, a list-format meta file as earlier versions wrote
    it, and raw lists appended through _update_meta all come back as
    ColumnDef records with the record's defaults."""
    import json
    import os

    from greptimedb_spark.catalog import _META_FILE, ColumnDef

    short = TableMeta(name="s", time_index="ts",
                      columns=[["ts", "timestamp"], ["v", "double"]])
    assert short.columns == [ColumnDef("ts", "timestamp"),
                             ColumnDef("v", "double")]
    ts = short.columns[0]
    assert (ts.decl, ts.default, ts.not_null, ts.comment, ts.index,
            ts.default_epoch_us) == (None, None, False, None, {}, None)
    assert ts.declared == "timestamp"

    cat = Catalog(spark, str(tmp_path))
    os.makedirs(tmp_path / "old")
    (tmp_path / "old" / _META_FILE).write_text(json.dumps({
        "name": "old", "time_index": "ts", "tags": ["h"],
        "schema_name": None,
        "columns": [
            ["ts", "timestamp", "timestamp(3)", None, True],
            ["h", "string", "string", None, False, "host", None],
            ["msg", "string", "string", None, False, None,
             {"fulltext": ""}],
            ["at", "timestamp", "timestamp(3)", "'2024-01-01 00:00:00'",
             False, None, None, 1704067200000000],
        ]}))
    meta = cat.meta("old")
    assert meta.schema_name == "public"
    assert meta.columns == [
        ColumnDef("ts", "timestamp", "timestamp(3)", None, True),
        ColumnDef("h", "string", "string", comment="host"),
        ColumnDef("msg", "string", "string", index={"fulltext": ""}),
        ColumnDef("at", "timestamp", "timestamp(3)", "'2024-01-01 00:00:00'",
                  default_epoch_us=1704067200000000),
    ]

    cat._update_meta("old", columns=meta.columns + [["n", "int", "INT"]])
    again = cat.meta("old")
    assert again.columns[:4] == meta.columns
    assert again.columns[4] == ColumnDef("n", "int", "INT")
    stored = json.loads((tmp_path / "old" / _META_FILE).read_text())
    assert stored["columns"][4] == {
        "name": "n", "spark_type": "int", "decl": "INT", "default": None,
        "not_null": False, "comment": None, "index": {},
        "default_epoch_us": None}


def test_information_schema_columns_lists_api_created_table(spark, tmp_path):
    """A table created through the Catalog API without declared columns
    lists the columns its stored files hold (and none before its first
    write), so information_schema.columns serves the whole catalog."""
    from greptimedb_spark.sql import GreptimeSQL

    cat = Catalog(spark, str(tmp_path))
    cat.create_table(TableMeta(name="api_t", time_index="ts",
                               tags=["sensor_id"]))
    cat.create_table(TableMeta(name="api_empty", time_index="ts"))
    cat.insert("api_t", spark.createDataFrame(
        [(TS(0), "s1", 20.0, 50.0)], SCHEMA))
    g = GreptimeSQL(spark, catalog=cat)
    rows = g.sql("SELECT table_name, column_name, semantic_type "
                 "FROM information_schema.columns WHERE table_name "
                 "LIKE 'api%' ORDER BY ordinal_position").collect()
    assert [tuple(r) for r in rows] == [
        ("api_t", "ts", "TIMESTAMP"), ("api_t", "sensor_id", "TAG"),
        ("api_t", "temperature", "FIELD"), ("api_t", "humidity", "FIELD")]
