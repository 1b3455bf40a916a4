"""Table binding: a statement resolves the catalog tables it names when it
runs (reference DummyTableProvider.scan, src/query/src/dummy_catalog.rs),
so writes through any path — the SQL front door, a direct Catalog.insert,
another GreptimeSQL instance — are visible to the next statement."""

import ast
import pathlib

import pytest

from greptimedb_spark.catalog import Catalog, TableMeta
from greptimedb_spark.sql import GreptimeSQL

PKG = pathlib.Path(__file__).resolve().parents[1] / "greptimedb_spark"
BINDER = {"_bind", "_pin"}  # GreptimeSQL's binding step


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "ts timestamp, host string, val double")


def _ts(sec):
    import datetime as dt

    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _front_door(spark, path, name):
    g = GreptimeSQL(spark, catalog=Catalog(spark, str(path)))
    g.sql(f"CREATE TABLE {name} (ts timestamp(3) time index, "
          "host STRING PRIMARY KEY, val DOUBLE)")
    return g


def test_direct_insert_visible_to_select_range_tql(spark, tmp_path):
    g = _front_door(spark, tmp_path / "cat", "bind_direct")
    g.sql("INSERT INTO bind_direct VALUES "
          "('2024-01-01 00:00:00', 'a', 1.0), ('2024-01-01 00:00:05', 'b', 2.0)")
    assert g.sql("SELECT count(*) AS n FROM bind_direct").first().n == 2
    # a writer that is not this front door: protocol ingest, flows, …
    g.catalog.insert("bind_direct", _rows(spark, [(_ts(10), "c", 3.0)]))
    assert g.sql("SELECT count(*) AS n FROM bind_direct").first().n == 3
    rng = g.sql("SELECT ts, host, max(val) RANGE '10s' AS m FROM bind_direct "
                "ALIGN '10s' BY (host)").collect()
    assert {r.host for r in rng} == {"a", "b", "c"}
    tql = g.sql("TQL EVAL (1704067200, 1704067210, '10s') bind_direct")
    assert {r.host for r in tql.collect()} == {"a", "b", "c"}


def test_fresh_instance_reads_existing_catalog(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table(TableMeta(
        name="bind_fresh", time_index="ts", tags=["host"],
        columns=[["ts", "timestamp"], ["host", "string"], ["val", "double"]]))
    cat.insert("bind_fresh", _rows(spark, [(_ts(0), "a", 1.0)]))
    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "cat")))
    assert [tuple(r) for r in g.sql("SELECT host, val FROM bind_fresh")
            .collect()] == [("a", 1.0)]


def test_other_instance_recreates_table(spark, tmp_path):
    g1 = _front_door(spark, tmp_path / "cat", "bind_re")
    g1.sql("INSERT INTO bind_re VALUES ('2024-01-01 00:00:00', 'old', 1.0)")
    g1.sql("CREATE VIEW bind_re_v AS SELECT host, val FROM bind_re")
    assert [r.host for r in g1.sql("SELECT * FROM bind_re_v").collect()] \
        == ["old"]
    g2 = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "cat")))
    g2.sql("DROP TABLE bind_re")
    g2.sql("CREATE TABLE bind_re (ts timestamp(3) time index, "
           "host STRING PRIMARY KEY, val DOUBLE)")
    g2.sql("INSERT INTO bind_re VALUES ('2024-01-01 00:00:00', 'new', 2.0)")
    assert [r.host for r in g1.sql("SELECT host FROM bind_re").collect()] \
        == ["new"]
    # the view re-plans over the new table instead of the dropped files
    assert [tuple(r) for r in g1.sql("SELECT * FROM bind_re_v").collect()] \
        == [("new", 2.0)]


def test_view_sees_direct_insert(spark, tmp_path):
    g = _front_door(spark, tmp_path / "cat", "bind_vbase")
    g.sql("INSERT INTO bind_vbase VALUES ('2024-01-01 00:00:00', 'a', 1.0)")
    g.sql("CREATE VIEW bind_vsum AS SELECT sum(val) AS s FROM bind_vbase")
    assert g.sql("SELECT s FROM bind_vsum").first().s == 1.0
    g.catalog.insert("bind_vbase", _rows(spark, [(_ts(5), "b", 4.0)]))
    assert g.sql("SELECT s FROM bind_vsum").first().s == 5.0


def test_unchanged_table_is_not_reread(spark, tmp_path, monkeypatch):
    g = _front_door(spark, tmp_path / "cat", "bind_once")
    g.sql("INSERT INTO bind_once VALUES ('2024-01-01 00:00:00', 'a', 1.0)")
    reads = []
    orig = Catalog.read
    monkeypatch.setattr(
        Catalog, "read",
        lambda self, name, *a, **k: reads.append(name) or orig(
            self, name, *a, **k))
    for _ in range(3):
        g.sql("SELECT count(*) FROM bind_once").collect()
        g.sql("TQL EVAL (1704067200, 1704067210, '10s') bind_once").collect()
    assert reads == ["bind_once"]
    g.catalog.insert("bind_once", _rows(spark, [(_ts(5), "b", 2.0)]))
    assert g.sql("SELECT count(*) AS n FROM bind_once").first().n == 2
    assert reads == ["bind_once", "bind_once"]


def test_view_over_flow_source_is_unfiltered_after_flush(spark, tmp_path):
    # the flow pins its sources to their unflushed batches while it runs;
    # a view planned meanwhile must re-plan once the pin is dropped
    g = _front_door(spark, tmp_path / "cat", "bind_fsrc")
    g.sql("CREATE TABLE bind_fsink (ts timestamp(3) time index, "
          "host STRING PRIMARY KEY, val DOUBLE)")
    g.sql("CREATE VIEW bind_fview AS SELECT count(*) AS c FROM bind_fsrc")
    g.sql("CREATE FLOW bind_flow SINK TO bind_fsink AS "
          "SELECT ts, host, val FROM bind_fsrc "
          "WHERE val > 0 AND (SELECT c FROM bind_fview) > 0")
    g.sql("INSERT INTO bind_fsrc VALUES ('2024-01-01 00:00:00', 'a', 1.0)")
    g.sql("ADMIN FLUSH_FLOW('bind_flow')")
    g.sql("INSERT INTO bind_fsrc VALUES ('2024-01-01 00:00:05', 'b', 2.0)")
    g.sql("ADMIN FLUSH_FLOW('bind_flow')")
    assert g.sql("SELECT count(*) AS n FROM bind_fsink").first().n == 2
    assert g.sql("SELECT c FROM bind_fview").first().c == 2
    assert g.sql("SELECT count(*) AS n FROM bind_fsrc").first().n == 2


def _temp_views(spark):
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def test_session_temp_views_stay_flat(spark, tmp_path):
    g = _front_door(spark, tmp_path / "cat", "bind_hyg")
    counts = []
    for i in range(20):
        g.sql(f"INSERT INTO bind_hyg VALUES "
              f"('2024-01-01 00:00:{i:02d}', 'h{i % 3}', {i}.0)")
        assert g.sql("SELECT count(*) AS n FROM bind_hyg").first().n == i + 1
        counts.append(len(_temp_views(spark)))
    assert len(set(counts[1:])) == 1, counts
    g.sql("DROP TABLE bind_hyg")
    assert "bind_hyg" not in _temp_views(spark)
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        g.sql("SELECT count(*) FROM bind_hyg").collect()
    # a table dropped behind the front door loses its view on the next read
    g.sql("CREATE TABLE bind_hyg2 (ts timestamp(3) time index, v DOUBLE)")
    g.sql("SELECT * FROM bind_hyg2").collect()
    g.catalog.drop_table("bind_hyg2")
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        g.sql("SELECT count(*) FROM bind_hyg2").collect()


def test_explain_plan_tables(spark, tmp_path):
    g = _front_door(spark, tmp_path / "cat", "bind_expl")
    g.sql("INSERT INTO bind_expl VALUES ('2024-01-01 00:00:00', 'a', 1.0), "
          "('2024-01-01 00:00:05', 'b', 2.0)")
    q = "SELECT host, count(*) FROM bind_expl GROUP BY host"
    cases = {
        f"EXPLAIN ANALYZE {q}": ["logical_plan", "physical_plan"],
        f"EXPLAIN VERBOSE {q}":
            ["analyzed_plan", "logical_plan", "physical_plan"],
        f"EXPLAIN ANALYZE VERBOSE {q}":
            ["analyzed_plan", "logical_plan", "physical_plan"],
        "TQL EXPLAIN (1704067200, 1704067210, '5s') sum(bind_expl)":
            ["logical_plan", "physical_plan"],
        "TQL ANALYZE VERBOSE (1704067200, 1704067210, '5s') sum(bind_expl)":
            ["analyzed_plan", "logical_plan", "physical_plan"],
    }
    for stmt, kinds in cases.items():
        df = g.sql(stmt)
        assert df.columns == ["plan_type", "plan"], stmt
        rows = df.collect()
        assert [r.plan_type for r in rows] == kinds, stmt
        physical = rows[-1].plan
        # ANALYZE executes first: its physical plan is the AQE-final one
        final = " ANALYZE " in f" {stmt} "
        assert f"isFinalPlan={str(final).lower()}" in physical, stmt


def test_only_the_binder_registers_catalog_reads():
    """No code outside the binder may register a Catalog.read(...) frame as
    a temp view: such a push site goes stale as soon as another writer
    touches the table."""
    register = {"createOrReplaceTempView", "createTempView",
                "createOrReplaceGlobalTempView", "createGlobalTempView",
                "registerTempTable"}

    def reads_catalog(node):
        return any(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                   and n.func.attr == "read"
                   and ast.unparse(n.func.value).lower().endswith(
                       ("catalog", "cat"))
                   for n in ast.walk(node))

    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    or fn.name in BINDER:
                continue
            from_catalog = {
                t.id for n in ast.walk(fn) if isinstance(n, ast.Assign)
                and reads_catalog(n.value)
                for t in n.targets if isinstance(t, ast.Name)}
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) \
                        and n.func.attr in register:
                    recv = n.func.value
                    if reads_catalog(recv) or (
                            isinstance(recv, ast.Name) and recv.id in from_catalog):
                        offenders.append(f"{path.name}:{n.lineno} in {fn.name}")
    assert offenders == [], offenders


DECLARED_STATE = ("sql.py", "promql/engine.py", "connection.py")


def test_instance_state_is_declared_in_init():
    """Every attribute of the front door and the PromQL engine is declared
    with its default in ``__init__`` and read directly: no
    ``getattr(self, "x", default)`` / ``hasattr(self, "x")`` fallback and no
    attribute first created by some later method."""
    offenders = []
    for rel in DECLARED_STATE:
        path = PKG / rel
        tree = ast.parse(path.read_text())
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) \
                    and n.func.id in ("getattr", "hasattr", "setattr") \
                    and len(n.args) >= 2 \
                    and isinstance(n.args[0], ast.Name) \
                    and n.args[0].id == "self" \
                    and isinstance(n.args[1], ast.Constant):
                offenders.append(f"{rel}:{n.lineno} {ast.unparse(n)}")
        for cls in (c for c in ast.walk(tree) if isinstance(c, ast.ClassDef)):
            stores = [
                (fn.name, a) for fn in cls.body
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                for a in ast.walk(fn)
                if isinstance(a, ast.Attribute) and isinstance(a.ctx, ast.Store)
                and isinstance(a.value, ast.Name) and a.value.id == "self"]
            declared = {a.attr for fn, a in stores if fn == "__init__"}
            offenders += [
                f"{rel}:{a.lineno} {cls.name}.{fn} creates self.{a.attr}"
                for fn, a in stores if a.attr not in declared]
    assert offenders == [], "\n".join(offenders)
