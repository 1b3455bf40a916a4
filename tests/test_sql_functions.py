"""SQL front door (TQL/@@/aliases/RANGE) + sketch/anomaly/geo functions."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from greptimedb_spark.functions import anomaly as A
from greptimedb_spark.functions import geo as G
from greptimedb_spark.functions import sketch as SK
from greptimedb_spark.sql import GreptimeSQL


# -- SQL front door ---------------------------------------------------------------

def test_sql_atat_rewrite(spark, tables):
    g = GreptimeSQL(spark)
    n = g.sql("SELECT count(*) AS n FROM documents WHERE text @@ 'scan'").collect()[0].n
    # oracle: word-boundary regex
    want = tables["documents"].filter(
        F.col("text").rlike(r"(^|[^a-zA-Z0-9_])scan($|[^a-zA-Z0-9_])")
    ).count()
    assert n == want > 0


def test_sql_alias_map(spark, tables):
    g = GreptimeSQL(spark)
    row = g.sql("SELECT min(to_unixtime(o_orderdate)) AS u FROM orders").collect()[0]
    assert row.u == 788918400  # 1995-01-01 UTC


def test_sql_range_passthrough(spark):
    rows = [(0, "h1", 1), (5000, "h1", 2)]
    spark.createDataFrame(rows, "t long, host string, val long").selectExpr(
        "timestamp_millis(t) AS ts", "host", "val"
    ).createOrReplaceTempView("host_sql")
    g = GreptimeSQL(spark)
    out = g.sql(
        "SELECT ts, host, min(val) RANGE '5s' AS m FROM host_sql ALIGN '5s' BY (host)"
    ).collect()
    assert {(int(r.ts.timestamp()), r.m) for r in out} == {(0, 1), (5, 2)}


def test_sql_tql_eval(spark):
    from greptimedb_spark.promql import MetricTable

    rows = [(i * 15_000, "api", float(i * 10)) for i in range(41)]
    df = spark.createDataFrame(rows, "t long, job string, value double").selectExpr(
        "timestamp_millis(t) AS ts", "job", "value"
    )
    g = GreptimeSQL(spark, {"reqs": MetricTable(df, tags=["job"])})
    out = g.sql("TQL EVAL (300, 600, 60) rate(reqs[2m])").collect()
    assert len(out) == 6
    for r in out:
        assert abs(r.value - 10 / 15) < 1e-9


def test_sql_tql_explain_analyze(spark):
    """TQL EXPLAIN/ANALYZE return this engine's plan as the (plan_type,
    plan) table instead of erroring (reference tql.rs explain surface;
    plan TEXT is engine-specific by design)."""
    from greptimedb_spark.promql import MetricTable

    rows = [(i * 15_000, "api", float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "t long, job string, value double").selectExpr(
        "timestamp_millis(t) AS ts", "job", "value")
    g = GreptimeSQL(spark, {"reqs": MetricTable(df, tags=["job"])})
    out = g.sql("TQL EXPLAIN (0, 60, '15s') reqs").collect()
    assert [r.plan_type for r in out] == ["logical_plan", "physical_plan"]
    assert "AdaptiveSparkPlan" in out[1].plan
    v = g.sql("TQL EXPLAIN VERBOSE (0, 60, '15s') rate(reqs[30s])").collect()
    assert [r.plan_type for r in v] == [
        "analyzed_plan", "logical_plan", "physical_plan"]
    # ANALYZE executes first: the physical plan is the AQE-final one
    a = g.sql("TQL ANALYZE (0, 60, '15s') reqs").collect()
    assert "isFinalPlan=true" in a[-1].plan
    # range omitted -> reference default (0, 0, '1s')
    assert g.sql("TQL EXPLAIN reqs").count() == 2


def test_sql_explain_analyze_verbose(spark):
    """EXPLAIN ANALYZE / EXPLAIN VERBOSE (absent from Spark's parser)
    return the (plan_type, plan) table; bare EXPLAIN stays native."""
    spark.createDataFrame([(1,)], "v long").createOrReplaceTempView("xp_t")
    g = GreptimeSQL(spark)
    a = g.sql("EXPLAIN ANALYZE SELECT v FROM xp_t WHERE v > 0").collect()
    assert [r.plan_type for r in a] == ["logical_plan", "physical_plan"]
    # exchange-free plans carry no AdaptiveSparkPlan node; the physical
    # plan text itself is the contract
    assert "Filter" in a[-1].plan
    v = g.sql("EXPLAIN VERBOSE SELECT v FROM xp_t").collect()
    assert [r.plan_type for r in v] == [
        "analyzed_plan", "logical_plan", "physical_plan"]
    assert g.sql("EXPLAIN SELECT v FROM xp_t").columns == ["plan"]  # native


# -- sketches ------------------------------------------------------------------------

def test_hll_state_merge(spark, tables):
    e = tables["events"]
    # per-type states → merged estimate ≈ exact distinct users
    states = e.groupBy("event_type").agg(SK.hll("user_id").alias("st"))
    merged = states.agg(SK.hll_count(SK.hll_merge("st")).alias("est")).collect()[0].est
    exact = e.select("user_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05


def test_count_hash(spark, tables):
    e = tables["events"]
    got = e.agg(SK.count_hash("user_id", "event_type").alias("n")).collect()[0].n
    exact = e.select("user_id", "event_type").distinct().count()
    assert got == exact  # xxhash64 collisions at this scale: none


def test_uddsketch_calc(spark, tables):
    e = tables["events"]
    est = e.agg(SK.uddsketch_calc(0.5, F.col("value")).alias("m")).collect()[0].m
    exact = e.agg(F.percentile("value", 0.5).alias("m")).collect()[0].m
    assert abs(est - exact) / max(exact, 1) < 0.05


# -- anomaly scores ---------------------------------------------------------------------

def test_anomaly_zscore(spark):
    rows = [(i, "s", 10.0 if i != 50 else 100.0) for i in range(100)]
    df = spark.createDataFrame(rows, "i long, k string, v double")
    w = Window.partitionBy("k").orderBy("i").rowsBetween(-20, 0)
    out = df.withColumn("score", A.anomaly_score_zscore("v", w))
    top = out.orderBy(F.desc("score")).first()
    assert top.i == 50 and top.score > 3


def test_anomaly_mad_iqr(spark):
    rows = [(i, "s", float(i % 7)) for i in range(60)] + [(60, "s", 1000.0)]
    df = spark.createDataFrame(rows, "i long, k string, v double")
    w = Window.partitionBy("k").orderBy("i").rowsBetween(-30, 0)
    out = df.withColumn("mad", A.anomaly_score_mad("v", w)).withColumn(
        "iqr", A.anomaly_score_iqr("v", w)
    )
    top = out.orderBy(F.desc("mad")).first()
    assert top.i == 60
    top = out.orderBy(F.desc("iqr")).first()
    assert top.i == 60


# -- geo -----------------------------------------------------------------------------------

def test_geohash_known_vectors(spark):
    # classic test vectors (public geohash examples)
    rows = [
        (57.64911, 10.40744, "u4pruydqqvj"),
        (42.6, -5.6, "ezs42"),
        (0.0, 0.0, "s00000"),
    ]
    df = spark.createDataFrame(rows, "lat double, lng double, want string")
    for prec in (5, 6, 11):
        out = df.withColumn("gh", G.geohash("lat", "lng", prec)).collect()
        for r in out:
            if len(r.want) >= prec:
                assert r.gh == r.want[:prec], f"{r.lat},{r.lng} p={prec}"


def test_st_distance(spark):
    # Paris → London ≈ 343.5 km
    df = spark.createDataFrame([(48.8566, 2.3522, 51.5074, -0.1278)], "a double, b double, c double, d double")
    m = df.select(G.st_distance("a", "b", "c", "d").alias("m")).collect()[0].m
    assert abs(m - 343_500) < 2_000


def test_geo_path(spark):
    rows = [(3, 1.0, 2.0), (1, 5.0, 6.0), (2, 3.0, 4.0)]
    df = spark.createDataFrame(rows, "ts long, lat double, lng double")
    path = df.agg(G.json_encode_path("lat", "lng", "ts").alias("p")).collect()[0].p
    assert path == "[[6.0,5.0],[4.0,3.0],[2.0,1.0]]"  # lng-first, ts-ordered


def test_h3_stub():
    with pytest.raises(NotImplementedError):
        G.h3_latlng_to_cell(0, 0, 7)


def test_vec_avg_agg(spark):
    from greptimedb_spark.functions.vector import vec_avg_agg

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 6.0])], "k long, v array<double>"
    )
    out = df.groupBy("k").agg(vec_avg_agg("v").alias("a")).collect()[0]
    assert out.a == [2.0, 4.0]


def test_sqlness_script_end_to_end(spark, tmp_path):
    """The reference's own fill.sql case (tests/cases/standalone/common/range/
    fill.sql) runs verbatim through GreptimeSQL: CREATE/INSERT/RANGE/DROP."""
    from greptimedb_spark.catalog import Catalog

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "gcat")))
    g.sql("""CREATE TABLE host (
      ts timestamp(3) time index,
      host STRING PRIMARY KEY,
      val BIGINT,
    )""")
    g.sql("""INSERT INTO TABLE host VALUES
        (0,     'host1', 0), (5000,  'host1', null), (10000, 'host1', 1),
        (15000, 'host1', null), (20000, 'host1', 2),
        (0,     'host2', 3), (5000,  'host2', null), (10000, 'host2', 4),
        (15000, 'host2', null), (20000, 'host2', 5)""")
    out = g.sql(
        "SELECT ts, host, min(val) RANGE '5s' FILL PREV AS m FROM host ALIGN '5s' BY (host)"
    )
    got = {(r.host, int(r.ts.timestamp())): r.m for r in out.collect()}
    # fill.result lines 75-90
    assert got[("host1", 5)] == 0 and got[("host1", 15)] == 1
    assert got[("host2", 5)] == 3 and got[("host2", 15)] == 4
    # plain SQL over the merged view works too
    n = g.sql("SELECT count(*) AS n FROM host").collect()[0].n
    assert n == 10
    g.sql("DROP TABLE host")


def test_sqlness_upsert_semantics(spark, tmp_path):
    from greptimedb_spark.catalog import Catalog

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "gcat2")))
    g.sql("CREATE TABLE m (ts timestamp(3) time index, k STRING PRIMARY KEY, v BIGINT)")
    g.sql("INSERT INTO m VALUES (1000, 'a', 1)")
    g.sql("INSERT INTO m VALUES (1000, 'a', 99)")  # same (pk, ts) → overwrite
    rows = g.sql("SELECT * FROM m").collect()
    assert len(rows) == 1 and rows[0].v == 99
    g.sql("DROP TABLE m")


def test_sqlness_by_expressions(spark, tmp_path):
    """Reference by.sql cases: BY (length(host)) and constant BY (2)."""
    from greptimedb_spark.catalog import Catalog

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "gcat3")))
    g.sql("CREATE TABLE host2 (ts timestamp(3) time index, host STRING PRIMARY KEY, val BIGINT)")
    g.sql("""INSERT INTO TABLE host2 VALUES
        (0, 'host1', 0), (5000, 'host1', null), (10000, 'host1', 1),
        (15000, 'host1', null), (20000, 'host1', 2),
        (0, 'host2', 3), (5000, 'host2', null), (10000, 'host2', 4),
        (15000, 'host2', null), (20000, 'host2', 5)""")
    out = g.sql(
        "SELECT ts, max(val) RANGE '5s' AS m FROM host2 ALIGN '20s' BY (length(host)) ORDER BY ts"
    ).collect()
    # by.result lines 24-32: groups collapse to length=5 → 2 rows: 3 then 5
    assert [(int(r.ts.timestamp()), r.m) for r in sorted(out, key=lambda r: r.ts)] == [(0, 3), (20, 5)]
    out = g.sql(
        "SELECT ts, max(val) RANGE '5s' AS m FROM host2 ALIGN '20s' BY (2) ORDER BY ts"
    ).collect()
    assert [(int(r.ts.timestamp()), r.m) for r in sorted(out, key=lambda r: r.ts)] == [(0, 3), (20, 5)]
    g.sql("DROP TABLE host2")


def test_percentile_bounded_vs_exact(spark, sf_dir):
    """The bounded (partial/merge) t-digest path must agree with both the
    exact percentile and the single-batch golden-parity lowering within
    t-digest error bounds — here, the estimate must land inside the exact
    [q-0.02, q+0.02] quantile bracket."""
    from pyspark.sql import functions as F

    from greptimedb_spark.functions.sketch import percentile_cont_bounded
    from greptimedb_spark.queries import read

    l = read(spark, sf_dir, "lineitem")
    for q in (0.1, 0.5, 0.9):
        bounded = {
            r.l_returnflag: r.pct
            for r in percentile_cont_bounded(
                l, ["l_returnflag"], "l_quantity", q
            ).collect()
        }
        lo_hi = {
            r.l_returnflag: (r.lo, r.hi)
            for r in l.groupBy("l_returnflag").agg(
                F.expr(f"percentile(l_quantity, {max(q - 0.02, 0.0)})").alias("lo"),
                F.expr(f"percentile(l_quantity, {min(q + 0.02, 1.0)})").alias("hi"),
            ).collect()
        }
        assert bounded.keys() == lo_hi.keys()
        for k, v in bounded.items():
            lo, hi = lo_hi[k]
            assert lo - 1e-9 <= v <= hi + 1e-9, (q, k, v, lo, hi)
    # weighted variant + boundary quantiles hit the min/max branches
    wdf = percentile_cont_bounded(l, ["l_returnflag"], "l_quantity", 0.0,
                                  weight_col="l_linenumber")
    mins = {r.l_returnflag: r.mn for r in
            l.groupBy("l_returnflag").agg(F.min("l_quantity").alias("mn")).collect()}
    for r in wdf.collect():
        assert r.pct == float(mins[r.l_returnflag])


def test_percentile_bounded_state_is_bounded(spark, sf_dir):
    """Scale-shape check: the final aggregate consumes per-partition partial
    states of ≤100 centroids, never raw rows — repartitioning the input
    changes partial boundaries but the estimate stays in-bracket."""
    from pyspark.sql import functions as F

    from greptimedb_spark.functions.sketch import percentile_cont_bounded
    from greptimedb_spark.queries import read

    l = read(spark, sf_dir, "lineitem").repartition(13)
    out = {r.l_returnflag: r.pct for r in
           percentile_cont_bounded(l, ["l_returnflag"], "l_quantity", 0.5).collect()}
    brackets = {r.l_returnflag: (r.lo, r.hi) for r in
                l.groupBy("l_returnflag").agg(
                    F.expr("percentile(l_quantity, 0.48)").alias("lo"),
                    F.expr("percentile(l_quantity, 0.52)").alias("hi")).collect()}
    for k, v in out.items():
        lo, hi = brackets[k]
        assert lo - 1e-9 <= v <= hi + 1e-9


def test_quoted_parens_and_commas_inside_rewritten_calls(spark, tmp_path):
    """A string literal holding ')' or '(' inside a construct the front door
    rewrites (FIELD, ELT, count_hash, arrow_cast, RANGE's BY, DISTINCT ON)
    is plain text: each statement runs as its quote-free form does."""
    from greptimedb_spark.catalog import Catalog

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "lex")))
    g.sql("CREATE TABLE t (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, "
          "v DOUBLE)")
    g.sql("INSERT INTO t VALUES (0, 'a', 1.0), (5000, 'a', 2.0), "
          "(0, 'q)', 3.0), (0, 'z)', 4.0), (5000, 'b', 5.0)")

    def one(q):
        return [tuple(r) for r in g.sql(q).collect()]

    assert one("SELECT FIELD('a)', 'x', 'a)')") == [(2,)]
    assert one("SELECT ELT(2, 'x)', 'y')") == [("y",)]
    assert one("SELECT count_hash(')')") == [(1,)]
    assert one("SELECT arrow_cast('(5', 'LargeUtf8')") == [("(5",)]
    got = one("SELECT ts, max(v) RANGE '5s' FROM t WHERE h <> 'q)' "
              "ALIGN '5s' BY (concat(h, ')')) ORDER BY ts")
    assert sorted((int(ts.timestamp()), v) for ts, v in got) == [
        (0, 1.0), (0, 4.0), (5, 2.0), (5, 5.0)]
    assert one("SELECT DISTINCT ON (h) h, v FROM t WHERE h <> 'z)' "
               "ORDER BY h, ts") == [("a", 1.0), ("b", 5.0), ("q)", 3.0)]


def test_count_hash_rejects_multiple_arguments(spark, tmp_path):
    """The reference implements only one-argument count_hash: every
    multi-argument call fails, nested calls in the arguments included."""
    from greptimedb_spark.catalog import Catalog

    g = GreptimeSQL(spark, catalog=Catalog(spark, str(tmp_path / "ch")))
    g.sql("CREATE TABLE t (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, "
          "v DOUBLE)")
    g.sql("INSERT INTO t VALUES (0, 'a', 1.0), (0, 'b', 2.0), (5000, 'a', 3.0)")
    for q in ("SELECT count_hash(h, v) FROM t",
              "SELECT count_hash(upper(h), v) FROM t"):
        with pytest.raises(ValueError,
                           match="count_hash with multiple arguments"):
            g.sql(q)
    assert g.sql("SELECT count_hash(upper(h)) AS n FROM t").collect()[0].n == 2


def test_arrow_string_type_names(spark):
    g = GreptimeSQL(spark)
    row = g.sql("SELECT arrow_cast('5', 'Utf8') AS a, "
                "arrow_cast(5, 'Utf8View') AS b, '7'::LargeUtf8 AS c").collect()[0]
    assert (row.a, row.b, row.c) == ("5", "5", "7")
