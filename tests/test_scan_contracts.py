"""Read-path contracts: how a catalog table's stored files reach Spark.

A table whose Parquet files together cost no more than opening one file
(``spark.sql.files.openCostInBytes``) is scanned as one partition, so a
statement over its merged view plans with no exchange and runs as one job.
Above that size the scan, and every plan on it, is Spark's split scan.
PromQL selectors push their time window into the scan, and EXPLAIN ANALYZE
runs its query on the JVM.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest

from greptimedb_spark import catalog as catalog_mod
from greptimedb_spark.catalog import Catalog
from greptimedb_spark.promql.engine import PromQLEngine
from greptimedb_spark.sql import GreptimeSQL

T0 = dt.datetime(2024, 1, 1)
T0_S = 1704067200  # T0 as epoch seconds
COLS = "ts timestamp, hostname string, usage_user double"


def _rows(spark, start_s, n, hosts=3, bump=0.0):
    """``n`` samples per host every 10 s from ``T0 + start_s``; the value
    walks up and resets every 40 samples (a counter with resets)."""
    return spark.createDataFrame(
        [(T0 + dt.timedelta(seconds=start_s + 10 * i), f"h{h}",
          float((i % 40) * (h + 1)) + bump)
         for i in range(n) for h in range(hosts)], COLS)


def _table(spark, path, name="cpu"):
    """A three-batch upsert table (the last batch re-sends keys)."""
    g = GreptimeSQL(spark, catalog=Catalog(spark, str(path)))
    g.sql(f"CREATE TABLE {name} (ts TIMESTAMP(3) TIME INDEX, "
          "hostname STRING PRIMARY KEY, usage_user DOUBLE)")
    g.catalog.insert(name, _rows(spark, 0, 360))
    g.catalog.insert(name, _rows(spark, 3600, 360))
    g.catalog.insert(name, _rows(spark, 1800, 30, bump=0.5))
    return g


def _normalized(df) -> str:
    """The physical plan before execution, expression and plan ids
    removed."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan)


def _open_cost(spark) -> int:
    return spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_small_table_reads_as_one_partition(spark, tmp_path):
    g = _table(spark, tmp_path)
    path = os.path.join(g.catalog._table_path("cpu"), "data")
    assert 0 < catalog_mod._parquet_bytes(path) <= _open_cost(spark)
    assert g.catalog._scan("cpu").rdd.getNumPartitions() == 1
    assert g.catalog.read("cpu").rdd.getNumPartitions() == 1


def test_groupby_orderby_over_merged_view_is_one_job(spark, tmp_path):
    """A TSBS groupby-orderby-limit panel over the merged read: the
    merge window, GROUP BY and ORDER BY plan with no exchange, and the
    statement runs as one Spark job."""
    g = _table(spark, tmp_path)
    q = ("SELECT date_trunc('minute', ts) AS minute, max(usage_user) AS m "
         "FROM cpu WHERE ts < '2024-01-01 01:30:00' GROUP BY minute "
         "ORDER BY minute DESC LIMIT 5")
    want = g.sql(q).collect()  # binds the table
    df = g.sql(q)
    jobs = _jobs_in_group(spark, "scan-contract-one-job",
                          lambda: df.collect())
    assert df.collect() == want and len(want) == 5
    assert len(jobs) == 1, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_large_table_keeps_split_scan(spark, tmp_path, monkeypatch):
    """Above the guard the scan is Spark's own split scan, and the merged
    read plans exactly as a plain Parquet read of the same files does."""
    g = _table(spark, tmp_path)
    big = _open_cost(spark) + 1
    monkeypatch.setattr(catalog_mod, "_parquet_bytes", lambda _p: big)
    split = _normalized(g.catalog.read("cpu"))
    assert "Coalesce" not in split and "Exchange hashpartitioning" in split

    def plain_scan(self, name):
        path = os.path.join(self._table_path(name), "data")
        return self.spark.read.option("mergeSchema", "true").parquet(path)

    monkeypatch.setattr(Catalog, "_scan", plain_scan)
    assert _normalized(g.catalog.read("cpu")) == split


def test_tql_pushes_its_time_window_into_the_scan(spark, tmp_path):
    g = _table(spark, tmp_path)
    df = g.sql(f"TQL EVAL ({T0_S + 1800}, {T0_S + 2400}, '60s') "
               "avg by (hostname) (cpu)")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    filters = re.search(r"DataFilters: \[([^\]]*)\]", scan).group(1)
    assert re.search(r"ts#\d+ > ", filters), scan
    assert re.search(r"ts#\d+ <= ", filters), scan
    assert len(df.collect()) == 3 * 11


@pytest.mark.parametrize("expr", [
    "cpu",
    "cpu offset 5m",
    "cpu @ {at}",
    "rate(cpu[2m])",
    "changes(cpu[5m] offset 3m)",
    "rate(cpu[3m] @ {at})",
    "max_over_time(rate(cpu[2m])[10m:1m])",
    "timestamp(cpu)",
    "count_over_time(cpu[300000y])",  # bound past any timestamp: clamped
])
def test_tql_window_keeps_results(spark, tmp_path, monkeypatch, expr):
    """The pushed window is conservative: results equal an evaluation
    that reads every row, for offset, @, range functions, a subquery and
    a range wider than a timestamp can hold."""
    g = _table(spark, tmp_path)
    at = T0_S + 2000
    q = (f"TQL EVAL ({T0_S + 1800}, {T0_S + 2700}, '60s') "
         + expr.format(at=at))

    def rows():
        return sorted((r.ts, r.hostname, round(r.value, 9))
                      for r in g.sql(q).collect())

    got = rows()
    monkeypatch.setattr(PromQLEngine, "_in_window",
                        staticmethod(lambda df, *_a: df))
    assert got == rows() and got


def test_explain_analyze_runs_on_the_jvm(spark, tmp_path):
    """ANALYZE executes its query without handing rows to Python: a
    timestamp past year 9999 has no Python value, yet the statement
    returns its plan rows, with the executed AQE-final plan."""
    g = _table(spark, tmp_path)
    rows = g.sql(
        "EXPLAIN ANALYZE SELECT hostname, "
        "timestamp_micros(300000000000000000 + max(unix_micros(ts))) AS far "
        "FROM cpu GROUP BY hostname").collect()
    assert [r.plan_type for r in rows] == ["logical_plan", "physical_plan"]
    assert "isFinalPlan=true" in rows[-1].plan
