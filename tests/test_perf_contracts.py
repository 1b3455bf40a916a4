"""Round-11 optimization contracts.

Each test pins the *mechanism* of an r11 optimization (OPTIMIZATION_r11.md),
not just end results — so a refactor that silently reverts one fails here
even while the oracle gate stays green.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_read_returns_cached_plan_per_session(spark):
    from greptimedb_spark.queries import read

    a = read(spark, SF, "events")
    b = read(spark, SF, "events")
    assert a is b, "read() must reuse the per-session resolved plan"
    # different path → different plan
    c = read(spark, SF, "region")
    assert c is not a


def test_read_spread_repartitions_small_sources(spark):
    from greptimedb_spark.queries import read_spread

    df = read_spread(spark, SF, "lineitem", "l_orderkey")
    plan = _plan(df)
    # the testdata table is far below target*8MB → explicit hash repartition
    assert "hashpartitioning(l_orderkey" in plan, plan[:600]


def test_read_spread_noop_when_source_is_large(spark, monkeypatch):
    import greptimedb_spark.queries as q

    monkeypatch.setattr(q, "source_bytes", lambda *_: 10 << 40)  # pretend 10 TB
    df = q.read_spread(spark, SF, "lineitem", "l_orderkey")
    assert "Repartition" not in _plan(df), "spread must be a no-op at scale"


def test_dedup_spread_partitions_by_id_without_rdd_probe(spark):
    from greptimedb_spark.operators.dedup import shingle_hashes
    from greptimedb_spark.queries import read

    sh = shingle_hashes(read(spark, SF, "documents"), "doc_id", "text", 3)
    plan = _plan(sh)
    # explicit by-id spread: the window/distinct reuse ONE id exchange —
    # exactly one hashpartitioning(id...) Exchange in the plan
    n_id_exchanges = plan.count("Arguments: hashpartitioning(id#")
    assert n_id_exchanges == 1, f"expected 1 id exchange, plan:\n{plan[:1500]}"


def test_minhash_signature_expr_string_matches_column_form(spark):
    """The expr()-string signature path must equal the Column-API definition
    hash for hash (the oracle fixture pins absolute values; this pins the
    two in-repo formulations against each other)."""
    from greptimedb_spark.operators.dedup import (
        _perm_hash,
        _perm_hash_sql,
    )

    df = spark.range(1000).select((F.col("id") * 2654435761 % (1 << 32)).alias("h"))
    cols = [_perm_hash(F.col("h"), i).alias(f"c{i}") for i in range(8)]
    exprs = [F.expr(_perm_hash_sql("h", i)).alias(f"e{i}") for i in range(8)]
    rows = df.select(*cols, *exprs).collect()
    for r in rows:
        for i in range(8):
            assert r[f"c{i}"] == r[f"e{i}"]


def test_range_literal_steps_match_general_path(spark):
    """range % align == 0 takes the literal-array path; a coprime range takes
    the general HOF path. Both must implement the same window membership:
    steps t with t in (x-range, x]."""
    from greptimedb_spark.range_query import RangeAgg, range_select

    rows = [(i * 700, float(i)) for i in range(50)]
    df = spark.createDataFrame(
        [(i,) for i in range(1)], "dummy int"
    ).sparkSession.createDataFrame(rows, "ms long, v double").select(
        F.timestamp_millis("ms").alias("ts"), "v"
    )

    def grid(range_ms):
        out = range_select(
            df, "ts", [RangeAgg("sum(v)", "s", range_ms)], align=1000
        )
        return sorted(
            (r["ts"].timestamp(), r["s"]) for r in out.collect()
        )

    # brute-force expected windows for the literal (multiple) case
    def expected(range_ms):
        from collections import defaultdict

        acc = defaultdict(float)
        for ms, v in rows:
            step_hi = ms - ms % 1000
            t = step_hi
            while t > ms - range_ms:
                acc[t] += v
                t -= 1000
        return sorted((k / 1000.0, v) for k, v in acc.items())

    assert grid(3000) == expected(3000)   # literal path (multiple)
    assert grid(2500) == expected(2500)   # general HOF path (non-multiple)
    assert grid(1000) == expected(1000)   # tumbling path (no explode)


def test_range_tumbling_has_no_generate(spark):
    from greptimedb_spark.range_query import RangeAgg, range_select
    from greptimedb_spark.queries import read

    out = range_select(
        read(spark, SF, "events"), "ts",
        [RangeAgg("count(value)", "n", 3_600_000)], align="1h",
    )
    assert "Generate" not in _plan(out), "tumbling RANGE must not explode"


def test_lsh_topk_evaluates_signature_udf_once_per_side(spark):
    from greptimedb_spark.operators.similarity import lsh_topk
    from greptimedb_spark.queries import read

    e = read(spark, SF, "embeddings")
    q = e.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(lsh_topk(e, q, dim=64, k=3, n_planes=4, n_tables=20))
    n_py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    # corpus side 1 + query side ≤2 (formatted output may list a node twice
    # in AQE initial/final sections; 20-per-side means the unionAll bug)
    assert n_py <= 6, f"signature UDF duplicated {n_py}x in plan"


def test_minhash_registry_entry_matches_oracle_fixture(spark, sf_dir):
    """The q52 registry entry at the gate scale (sf0.01) equals the committed
    fixture exactly, floats included. The fixture comes from an independent
    generator (tools/gen_oracle_fixtures.py), so this pins the SQL-text
    build's hashing, banding and verify against a second implementation."""
    import os

    import pyarrow.parquet as pq

    from greptimedb_spark.queries import all_queries

    gate_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(gate_dir):
        pytest.skip("gate-scale testdata unavailable")
    fixture = pq.read_table(os.path.join(
        os.path.dirname(__file__), "fixtures", "oracle_q52_sf001.parquet"))
    out = all_queries()["q52_minhash_lsh"].build(spark, gate_dir)
    assert out.columns == fixture.column_names
    got = sorted(map(tuple, out.collect()))
    spark.catalog.clearCache()
    want = sorted(tuple(r.values()) for r in fixture.to_pylist())
    assert got and got == want


def test_minhash_pair_statement_hits_profile_cache(spark):
    """The pair statement must reference the persisted per-doc profile flat
    (no multi-ref CTE): Spark's cache substitution does not reach through
    CTERelationRef, and a miss silently recomputes the tokenize pipeline
    3x. Four InMemoryRelation consumers = banding both sides + pa + pb."""
    import io
    from contextlib import redirect_stdout

    from greptimedb_spark.operators.dedup import minhash_lsh_pairs
    from greptimedb_spark.queries import read

    out = minhash_lsh_pairs(read(spark, SF, "documents"), "doc_id", "text",
                            num_hashes=32, bands=8, jaccard_threshold=0.2)
    plan = _plan(out)
    assert "InMemoryTableScan" in plan, plan[:1500]
    # the whole tokenize pipeline must appear ONLY below the cache boundary:
    # no Window (shingle lead) may survive above InMemoryRelation sections
    head = plan.split("InMemoryRelation", 1)[0]
    assert "Window" not in head
    spark.catalog.clearCache()


def test_catalog_insert_skips_rdd_probe_for_big_batches(spark, tmp_path, monkeypatch):
    """Big batches must take the size-estimate branch (no RDD conversion)."""
    from greptimedb_spark.catalog import Catalog, TableMeta
    from pyspark.sql import DataFrame

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table(TableMeta(name="t", time_index="ts", tags=["k"]))
    big = (
        spark.range(200_000)
        .select(
            F.timestamp_millis((F.col("id") % 30) * 86_400_000).alias("ts"),
            (F.col("id") % 7).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
    )

    def _boom(self):
        raise AssertionError("df.rdd must not be touched for big batches")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    cat.insert("t", big)  # must not raise
    # raw read: the logical view upserts by (tag, ts) and this batch has
    # only 210 distinct pairs — the contract under test is the write path
    got = cat.read("t", raw=True).count()
    assert got == 200_000


def test_table_view_registers_once_per_session(spark):
    from greptimedb_spark.queries import table_view

    a = table_view(spark, SF, "events")
    calls = []
    from pyspark.sql import DataFrame

    orig = DataFrame.createOrReplaceTempView
    try:
        DataFrame.createOrReplaceTempView = lambda self, n: calls.append(n) or orig(self, n)
        b = table_view(spark, SF, "events")
    finally:
        DataFrame.createOrReplaceTempView = orig
    assert a == b
    assert calls == [], "second table_view call must hit the view cache"
    assert spark.sql(f"SELECT count(1) AS n FROM {a}").collect()[0]["n"] > 0
    # spread views get a distinct name (different plan behind it)
    c = table_view(spark, SF, "events", "user_id")
    assert c != a


def test_q54_sql_builder_matches_library(spark):
    """q54's single-statement SQL build must equal sim.brute_force_topk on
    the same inputs (same norm/dot folds, same two-phase top-k)."""
    from greptimedb_spark.operators import similarity as sim
    from greptimedb_spark.queries import all_queries, read, read_spread

    via_sql = all_queries()["q54_ann_bruteforce"].build(spark, SF)
    e = read_spread(spark, SF, "embeddings", "vec_id")
    queries = (
        read(spark, SF, "embeddings").filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    via_lib = sim.brute_force_topk(e, queries, k=5)
    assert via_sql.columns == via_lib.columns
    rows_sql = sorted(map(tuple, via_sql.collect()))
    rows_lib = sorted(map(tuple, via_lib.collect()))
    assert rows_sql and rows_sql == rows_lib


# ---- third-session contracts: duplicated-subtree fixes ----------------------

def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_textpipe_map_ops_tokenize_once(spark):
    """repetition_signals / quality_filter / top_ngrams must evaluate the
    tokenize (split+regexp) subtree exactly once per corpus row — the raw
    Column-object form copied it 7x / 32x / 3x into the executed plan
    (HOF-lambda copies are outside codegen subexpression elimination)."""
    from greptimedb_spark.operators import textpipe as tp
    from greptimedb_spark.queries import read

    d = read(spark, SF, "documents")
    for df, cap in [
        (tp.repetition_signals(d, "doc_id", "text"), 1),
        (tp.quality_filter(d, "doc_id", "text"), 1),
        (tp.top_ngrams(d, n=3, k=5), 1),
    ]:
        plan = _executed_plan(df)
        n = plan.count("split(regexp_replace")
        assert n <= cap, f"tokenize evaluated {n}x (cap {cap}):\n{plan[:800]}"


def test_streaming_signature_is_single_pass(spark):
    """_signature_expr must fold all num_hashes minima in ONE traversal of
    the shingle-hash array: one tokenize subtree and one aggregate() in the
    plan, not num_hashes array_min(transform(...)) copies."""
    from greptimedb_spark.queries import read
    from greptimedb_spark.streaming.neardup_stream import _signature_expr

    d = read(spark, SF, "documents").select(
        "doc_id", _signature_expr(F.col("text"), 64, 3).alias("sig"))
    plan = _executed_plan(d)
    # 2 tokenize copies are structural (the sequence bound's size(toks) and
    # the shingle lambda's slice(toks)); the old form carried num_hashes
    # copies of the WHOLE tokenize->shingle->hash->distinct pipeline
    assert plan.count("split(regexp_replace") <= 2, plan[:800]
    assert plan.count("aggregate(") == 1, plan[:800]


def test_connected_components_deep_chain_converges(spark):
    """Label propagation must stay constant-plan-size per round (eager
    localCheckpoint): a diameter-20 chain needs 20 rounds and hung the
    analyzer under the old grow-forever lineage."""
    from greptimedb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long")
    comps = {r["node"]: r["component"]
             for r in connected_components(chain).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 21


def test_dedup_selfjoin_sides_read_materialized_relation(spark):
    """ngram_jaccard_pairs / simhash_pairs must self-join a materialized
    (checkpointed) per-doc relation — both sides scan an RDD, neither
    re-runs the shingle/signature pipeline."""
    from greptimedb_spark.operators import dedup as dd
    from greptimedb_spark.queries import read

    d = read(spark, SF, "documents")
    for df in [dd.ngram_jaccard_pairs(d, "doc_id", "text", "lang", 3, 0.12),
               dd.simhash_pairs(d, "doc_id", "text", 3)]:
        plan = _executed_plan(df)
        assert "Scan ExistingRDD" in plan, plan[:800]
        assert plan.count("split(regexp_replace") == 0, plan[:800]
