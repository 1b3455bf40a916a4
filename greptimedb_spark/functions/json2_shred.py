"""Per-SST union-schema normalization for json2 (variant) columns.

The reference's flat SST format (RFC docs/rfcs/2024-08-06-json-datatype.md,
src/mito2 flat format) shreds a json2 column per SST: every row in one SST
renders against the UNION of object keys observed across the SST's rows —
missing keys are null-filled, an object whose shredded fields are all null
collapses to null, and array elements share one union element schema
(tests/cases/standalone/common/types/json/json2.result:154-186 pins all of
this across flush/compact boundaries).

Spark-side emulation: the catalog tracks flush boundaries as ingest batch
numbers (`TableMeta.flush_batches`); at read time each row maps to its
segment (SST analog), the per-segment union skeleton is computed with one
grouped aggregate (metadata-sized output — at scale this is exactly the
schema the reference stores per SST at write), broadcast-joined back, and a
vectorized pandas UDF rewrites each document against its segment skeleton.
No driver-side state, no collect.
"""
from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

__all__ = ["apply_sst_union_schema"]


def _sk_of(v):
    """Structural skeleton of one JSON value: objects record their key set
    (recursively), arrays record one merged element skeleton, scalars/nulls
    contribute no structure."""
    if isinstance(v, dict):
        return {"o": {k: _sk_of(x) for k, x in v.items()}}
    if isinstance(v, list):
        c = None
        for el in v:
            c = _sk_merge(c, _sk_of(el))
        return {"a": c}
    return None


def _sk_merge(a, b):
    if a is None:
        return b
    if b is None:
        return a
    out = {}
    if "o" in a or "o" in b:
        ao, bo = a.get("o", {}), b.get("o", {})
        out["o"] = {k: _sk_merge(ao.get(k), bo.get(k))
                    for k in set(ao) | set(bo)}
    if "a" in a or "a" in b:
        out["a"] = _sk_merge(a.get("a"), b.get("a"))
    return out


def _norm(v, sk):
    """Rewrite one value against the segment skeleton: union keys null-filled
    in sorted order, all-null objects collapse to null, array elements
    normalized against the union element skeleton, scalars pass through
    (mixed-type paths keep each row's own value, variant semantics)."""
    if isinstance(v, dict):
        o = sk.get("o", {}) if isinstance(sk, dict) else {}
        keys = set(v) | set(o)
        out = {}
        for k in sorted(keys):
            child = v.get(k)
            out[k] = None if child is None else _norm(child, o.get(k))
        if not out or all(x is None for x in out.values()):
            return None
        return out
    if isinstance(v, list):
        csk = sk.get("a") if isinstance(sk, dict) else None
        return [_norm(el, csk) for el in v]
    return v


@pandas_udf(StringType())
def _skeleton_agg(txts: pd.Series) -> str:
    sk = None
    for t in txts:
        if t is None:
            continue
        try:
            v = json.loads(t)
        except ValueError:
            continue
        sk = _sk_merge(sk, _sk_of(v))
    return json.dumps(sk) if sk is not None else None


@pandas_udf(StringType())
def _normalize(txts: pd.Series, sks: pd.Series) -> pd.Series:
    out = []
    for t, s in zip(txts, sks):
        if t is None:
            out.append(None)
            continue
        try:
            v = json.loads(t)
        except ValueError:
            out.append(t)
            continue
        sk = json.loads(s) if s else None
        n = _norm(v, sk)
        # a fully-collapsed document (or a JSON null doc) reads as SQL NULL
        out.append(None if n is None
                   else json.dumps(n, separators=(",", ":")))
    return pd.Series(out, dtype="object")


def apply_sst_union_schema(
    df: DataFrame, cols: list[str], flush_batches: list[int], batch: Column
) -> DataFrame:
    """Replace each json2 column's variant with its per-segment normalized
    form. ``batch``: each row's ingest batch number; ``flush_batches``:
    ingest batch numbers sealed at each flush (a compaction collapses all
    sealed boundaries into the last one); rows past the last boundary form
    the memtable segment."""
    seg = F.lit(0)
    for b in flush_batches:
        seg = seg + (batch > F.lit(int(b))).cast("int")
    df = df.withColumn("__j2_seg", seg)
    for c in cols:
        txt = F.col(f"`{c}`").cast("string")
        sk = (
            df.select(F.col("__j2_seg").alias("__j2_seg_k"),
                      txt.alias("__j2_txt"))
            .groupBy("__j2_seg_k")
            .agg(_skeleton_agg(F.col("__j2_txt")).alias("__j2_sk"))
        )
        df = df.join(F.broadcast(sk),
                     df["__j2_seg"] == sk["__j2_seg_k"], "left")
        df = df.withColumn(
            c, F.try_parse_json(_normalize(txt, F.col("__j2_sk")))
        ).drop("__j2_seg_k", "__j2_sk")
    return df.drop("__j2_seg")
