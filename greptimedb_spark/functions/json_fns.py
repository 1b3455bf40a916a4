"""JSON functions (reference src/common/function/src/scalars/json/*.rs).

GreptimeDB stores JSON as JSONB and exposes json_get_<type>/json_is_*/
json_path_exists. Spark-side we keep JSON as strings and compile each accessor
to get_json_object / try_cast — all JVM expressions, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from greptimedb_spark.datatypes import JSON2_HINTS


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_json(col) -> Column:
    """Validate/normalize JSON text (reference json/parse_json.rs). Invalid → NULL."""
    return F.when(F.try_variant_get(F.try_parse_json(_c(col)), "$", "string").isNotNull(), _c(col))


def json_get_string(col, path: str) -> Column:
    return F.get_json_object(_c(col), path)


def json_get_int(col, path: str) -> Column:
    # try_cast handles sign and whitespace like the reference's jsonb→i64
    # conversion (json/get.rs); non-integral text → NULL.
    return F.get_json_object(_c(col), path).try_cast("long")


def json_get_float(col, path: str) -> Column:
    return F.get_json_object(_c(col), path).cast("double")


def json_get_bool(col, path: str) -> Column:
    return F.get_json_object(_c(col), path).cast("boolean")


def json_path_exists(col, path: str) -> Column:
    return F.get_json_object(_c(col), path).isNotNull()


def json_object_keys(col) -> Column:
    return F.json_object_keys(_c(col))


def json_to_string(col) -> Column:
    return _c(col).cast("string")


# ---------------------------------------------------------------------------
# SQL surface with full jsonb-dialect parity (reference scalars/json/*.rs):
# paths use the jsonb syntax ('a.b.c', 'a:b.c', 'a["b c"]', '[0]', optional
# leading '$'), values keep jsonb coercions (bool→int for json_get_int,
# float excluded from int, etc.), and parse_json canonicalizes to the
# compact form json_to_string prints. The path dialect + canonical-form
# semantics aren't expressible in get_json_object column algebra, so these
# are Arrow-batched pandas UDFs (scalar accessors, not aggregate hot path).
# ---------------------------------------------------------------------------

import json as _json
import re as _re_mod


def _parse_path(p):
    """jsonb path text → list of key/index steps, or None when the path uses
    an unsupported feature (filter expressions '?(...)')."""
    if p is None:
        return None
    p = p.strip()
    if p.startswith("$"):
        p = p[1:]
    filt = None
    fm = _re_mod.search(r"\?\(\s*@\s*(==|!=|>=|<=|>|<)\s*(.+?)\s*\)\s*$", p)
    if fm:
        try:
            lit = _json.loads(fm.group(2))
        except ValueError:
            return None
        filt = ("filter", fm.group(1), lit)
        p = p[: fm.start()]
    elif "?" in p:
        return None
    steps: list = []
    buf = ""
    i = 0
    while i < len(p):
        ch = p[i]
        if ch in ".:":
            if buf:
                steps.append(buf)
                buf = ""
            i += 1
        elif ch == "[":
            if buf:
                steps.append(buf)
                buf = ""
            j = p.find("]", i)
            if j < 0:
                return None
            inner = p[i + 1:j].strip()
            if inner[:1] in ("'", '"'):
                steps.append(inner[1:-1])
            else:
                sm = _re_mod.fullmatch(r"(\d+)\s+to\s+last", inner)
                if sm:
                    steps.append(("slice", int(sm.group(1))))
                else:
                    try:
                        steps.append(int(inner))
                    except ValueError:
                        return None
            i = j + 1
        else:
            buf += ch
            i += 1
    if buf:
        steps.append(buf)
    if filt is not None:
        steps.append(filt)
    return steps


class _Missing:
    """Absent-path sentinel. The CLASS object is the sentinel: classes pickle
    by module+name, so `is _MISSING` stays true across the cloudpickle
    driver→worker boundary (a plain object() instance would not)."""


_MISSING = _Missing


def _walk(doc_text, path_text):
    """Resolve a jsonb path against a JSON document; _MISSING when absent."""
    if doc_text is None or path_text is None:
        return _MISSING
    steps = _parse_path(path_text)
    if steps is None:
        return _MISSING
    try:
        v = _json.loads(doc_text)
    except (ValueError, TypeError):
        return _MISSING
    for s in steps:
        if isinstance(s, str) and isinstance(v, dict) and s in v:
            v = v[s]
        elif isinstance(s, int) and not isinstance(s, bool) \
                and isinstance(v, list) and -len(v) <= s < len(v):
            v = v[s]
        elif isinstance(s, tuple) and s[0] == "slice" and isinstance(v, list):
            v = v[s[1]:]
        elif isinstance(s, tuple) and s[0] == "filter":
            _op, lit = s[1], s[2]
            v = _apply_filter(v, _op, lit)
            if v is _MISSING:
                return _MISSING
        else:
            return _MISSING
    return v


def _cmp(v, op, lit):
    if isinstance(v, bool) != isinstance(lit, bool):
        return False  # jsonb never equates booleans with numbers
    try:
        return {
            "==": v == lit, "!=": v != lit,
            ">": v > lit, "<": v < lit, ">=": v >= lit, "<=": v <= lit,
        }[op]
    except TypeError:
        return False


def _apply_filter(v, op, lit):
    """jsonb '?(@ op lit)' filter: scalar → keep if true; array → keep
    matching elements (missing when none match)."""
    if isinstance(v, list):
        kept = [e for e in v if _cmp(e, op, lit)]
        return kept if kept else _MISSING
    return v if _cmp(v, op, lit) else _MISSING


def _dumps(v) -> str:
    """jsonb canonical text: compact, keys sorted, unicode kept raw except
    the JS-unsafe line separators (reference jsonb rendering,
    types/json/json.result twitter goldens)."""
    s = _json.dumps(v, separators=(",", ":"), ensure_ascii=False, sort_keys=True)
    return s.replace("\u2028", "\\u2028").replace("\u2029", "\\u2029")


def register(spark) -> None:
    """Register the JSON package for SQL (names = reference function names)."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _map1(fn, ret):
        @pandas_udf(ret, PandasUDFType.SCALAR)
        def f(s):
            return pd.Series([fn(x) for x in s], dtype=object)

        return f

    def _map2(fn, ret):
        @pandas_udf(ret, PandasUDFType.SCALAR)
        def f(a, b):
            return pd.Series([fn(x, y) for x, y in zip(a, b)], dtype=object)

        return f

    def _parse(x):
        if x is None:
            return None
        v = _json.loads(x)  # invalid JSON raises — like the reference
        return _dumps(v)

    def _get(kind):
        def g(doc, path):
            v = _walk(doc, path)
            if v is _MISSING:
                return None
            if kind == "int":
                if isinstance(v, bool):
                    return 1 if v else 0
                return v if isinstance(v, int) else None
            if kind == "float":
                if isinstance(v, bool):
                    return 1.0 if v else 0.0
                return float(v) if isinstance(v, (int, float)) else None
            if kind == "string":
                # jsonb as_str stringifies scalars; containers → NULL
                if isinstance(v, str):
                    return v
                if isinstance(v, bool):
                    return "true" if v else "false"
                if isinstance(v, (int, float)):
                    return _dumps(v)
                if isinstance(v, list) and len(v) == 1 and isinstance(
                        v[0], (str, int, float, bool)):
                    # filter steps may leave a single matching element
                    return v[0] if isinstance(v[0], str) else _dumps(v[0])
                return None
            if kind == "bool":
                return v if isinstance(v, bool) else None
            if kind == "object":
                # containers only (jsonb as_object/as_array); scalars → NULL
                return _dumps(v) if isinstance(v, (dict, list)) else None
            if kind == "any":
                # generic json_get: value as castable text (strings bare,
                # scalars in JSON spelling, containers as compact JSON);
                # a JSON null leaf is SQL NULL (json2.result variant_null)
                if v is None:
                    return None
                if isinstance(v, str):
                    return v
                return _dumps(v)
            return None

        return g

    def _is(pred):
        def g(doc):
            if doc is None:
                return None
            try:
                v = _json.loads(doc)
            except (ValueError, TypeError):
                return None
            return pred(v)

        return g

    def _keys(doc):
        if doc is None:
            return None
        try:
            v = _json.loads(doc)
        except (ValueError, TypeError):
            return None
        return list(v.keys()) if isinstance(v, dict) else None

    def _exists(doc, path):
        if doc is None or path is None:
            return None
        return _walk(doc, path) is not _MISSING

    def _path_match(doc, pattern):
        """json_path_match(doc, '$.a == 1') — comparison of a path against a
        literal; '[N to last]' ranges match ANY element (json_path_match.rs)."""
        if doc is None or pattern is None:
            return None
        try:
            if _json.loads(doc) is None:
                return None  # json null document → NULL
        except (ValueError, TypeError):
            return None
        m = _re_mod.fullmatch(
            r"\s*(\$?[\w.\[\]\"': ]+?)\s*(==|!=|>=|<=|>|<)\s*(.+?)\s*", pattern
        )
        if not m:
            return None
        v = _walk(doc, m.group(1))
        if v is _MISSING:
            return False
        try:
            lit = _json.loads(m.group(3))
        except ValueError:
            return None
        if isinstance(v, list):
            return any(_cmp(e, m.group(2), lit) for e in v)
        return _cmp(v, m.group(2), lit)

    def _apply_hints(doc, hints_json):
        """JSON2 typed field hints at ingest (reference RFC
        2024-08-06-json-datatype; json2_type_hints.result): missing hinted
        paths take their DEFAULT (NOT NULL without one errors), present
        values must match the hinted type."""
        if doc is None:
            return None
        v = _json.loads(doc)
        for path, ty, not_null, default in _json.loads(hints_json):
            hint = JSON2_HINTS[ty]
            frac = isinstance(hint.spark, T.FractionalType)
            kind = {T.StringType: str, T.BooleanType: bool}.get(
                type(hint.spark), (int, float) if frac else int)
            segs = path.split(".")
            node = v
            ok_path = isinstance(node, dict)
            for s in segs[:-1]:
                if not isinstance(node, dict):
                    ok_path = False
                    break
                if s not in node or node[s] is None:
                    node[s] = {}
                node = node[s]
            if not ok_path or not isinstance(node, dict):
                continue
            leaf = segs[-1]
            cur = node.get(leaf)
            if cur is None:
                if default is not None and default.upper() != "NULL":
                    if default.startswith("'"):
                        node[leaf] = default[1:-1]
                    elif default.upper() in ("TRUE", "FALSE"):
                        node[leaf] = default.upper() == "TRUE"
                    elif "." in default:
                        node[leaf] = float(default)
                    else:
                        dv = int(default)
                        node[leaf] = float(dv) if frac else dv
                elif not_null:
                    raise ValueError(
                        "Invalid JSON: missing non-null JSON2 type hint "
                        f"path {path}")
            elif not isinstance(cur, kind) or (
                    isinstance(cur, bool) and kind is not bool):
                raise ValueError(
                    f"Invalid JSON: JSON value at {path} does not match "
                    f"JSON2 type hint {hint.arrow}")
        return _json.dumps(v, separators=(",", ":"))

    spark.udf.register("gt_json2_hints", _map2(_apply_hints, "string"))
    spark.udf.register("parse_json", _map1(_parse, "string"))
    spark.udf.register("json_get_int", _map2(_get("int"), "bigint"))
    spark.udf.register("json_get_float", _map2(_get("float"), "double"))
    spark.udf.register("json_get_string", _map2(_get("string"), "string"))
    spark.udf.register("json_get_bool", _map2(_get("bool"), "boolean"))
    spark.udf.register("json_get_object", _map2(_get("object"), "string"))
    spark.udf.register("json_get", _map2(_get("any"), "string"))
    spark.udf.register(
        "json_to_string",
        _map1(lambda x: _dumps(_json.loads(x)) if x is not None else None, "string"),
    )
    spark.udf.register("json_object_keys", _map1(_keys, "array<string>"))
    spark.udf.register("json_path_exists", _map2(_exists, "boolean"))
    spark.udf.register("json_path_match", _map2(_path_match, "boolean"))
    spark.udf.register(
        "json_is_null", _map1(_is(lambda v: v is None), "boolean"))
    spark.udf.register(
        "json_is_bool", _map1(_is(lambda v: isinstance(v, bool)), "boolean"))
    spark.udf.register(
        "json_is_int",
        _map1(_is(lambda v: isinstance(v, int) and not isinstance(v, bool)), "boolean"))
    spark.udf.register(
        "json_is_float",
        # jsonb numbers all satisfy is_float (reference json_is.rs: any
        # Number → as_f64 succeeds); bools do not
        _map1(_is(lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)),
              "boolean"))
    spark.udf.register(
        "json_is_string", _map1(_is(lambda v: isinstance(v, str)), "boolean"))
    spark.udf.register(
        "json_is_array", _map1(_is(lambda v: isinstance(v, list)), "boolean"))
    spark.udf.register(
        "json_is_object", _map1(_is(lambda v: isinstance(v, dict)), "boolean"))
