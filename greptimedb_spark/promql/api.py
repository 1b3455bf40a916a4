"""Prometheus `format_query` / `parse_query` HTTP API endpoints.

The reference serves both next to query/query_range
(src/servers/src/http/prometheus.rs:218 ``format_query`` — promql_parser
``expr.prettify()`` wrapped in the success envelope; :2146 ``parse_query``
— the parsed AST serialized as JSON). This module re-implements them over
this repo's own Pratt parser (``promql/parser.py``).

Wire shapes pinned by the reference's integration goldens
(tests-integration/tests/http.rs:872-881, :1410-1432):

- format_query "foo/bar" → ``{"status":"success","data":"foo / bar"}``
- parse_query "http_requests" →
  ``{"status":"success","data":{"type":"vectorSelector",
  "name":"http_requests","matchers":[],"offset":0,"startOrEnd":null,
  "timestamp":null}}``
- a parse failure → ``{"status":"error","error":"invalid promql query",
  "errorType":"InvalidArguments"}`` with HTTP 400.

The AST JSON follows Prometheus's public ``translateAST`` shape (the
format promql_parser's serde mirrors): node ``type`` discriminators
vectorSelector / matrixSelector / call / binaryExpr / aggregation /
subquery / unaryExpr / numberLiteral / stringLiteral, durations and
offsets in milliseconds.

Pretty-printing follows Prometheus's prettifier (promql/parser/
prettier.go, mirrored by promql_parser's ``prettify``): an expression
whose canonical one-line form fits in 100 characters stays on one line;
otherwise binary expressions split around the operator and
aggregations/calls split their argument list, indenting two spaces per
level. Divergence (documented): this engine's parser folds redundant
parentheses into precedence, so ``(foo)/bar`` prettifies as
``foo / bar`` where the reference keeps the paren node.
"""

from __future__ import annotations

import math

from greptimedb_spark.promql.parser import (
    DURATION_UNITS_MS,
    Aggregate,
    BinaryOp,
    Call,
    NumberLiteral,
    StringLiteral,
    Subquery,
    Unary,
    VectorSelector,
    parse_promql,
)

MAX_CHARS_PER_LINE = 100  # prometheus prettier.go maxCharactersPerLine


# ---- canonical string form (Prometheus Expr.String()) ---------------------

_DUR_STEPS = sorted(((u, n) for u, n in DURATION_UNITS_MS.items() if n >= 1),
                    key=lambda step: -step[1])


def _dur(ms: int) -> str:
    """Milliseconds → Prometheus duration string ('90000' → '1m30s'),
    matching model.Duration.String()."""
    if ms == 0:
        return "0s"
    out = []
    for unit, size in _DUR_STEPS:
        n, ms = divmod(ms, size)
        if n:
            out.append(f"{n}{unit}")
    return "".join(out)


def _num(v: float) -> str:
    """Go strconv.FormatFloat(v, 'g', -1, 64) analog."""
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    if math.isnan(v):
        return "NaN"
    if v == int(v) and abs(v) < 1e21:
        return str(int(v))
    return repr(v)


def _quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _agg_head(node: Aggregate) -> tuple[str, bool]:
    """('sum by (a)', True) with a grouping modifier, ('sum', False)
    without — String() omits the space before '(' when ungrouped."""
    if node.by is not None:
        return f"{node.op} by ({', '.join(node.by)})", True
    if node.without is not None:
        return f"{node.op} without ({', '.join(node.without)})", True
    return node.op, False


# operator precedence (prometheus parse.go): higher binds tighter
_PREC = {"or": 1, "and": 2, "unless": 2,
         "==": 3, "!=": 3, "<": 3, ">": 3, "<=": 3, ">=": 3,
         "+": 4, "-": 4, "*": 5, "/": 5, "%": 5, "atan2": 5, "^": 6}


def _modifiers(node: BinaryOp) -> str:
    parts = []
    if node.bool_modifier:
        parts.append("bool")
    m = node.matching
    if m is not None:
        if m.on is not None:
            parts.append(f"on ({', '.join(m.on)})")
        elif m.ignoring:
            parts.append(f"ignoring ({', '.join(m.ignoring)})")
        if m.group_left is not None:
            parts.append(f"group_left ({', '.join(m.group_left)})"
                         if m.group_left else "group_left ()")
        if m.group_right is not None:
            parts.append(f"group_right ({', '.join(m.group_right)})"
                         if m.group_right else "group_right ()")
    return " ".join(parts)


def _at(at_ms) -> str:
    if at_ms is None:
        return ""
    if at_ms in ("start", "end"):
        return f" @ {at_ms}()"
    return f" @ {at_ms / 1000:.3f}".rstrip("0").rstrip(".")


def _offset(offset_ms: int) -> str:
    if not offset_ms:
        return ""
    if offset_ms < 0:
        return f" offset -{_dur(-offset_ms)}"
    return f" offset {_dur(offset_ms)}"


def _selector_str(node: VectorSelector) -> str:
    s = node.metric or ""
    if node.matchers:
        inner = ", ".join(f"{m.name}{m.op}{_quote(m.value)}"
                          for m in node.matchers)
        s += "{" + inner + "}"
    elif not node.metric:
        s += "{}"
    if node.range_ms is not None:
        s += f"[{_dur(node.range_ms)}]"
    return s + _at(node.at_ms) + _offset(node.offset_ms)


def _child(node, parent_prec: int, right: bool = False) -> str:
    """Parenthesize a binary child when precedence demands it: lower
    precedence always; equal precedence on the right for left-associative
    operators, on the left for the right-associative ``^``."""
    s = to_promql(node)
    if not isinstance(node, BinaryOp):
        return s
    p = _PREC.get(node.op, 9)
    if p < parent_prec:
        return f"({s})"
    if p == parent_prec:
        is_pow = parent_prec == _PREC["^"]
        if (right and not is_pow) or (not right and is_pow):
            return f"({s})"
    return s


def to_promql(node) -> str:
    """Canonical one-line PromQL text of an AST node."""
    if isinstance(node, NumberLiteral):
        return _num(node.value)
    if isinstance(node, StringLiteral):
        return _quote(node.value)
    if isinstance(node, VectorSelector):
        return _selector_str(node)
    if isinstance(node, Subquery):
        step = _dur(node.step_ms) if node.step_ms else ""
        return (f"{to_promql(node.expr)}[{_dur(node.range_ms)}:{step}]"
                f"{_at(node.at_ms)}{_offset(node.offset_ms)}")
    if isinstance(node, Call):
        return f"{node.func}({', '.join(to_promql(a) for a in node.args)})"
    if isinstance(node, Aggregate):
        head, grouped = _agg_head(node)
        args = ([to_promql(node.param)] if node.param is not None else []) \
            + [to_promql(node.expr)]
        # `sum(x)` without modifiers, `sum by (a) (x)` with (String())
        return (f"{head} ({', '.join(args)})" if grouped
                else f"{head}({', '.join(args)})")
    if isinstance(node, BinaryOp):
        p = _PREC.get(node.op, 9)
        mods = _modifiers(node)
        op = f"{node.op} {mods}" if mods else node.op
        return f"{_child(node.lhs, p)} {op} {_child(node.rhs, p, right=True)}"
    if isinstance(node, Unary):
        return f"{node.op}{to_promql(node.expr)}"
    raise ValueError(f"unknown AST node {type(node).__name__}")


# ---- prettify (prometheus prettier.go) -------------------------------------

def _indent(level: int) -> str:
    return "  " * level


def _needs_split(node) -> bool:
    return len(to_promql(node)) > MAX_CHARS_PER_LINE


def prettify(node, level: int = 0) -> str:
    """Prometheus ``Expr.Pretty``: one line when it fits, else a recursive
    split — binary around the operator, aggregate/call around the args."""
    one_line = _indent(level) + to_promql(node)
    if not _needs_split(node):
        return one_line
    if isinstance(node, BinaryOp):
        mods = _modifiers(node)
        op = f"{node.op} {mods}" if mods else node.op
        return (f"{prettify(node.lhs, level + 1)}\n{_indent(level)}{op}\n"
                f"{prettify(node.rhs, level + 1)}")
    if isinstance(node, Aggregate):
        head, grouped = _agg_head(node)
        args = ([node.param] if node.param is not None else []) + [node.expr]
        inner = ",\n".join(prettify(a, level + 1) for a in args)
        sep = " " if grouped else ""
        return f"{_indent(level)}{head}{sep}(\n{inner}\n{_indent(level)})"
    if isinstance(node, Call):
        inner = ",\n".join(prettify(a, level + 1) for a in node.args)
        return f"{_indent(level)}{node.func}(\n{inner}\n{_indent(level)})"
    if isinstance(node, Subquery):
        step = _dur(node.step_ms) if node.step_ms else ""
        tail = (f"[{_dur(node.range_ms)}:{step}]"
                f"{_at(node.at_ms)}{_offset(node.offset_ms)}")
        return f"{prettify(node.expr, level)}{tail}"
    if isinstance(node, Unary):
        return f"{_indent(level)}{node.op}\n{prettify(node.expr, level)}"
    return one_line


# ---- parse_query AST JSON (prometheus translateAST shape) ------------------

# function signatures for the `call` node's func object: Prometheus
# web/api translateAST emits {name, argTypes, variadic, returnType}.
# "v"=vector "s"=scalar "m"=matrix "str"=string
_T = {"v": "vector", "s": "scalar", "m": "matrix", "str": "string"}
_FUNC_SIGS: dict[str, tuple[list[str], int, str]] = {
    # ([argTypes], variadic, returnType) — from prometheus functions.go
    "abs": (["v"], 0, "v"), "absent": (["v"], 0, "v"),
    "absent_over_time": (["m"], 0, "v"), "ceil": (["v"], 0, "v"),
    "changes": (["m"], 0, "v"), "clamp": (["v", "s", "s"], 0, "v"),
    "clamp_max": (["v", "s"], 0, "v"), "clamp_min": (["v", "s"], 0, "v"),
    "day_of_month": (["v"], -1, "v"), "day_of_week": (["v"], -1, "v"),
    "day_of_year": (["v"], -1, "v"), "days_in_month": (["v"], -1, "v"),
    "delta": (["m"], 0, "v"), "deriv": (["m"], 0, "v"),
    "exp": (["v"], 0, "v"), "floor": (["v"], 0, "v"),
    "histogram_quantile": (["s", "v"], 0, "v"),
    "holt_winters": (["m", "s", "s"], 0, "v"),
    "hour": (["v"], -1, "v"), "idelta": (["m"], 0, "v"),
    "increase": (["m"], 0, "v"), "irate": (["m"], 0, "v"),
    "label_join": (["v", "str", "str", "str"], -1, "v"),
    "label_replace": (["v", "str", "str", "str", "str"], 0, "v"),
    "ln": (["v"], 0, "v"), "log10": (["v"], 0, "v"), "log2": (["v"], 0, "v"),
    "minute": (["v"], -1, "v"), "month": (["v"], -1, "v"),
    "predict_linear": (["m", "s"], 0, "v"), "rate": (["m"], 0, "v"),
    "resets": (["m"], 0, "v"), "round": (["v", "s"], -1, "v"),
    "scalar": (["v"], 0, "s"), "sgn": (["v"], 0, "v"),
    "sort": (["v"], 0, "v"), "sort_desc": (["v"], 0, "v"),
    "sqrt": (["v"], 0, "v"), "time": ([], 0, "s"),
    "timestamp": (["v"], 0, "v"), "vector": (["s"], 0, "v"),
    "year": (["v"], -1, "v"),
    "avg_over_time": (["m"], 0, "v"), "count_over_time": (["m"], 0, "v"),
    "last_over_time": (["m"], 0, "v"), "max_over_time": (["m"], 0, "v"),
    "min_over_time": (["m"], 0, "v"), "present_over_time": (["m"], 0, "v"),
    "quantile_over_time": (["s", "m"], 0, "v"),
    "stddev_over_time": (["m"], 0, "v"), "stdvar_over_time": (["m"], 0, "v"),
    "sum_over_time": (["m"], 0, "v"),
    "acos": (["v"], 0, "v"), "acosh": (["v"], 0, "v"),
    "asin": (["v"], 0, "v"), "asinh": (["v"], 0, "v"),
    "atan": (["v"], 0, "v"), "atanh": (["v"], 0, "v"),
    "cos": (["v"], 0, "v"), "cosh": (["v"], 0, "v"),
    "sin": (["v"], 0, "v"), "sinh": (["v"], 0, "v"),
    "tan": (["v"], 0, "v"), "tanh": (["v"], 0, "v"),
    "deg": (["v"], 0, "v"), "rad": (["v"], 0, "v"), "pi": ([], 0, "s"),
}


def _matchers_json(matchers) -> list[dict]:
    return [{"name": m.name, "type": m.op, "value": m.value}
            for m in matchers]


def _at_json(at_ms) -> tuple:
    """(startOrEnd, timestamp) per translateAST."""
    if at_ms in ("start", "end"):
        return at_ms, None
    return None, at_ms


def _card(m) -> str:
    if m.group_left is not None:
        return "many-to-one"
    if m.group_right is not None:
        return "one-to-many"
    return "one-to-one"


def ast_json(node) -> dict:
    """AST node → Prometheus translateAST JSON (the parse_query wire
    shape pinned by tests-integration/tests/http.rs:1421)."""
    if isinstance(node, NumberLiteral):
        return {"type": "numberLiteral", "val": _num(node.value)}
    if isinstance(node, StringLiteral):
        return {"type": "stringLiteral", "val": node.value}
    if isinstance(node, VectorSelector):
        start_or_end, timestamp = _at_json(node.at_ms)
        base = {"type": "vectorSelector", "name": node.metric or None,
                "matchers": _matchers_json(node.matchers),
                "offset": node.offset_ms, "startOrEnd": start_or_end,
                "timestamp": timestamp}
        if node.range_ms is not None:
            base["type"] = "matrixSelector"
            base["range"] = node.range_ms
        return base
    if isinstance(node, Subquery):
        start_or_end, timestamp = _at_json(node.at_ms)
        return {"type": "subquery", "expr": ast_json(node.expr),
                "range": node.range_ms, "offset": node.offset_ms,
                "step": node.step_ms or 0, "startOrEnd": start_or_end,
                "timestamp": timestamp}
    if isinstance(node, Call):
        arg_types, variadic, ret = _FUNC_SIGS.get(
            node.func, (["vector"] * len(node.args), 0, "v"))
        return {"type": "call",
                "func": {"name": node.func,
                         "argTypes": [_T.get(t, t) for t in arg_types],
                         "variadic": variadic,
                         "returnType": _T.get(ret, ret)},
                "args": [ast_json(a) for a in node.args]}
    if isinstance(node, Aggregate):
        return {"type": "aggregation", "op": node.op,
                "expr": ast_json(node.expr),
                "param": ast_json(node.param)
                if node.param is not None else None,
                "grouping": node.by if node.by is not None
                else (node.without or []),
                "without": node.without is not None}
    if isinstance(node, BinaryOp):
        m = node.matching
        matching = None
        if m is not None:
            matching = {"card": _card(m),
                        "labels": (m.on if m.on is not None
                                   else (m.ignoring or [])),
                        "on": m.on is not None,
                        "include": (m.group_left if m.group_left is not None
                                    else (m.group_right or []))}
        return {"type": "binaryExpr", "op": node.op,
                "lhs": ast_json(node.lhs), "rhs": ast_json(node.rhs),
                "matching": matching, "bool": node.bool_modifier}
    if isinstance(node, Unary):
        return {"type": "unaryExpr", "op": node.op,
                "expr": ast_json(node.expr)}
    raise ValueError(f"unknown AST node {type(node).__name__}")


# ---- HTTP envelopes ---------------------------------------------------------

def _error_response() -> dict:
    """prometheus.rs format_query/parse_query failure envelope
    (http.rs:1431 golden)."""
    return {"status": "error", "error": "invalid promql query",
            "errorType": "InvalidArguments"}


def format_query(query: str) -> dict:
    """`/api/v1/format_query` (prometheus.rs:218): prettified PromQL in
    the success envelope; a parse failure → the error envelope."""
    try:
        node = parse_promql(query)
    except Exception:
        return _error_response()
    return {"status": "success", "data": prettify(node)}


def parse_query(query: str | None) -> dict:
    """`/api/v1/parse_query` (prometheus.rs:2146): the AST as
    translateAST JSON; missing/bad query → the error envelope."""
    if query is None:
        return {"status": "error", "error": "query is required",
                "errorType": "InvalidArguments"}
    try:
        node = parse_promql(query)
    except Exception:
        return _error_response()
    return {"status": "success", "data": ast_json(node)}
