"""Hand-written PromQL parser (tokenizer + Pratt expression parser).

Covers the operator surface exercised by the reference's promql sqlness corpus
(tests/cases/standalone/common/promql/): literals, vector selectors with
matchers / range / offset, function calls, aggregations with by/without and
parameters, unary +/-, full binary-operator precedence with bool / on /
ignoring / group_left / group_right modifiers.

The reference consumes the `promql-parser` crate (src/query/src/parser.rs:143);
this is an independent implementation of the public PromQL grammar
(https://prometheus.io/docs/prometheus/latest/querying/basics/).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# -- AST -----------------------------------------------------------------------

@dataclass
class NumberLiteral:
    value: float


@dataclass
class StringLiteral:
    value: str


@dataclass
class LabelMatcher:
    name: str
    op: str  # = != =~ !~
    value: str


@dataclass
class VectorSelector:
    metric: str
    matchers: list[LabelMatcher] = field(default_factory=list)
    range_ms: int | None = None  # set → range vector
    offset_ms: int = 0
    # `@` modifier: epoch ms, or the strings "start"/"end" (resolved
    # against the query range at eval time)
    at_ms: object = None


@dataclass
class Subquery:
    """``expr[range:step]`` — inner expr re-evaluated on a step grid."""

    expr: object
    range_ms: int
    step_ms: int | None = None  # None → default eval interval
    offset_ms: int = 0
    at_ms: object = None  # `@` modifier (see VectorSelector)


@dataclass
class Call:
    func: str
    args: list


@dataclass
class Aggregate:
    op: str
    expr: object
    param: object | None = None
    by: list[str] | None = None
    without: list[str] | None = None


@dataclass
class VectorMatching:
    on: list[str] | None = None        # on(labels); None → default all-labels
    ignoring: list[str] | None = None
    group_left: list[str] | None = None   # extra labels to copy
    group_right: list[str] | None = None


@dataclass
class BinaryOp:
    op: str
    lhs: object
    rhs: object
    bool_modifier: bool = False
    matching: VectorMatching | None = None


@dataclass
class Unary:
    op: str
    expr: object


AGG_OPS = {
    "sum", "avg", "min", "max", "count", "stddev", "stdvar", "group",
    "quantile", "count_values", "topk", "bottomk",
}

# compact duration units → milliseconds, y = 365 d: PromQL takes ms…y, and
# RANGE and TQL read the same table (RANGE also takes ns and us)
DURATION_UNITS_MS = {
    "ns": 1e-6, "us": 1e-3, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
    "d": 86_400_000, "w": 7 * 86_400_000, "y": 365 * 86_400_000,
}


def parse_duration(text: str) -> int:
    """'5m' / '1h30m' / '90s' → milliseconds."""
    total = 0.0
    for num, unit in re.findall(r"([0-9]+(?:\.[0-9]+)?)(ms|s|m|h|d|w|y)", text):
        total += float(num) * DURATION_UNITS_MS[unit]
    if total == 0 and not re.fullmatch(r"0(ms|s|m|h|d|w|y)?", text):
        raise ValueError(f"bad duration {text!r}")
    return int(total)


# -- tokenizer -------------------------------------------------------------------

_TOKEN_SPEC = [
    ("DURATION", r"[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|d|w|y)(?:[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|d|w|y))*"),
    ("NUMBER", r"(?:0x[0-9a-fA-F]+|[0-9]*\.?[0-9]+(?:[eE][+-]?[0-9]+)?|Inf|NaN)"),
    ("STRING", r"\"(?:\\.|[^\"\\])*\"|'(?:\\.|[^'\\])*'"),
    ("OP", r"==|!=|=~|!~|<=|>=|\^|[-+*/%<>=]"),
    ("LPAREN", r"\("), ("RPAREN", r"\)"),
    ("LBRACE", r"\{"), ("RBRACE", r"\}"),
    ("LBRACKET", r"\["), ("RBRACKET", r"\]"),
    ("COMMA", r","), ("COLON", r":"), ("AT", r"@"),
    ("BTICK", r"`[^`]+`"),  # `Quoted` label/metric identifiers (tql/case_sensitive)
    ("IDENT", r"[a-zA-Z_:][a-zA-Z0-9_:.]*"),
    ("WS", r"\s+"),
]
_TOKEN_RE = re.compile("|".join(f"(?P<{n}>{p})" for n, p in _TOKEN_SPEC))


@dataclass
class Token:
    kind: str
    text: str


def tokenize(query: str) -> list[Token]:
    out = []
    pos = 0
    while pos < len(query):
        m = _TOKEN_RE.match(query, pos)
        if not m:
            raise ValueError(f"cannot tokenize at {query[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        if kind == "BTICK":
            out.append(Token("IDENT", m.group()[1:-1]))
            continue
        out.append(Token(kind, m.group()))
    return out


# -- Pratt parser -----------------------------------------------------------------

# precedence (low → high); comparison ops bind tighter than set ops, like PromQL
_PRECEDENCE = {
    "or": 1,
    "and": 2, "unless": 2,
    "==": 3, "!=": 3, "<": 3, ">": 3, "<=": 3, ">=": 3,
    "+": 4, "-": 4,
    "*": 5, "/": 5, "%": 5, "atan2": 5,
    "^": 6,
}
_RIGHT_ASSOC = {"^"}


class Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    # helpers
    def peek(self) -> Token | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> Token:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> Token:
        t = self.peek()
        if t is None or t.kind != kind or (text is not None and t.text != text):
            raise ValueError(f"expected {text or kind}, got {t}")
        return self.next()

    def at_op(self, *texts: str) -> bool:
        t = self.peek()
        return t is not None and t.text in texts and t.kind in ("OP", "IDENT")

    # grammar
    def parse(self):
        e = self.parse_expr(0)
        if self.peek() is not None:
            raise ValueError(f"trailing tokens at {self.peek()}")
        return e

    def parse_expr(self, min_prec: int):
        lhs = self.parse_unary()
        while True:
            t = self.peek()
            if t is None:
                break
            # keyword operators/modifiers are case-insensitive (the reference
            # promql corpus writes AND/ON/IGNORING uppercase)
            op = t.text.lower() if t.kind == "IDENT" else t.text
            if op not in _PRECEDENCE or _PRECEDENCE[op] < min_prec:
                break
            self.next()
            bool_mod = False
            matching = None
            if self.peek() is not None and self.peek().text.lower() == "bool":
                self.next()
                bool_mod = True
            if self.peek() is not None and self.peek().text.lower() in ("on", "ignoring"):
                kw = self.next().text.lower()
                labels = self._label_list()
                matching = VectorMatching(
                    on=labels if kw == "on" else None,
                    ignoring=labels if kw == "ignoring" else None,
                )
                if self.peek() is not None and self.peek().text.lower() in ("group_left", "group_right"):
                    side = self.next().text.lower()
                    extra: list[str] = []
                    if self.peek() is not None and self.peek().kind == "LPAREN":
                        extra = self._label_list()
                    if side == "group_left":
                        matching.group_left = extra
                    else:
                        matching.group_right = extra
            prec = _PRECEDENCE[op]
            next_min = prec if op in _RIGHT_ASSOC else prec + 1
            rhs = self.parse_expr(next_min)
            lhs = BinaryOp(op, lhs, rhs, bool_mod, matching)
        return lhs

    def parse_unary(self):
        t = self.peek()
        if t is not None and t.text in ("-", "+"):
            self.next()
            e = self.parse_unary()
            return e if t.text == "+" else Unary("-", e)
        return self.parse_postfix()

    def parse_postfix(self):
        e = self.parse_atom()
        while True:
            t = self.peek()
            if t is None:
                break
            if t.kind == "LBRACKET":
                self.next()
                dur = self.expect("DURATION").text
                if self.peek() is not None and self.peek().kind == "COLON":
                    # subquery: expr[range:step] (step optional)
                    self.next()
                    step_ms = None
                    if self.peek() is not None and self.peek().kind == "DURATION":
                        step_ms = parse_duration(self.next().text)
                    self.expect("RBRACKET")
                    e = Subquery(e, parse_duration(dur), step_ms)
                    continue
                self.expect("RBRACKET")
                if not isinstance(e, VectorSelector):
                    raise ValueError("range selector on non-selector")
                e.range_ms = parse_duration(dur)
            elif t.kind == "IDENT" and t.text.lower() == "offset":
                self.next()
                neg = False
                if self.at_op("-"):
                    self.next()
                    neg = True
                dur = self.expect("DURATION").text
                off = parse_duration(dur)
                if not isinstance(e, (VectorSelector, Subquery)):
                    raise ValueError("offset on non-selector")
                e.offset_ms = -off if neg else off
            elif t.kind == "AT":
                # Prometheus `@` modifier: epoch seconds (float ok) or the
                # start()/end() forms (promql docs: "@ modifier")
                self.next()
                if not isinstance(e, (VectorSelector, Subquery)):
                    raise ValueError("@ modifier on non-selector")
                nt = self.peek()
                neg = False
                if nt is not None and nt.text == "-":
                    self.next()
                    neg = True
                    nt = self.peek()
                if nt is not None and nt.kind == "NUMBER":
                    self.next()
                    v = float(nt.text) * 1000
                    e.at_ms = int(-v if neg else v)
                elif nt is not None and nt.kind == "IDENT" and nt.text in ("start", "end"):
                    self.next()
                    self.expect("LPAREN")
                    self.expect("RPAREN")
                    e.at_ms = nt.text
                else:
                    raise ValueError("@ modifier needs a timestamp or start()/end()")
            else:
                break
        return e

    def parse_atom(self):
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of query")
        if t.kind == "NUMBER":
            self.next()
            txt = t.text
            if txt == "Inf":
                return NumberLiteral(float("inf"))
            if txt == "NaN":
                return NumberLiteral(float("nan"))
            return NumberLiteral(float(int(txt, 16)) if txt.startswith("0x") else float(txt))
        if t.kind == "STRING":
            self.next()
            return StringLiteral(_unquote(t.text))
        if t.kind == "LPAREN":
            self.next()
            e = self.parse_expr(0)
            self.expect("RPAREN")
            return e
        if t.kind == "LBRACE":
            return VectorSelector("", self._matchers())
        if t.kind == "IDENT":
            name = self.next().text
            nxt = self.peek()
            if name in AGG_OPS and nxt is not None and (
                nxt.kind == "LPAREN" or nxt.text in ("by", "without")
            ):
                return self._aggregate(name)
            if nxt is not None and nxt.kind == "LPAREN":
                return self._call(name)
            matchers = self._matchers() if nxt is not None and nxt.kind == "LBRACE" else []
            return VectorSelector(name, matchers)
        raise ValueError(f"unexpected token {t}")

    def _aggregate(self, op: str) -> Aggregate:
        by = without = None
        if self.peek().text in ("by", "without"):
            kw = self.next().text
            labels = self._label_list()
            if kw == "by":
                by = labels
            else:
                without = labels
        self.expect("LPAREN")
        args = [self.parse_expr(0)]
        while self.peek() is not None and self.peek().kind == "COMMA":
            self.next()
            args.append(self.parse_expr(0))
        self.expect("RPAREN")
        if self.peek() is not None and self.peek().text in ("by", "without"):
            kw = self.next().text
            labels = self._label_list()
            if kw == "by":
                by = labels
            else:
                without = labels
        if len(args) == 2:
            param, expr = args[0], args[1]
        else:
            param, expr = None, args[0]
        return Aggregate(op, expr, param, by, without)

    def _call(self, name: str) -> Call:
        self.expect("LPAREN")
        args = []
        if self.peek() is not None and self.peek().kind != "RPAREN":
            args.append(self.parse_expr(0))
            while self.peek() is not None and self.peek().kind == "COMMA":
                self.next()
                args.append(self.parse_expr(0))
        self.expect("RPAREN")
        return Call(name, args)

    def _label_list(self) -> list[str]:
        self.expect("LPAREN")
        labels = []
        while self.peek() is not None and self.peek().kind != "RPAREN":
            if self.peek().kind == "STRING":  # by ("service.name")
                labels.append(_unquote(self.next().text))
            else:
                labels.append(self.expect("IDENT").text)
            if self.peek() is not None and self.peek().kind == "COMMA":
                self.next()
        self.expect("RPAREN")
        return labels

    def _matchers(self) -> list[LabelMatcher]:
        self.expect("LBRACE")
        out = []
        while self.peek() is not None and self.peek().kind != "RBRACE":
            # quoted label identifiers ({"service.name"="x"} — reference
            # promql/string_identifier.sql)
            if self.peek().kind == "STRING":
                name = _unquote(self.next().text)
                nxt = self.peek()
                if nxt is not None and nxt.kind in ("RBRACE", "COMMA"):
                    # {"metric_name"} — bare quoted metric selector
                    out.append(LabelMatcher("__name__", "=", name))
                    if nxt.kind == "COMMA":
                        self.next()
                    continue
            else:
                name = self.expect("IDENT").text
            op = self.expect("OP").text
            if op not in ("=", "==", "!=", "=~", "!~"):
                raise ValueError(f"bad matcher op {op}")
            if op == "==":
                op = "="
            val = _unquote(self.expect("STRING").text)
            out.append(LabelMatcher(name, op, val))
            if self.peek() is not None and self.peek().kind == "COMMA":
                self.next()
        self.expect("RBRACE")
        return out


_ESCAPES = {
    "\\": "\\", '"': '"', "'": "'", "n": "\n", "t": "\t", "r": "\r",
    "a": "\a", "b": "\b", "f": "\f", "v": "\v", "/": "/",
}


def _unquote(text: str) -> str:
    """Process Go-style escapes inside a quoted PromQL string literal —
    ``"10\\.0\\.1"`` means the 6-char regex ``10\\.0\\.1`` (backslash kept as
    the regex escape), while ``\\\\`` collapses to one backslash."""
    body = text[1:-1]
    out = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in ("x", "u", "U") or nxt.isdigit():
                # \xHH / \uHHHH / \UHHHHHHHH / octal
                import re as _re

                m = _re.match(r"\\x([0-9a-fA-F]{2})|\\u([0-9a-fA-F]{4})|\\U([0-9a-fA-F]{8})|\\([0-7]{3})", body[i:])
                if m:
                    h = m.group(1) or m.group(2) or m.group(3)
                    out.append(chr(int(h, 16)) if h else chr(int(m.group(4), 8)))
                    i += m.end()
                    continue
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def parse_promql(query: str):
    return Parser(tokenize(query)).parse()
