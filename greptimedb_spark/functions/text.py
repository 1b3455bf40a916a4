"""Full-text predicates + text-analysis functions.

- ``matches(col, query)`` — GreptimeDB's full-text query DSL
  (src/common/function/src/scalars/matches.rs: AND/OR/NOT/parentheses/phrases,
  `+must`/`-mustnot`) compiled to a boolean column expression over substring
  containment. The reference backs this with a tantivy index; at Spark scale
  the same predicate runs as a codegen'd scan filter (brute force, but fully
  pushed into the scan stage — no shuffle).
- ``matches_term(col, term)`` — exact term match with non-alphanumeric
  boundaries (src/common/function/src/scalars/matches_term.rs).
- Text-analysis ops for training-data pipelines: token counting, quality
  scoring, language id, fingerprinting — all column algebra.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# matches() query DSL: tokens, AND/OR/NOT (also &&/||/!), parentheses,
# "quoted phrases", +must / -mustnot prefixes. Grammar per matches.rs parser.
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r'"[^"]*"|\(|\)|AND\b|OR\b|NOT\b|&&|\|\||!|[+-]?[^\s()!&|]+')


def _tokenize(query: str) -> list[str]:
    return [t for t in _TOKEN_RE.findall(query) if t.strip()]


class _Parser:
    """Recursive-descent: expr := term (OR term)* ; term := factor (AND factor)* ;
    factor := [NOT|!] atom ; atom := '(' expr ')' | word | "phrase".
    Bare adjacency means OR (Greptime treats `a b` as a OR b)."""

    def __init__(self, tokens: list[str], col: Column):
        self.toks = tokens
        self.i = 0
        self.col = col

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse(self) -> Column:
        out = self.expr()
        if self.peek() is not None:
            raise ValueError(f"unexpected token {self.peek()!r}")
        return out

    def expr(self) -> Column:
        """Adjacency list with must/must_not semantics (matches.rs): bare
        terms are optional alternatives (implicit OR), `+x` must match, `-x`
        must not match — a doc matches when (any optional, or none exist)
        AND every must AND no must_not."""
        opts, musts, nots = [], [], []
        while self.peek() is not None and self.peek() != ")":
            if self.peek() in ("OR", "||"):
                self.next()
                continue
            kind, node = self.term()
            {"opt": opts, "must": musts, "not": nots}[kind].append(node)
        out = None
        for n in opts:
            out = n if out is None else out | n
        if out is None:
            out = _contains_ci(self.col, "")  # vacuous TRUE
        for n in musts:
            out = out & n
        for n in nots:
            out = out & ~n
        return out

    def term(self):
        """AND-chain: later `-x` inside an explicit AND is plain negation
        (`over AND -(a)` ≡ over AND NOT a); the chain's kind comes from its
        first factor."""
        kind, node = self.signed_factor()
        while self.peek() in ("AND", "&&"):
            self.next()
            if kind == "not":
                # a leading negative becomes plain negation once it's part
                # of an explicit AND chain ('-a AND -b' ≡ NOT a AND NOT b)
                node, kind = ~node, "opt"
            k2, n2 = self.signed_factor()
            node = node & (~n2 if k2 == "not" else n2)
        return kind, node

    def signed_factor(self):
        t = self.peek()
        if t in ("NOT", "!", "-"):
            self.next()
            k, n = self.signed_factor()
            # double negation flips back to a positive must
            return ("must" if k == "not" else "not"), n
        if t == "+":
            self.next()
            return "must", self.atom()
        if t is not None and len(t) > 1 and t.startswith("+"):
            self.next()
            return "must", _contains_ci(self.col, t[1:])
        if t is not None and len(t) > 1 and t.startswith("-") \
                and not t.startswith('"'):
            self.next()
            return "not", _contains_ci(self.col, t[1:])
        return "opt", self.atom()

    def atom(self) -> Column:
        t = self.next()
        if t == "(":
            node = self.expr()
            if self.next() != ")":
                raise ValueError("unbalanced parens")
            return node
        if t.startswith('"') and t.endswith('"'):
            return _contains_ci(self.col, t[1:-1])
        return _contains_ci(self.col, t)


class _SqlExpr:
    """SQL-text boolean algebra so the same _Parser emits a SQL predicate
    (for the GreptimeSQL front door) as well as a Column."""

    def __init__(self, s: str):
        self.s = s

    def __or__(self, o):
        return _SqlExpr(f"({self.s} OR {o.s})")

    def __and__(self, o):
        return _SqlExpr(f"({self.s} AND {o.s})")

    def __invert__(self):
        return _SqlExpr(f"(NOT {self.s})")


def _contains_ci(col, text: str):
    if isinstance(col, str):
        lit = text.lower().replace("'", "''")
        return _SqlExpr(f"contains(lower({col}), '{lit}')")
    return F.contains(F.lower(col), F.lit(text.lower()))


def matches(col, query: str) -> Column:
    """Full-text boolean query over a string column (case-insensitive)."""
    return _Parser(_tokenize(query), _c(col)).parse()


def matches_sql(col_sql: str, query: str) -> str:
    """`matches(col, 'a AND -b')` lowered to a SQL boolean predicate
    (reference select/matches.sql DSL)."""
    return _Parser(_tokenize(query), col_sql).parse().s


def matches_term(col, term: str) -> Column:
    """Exact term match: term occurs delimited by non-alphanumeric boundaries
    (reference matches_term.rs examples: 'cat!' matches in 'cat!' but 'cat'
    does not match inside 'category')."""
    return _c(col).rlike(rf"(^|[^a-zA-Z0-9_]){re.escape(term)}($|[^a-zA-Z0-9_])")


# ---------------------------------------------------------------------------
# Training-data text analysis (column algebra only — scan-stage, no shuffles)
# ---------------------------------------------------------------------------

def token_count(col) -> Column:
    """Whitespace token count."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def punct_ratio(col) -> Column:
    n = F.length(_c(col))
    return F.when(n > 0, F.regexp_count(_c(col), F.lit(r"[^\w\s]")) / n).otherwise(F.lit(0.0))


_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"]


def stopword_ratio(col) -> Column:
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    return F.when(n > 0, stop / n).otherwise(F.lit(0.0))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of case/whitespace-normalized
    text (exact-dedup key; reference pipeline `digest` processor analog)."""
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.md5(norm)


def _char_class(c: str) -> str:
    """Reference matches_term.rs classify_char: ASCII word / Han /
    unicode word / other."""
    o = ord(c)
    if c.isascii() and c.isalnum():
        return "ascii"
    # Script=Han principal blocks (CJK unified + exts + compat ideographs)
    if (0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF
            or 0xF900 <= o <= 0xFAFF or 0x20000 <= o <= 0x2A6DF
            or 0x2A700 <= o <= 0x2EBEF or 0x3005 == o or 0x3007 == o):
        return "han"
    if c.isalnum():
        return "uni"
    return "other"


def term_matches(text: str, term: str) -> bool:
    """Python mirror of the reference's MatchesTermFinder::find
    (src/common/function/src/scalars/matches_term.rs:305): exact substring
    with word-boundary rules per term kind — ASCII terms reject adjacent
    ASCII word chars, unicode-word terms reject any word/Han neighbor,
    Han-containing terms match as contiguous substrings."""
    if term == "":
        return text == ""
    classes = [_char_class(c) for c in term]
    kind = ("han" if "han" in classes
            else "uni" if "uni" in classes else "ascii")
    starts_other = classes[0] == "other"
    ends_other = classes[-1] == "other"

    def boundary_ok(nb):
        if nb is None:
            return True
        c = _char_class(nb)
        if kind == "ascii":
            return c != "ascii"
        if kind == "uni":
            return c == "other"
        return True

    pos = 0
    while True:
        i = text.find(term, pos)
        if i < 0:
            return False
        prev = text[i - 1] if i > 0 else None
        if starts_other or boundary_ok(prev):
            if kind == "han":
                return True
            j = i + len(term)
            nxt = text[j] if j < len(text) else None
            if ends_other or boundary_ok(nxt):
                return True
        pos = i + 1


def register(spark) -> None:
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("boolean", PandasUDFType.SCALAR)
    def _matches_term(text, term):
        return pd.Series(
            [None if t is None or q is None else term_matches(t, q)
             for t, q in zip(text, term)],
            dtype=object)

    spark.udf.register("matches_term", _matches_term)
