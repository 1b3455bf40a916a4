"""greptimedb_spark/sqltext.py: the dialect's one SQL lexer, and the
ratchet that keeps hand-rolled character scanners out of the front door."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from greptimedb_spark.sqltext import (
    close_paren, map_outside_strings, open_paren, rewrite_calls, split_top,
    strip_comments,
)

PKG = Path(__file__).resolve().parents[1] / "greptimedb_spark"


def test_strip_comments_only_outside_quotes():
    text = ("SELECT '--a', \"/*b*/\", `--c` -- gone )\n"
            "FROM t /* gone ( */ WHERE s = 'it''s --'")
    assert strip_comments(text) == (
        "SELECT '--a', \"/*b*/\", `--c` \nFROM t  WHERE s = 'it''s --'")
    assert strip_comments("SELECT 1 /* never closed") == "SELECT 1 "


def test_map_outside_strings_skips_single_quoted_literals_only():
    out = map_outside_strings("a 'b''c' \"d'e\" `f` 'g\\'", str.upper)
    assert out == "A 'b''c' \"D'E\" `F` 'g\\'"


def test_close_and_open_paren_skip_quoted_text():
    text = "f(a, ')', g(\"(\"), [1, 2]) + h(x)"
    assert close_paren(text, 2) == text.index(") +")
    assert open_paren(text, text.index(") +")) == 1
    assert close_paren("(a, b", 1) is None
    assert open_paren("a) b", 1) is None
    # from inside a group: its closing paren
    assert close_paren("x, y) z") == 4


def test_split_top_splits_at_depth_zero_outside_quotes():
    assert split_top("a, f(b, c), [d, e], 'x,y', \"p,q\"") == [
        "a", " f(b, c)", " [d, e]", " 'x,y'", " \"p,q\""]
    text = " 1 , 'a'' ,b' ,"
    assert ",".join(split_top(text)) == text
    assert split_top("  ") == []


def test_rewrite_calls_rewrites_inner_calls_first_and_skips_literals():
    text = "f(1, f(2)) + 'f(3)' + F (4, ')') + f(unclosed"
    out = rewrite_calls(text, "f", lambda a: f"<{'|'.join(a)}>")
    assert out == "<1| <2>> + 'f(3)' + <4| ')'> + f(unclosed"
    assert rewrite_calls("f(1) g(2)", "f|g", lambda a: None) == "f(1) g(2)"


# -- ratchet ------------------------------------------------------------------

_QUOTES_PARENS = set("()'\"")


def _str_constants(node):
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        yield node.value
    elif isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        for e in node.elts:
            yield from _str_constants(e)


def _compares_a_char(cmp: ast.Compare) -> bool:
    """`ch == "("`, `ch in "'\\""`, `ch in ("(", "[")` and the like."""
    for i, side in enumerate([cmp.left, *cmp.comparators]):
        membership = i > 0 and isinstance(cmp.ops[i - 1], (ast.In, ast.NotIn))
        for s in _str_constants(side):
            if (len(s) == 1 and s in _QUOTES_PARENS) or (
                    membership and _QUOTES_PARENS & set(s)):
                return True
    return False


@pytest.mark.parametrize("module", ["sql.py", "range_query.py"])
def test_no_hand_rolled_sql_scanner_loops(module):
    """Paren, bracket, comma and quote scanning of SQL text lives in
    sqltext.py. A loop here that compares one character against '(' , ')',
    a quote or a set of them is a second copy of the quoting rules."""
    tree = ast.parse((PKG / module).read_text())
    offenders = sorted({
        loop.lineno for loop in ast.walk(tree)
        if isinstance(loop, (ast.For, ast.While))
        and any(isinstance(n, ast.Compare) and _compares_a_char(n)
                for n in ast.walk(loop))})
    assert offenders == [], f"{module}: character-scanning loops at lines {offenders}"
