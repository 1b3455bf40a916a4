"""tools/diffcheck.py: the corpus gives the same normalized output on every
run (no volatile statements), and the differ reports each kind of
difference. Runs in process: no worktree, no second Spark session."""

from __future__ import annotations

import re

import pytest

from tools import diffcheck as dc

_QUERY = re.compile(r"(?is)\s*(SELECT|WITH|TQL|SHOW|DESC)\b")


def _first_query(statements: list[str]) -> int:
    """How many statements to run to reach the family's first query (its
    set-up plus one checked statement); 1 for the generated panels."""
    for i, s in enumerate(statements):
        if _QUERY.match(s):
            return i + 1
    return 1


@pytest.mark.parametrize("family", [f for f, _ in dc.parse_corpus()])
def test_corpus_family_is_deterministic(spark, family):
    statements = dict(dc.parse_corpus())[family]
    k = _first_query(statements)
    a = dc.run_family(spark, family, statements, limit=k)
    b = dc.run_family(spark, family, statements, limit=k)
    assert len(a) == k
    assert "error" not in a[-1], a[-1]
    assert a == b
    assert dc.diff_family(family, a, b) == []


def test_corpus_covers_every_family():
    families = [f for f, _ in dc.parse_corpus()]
    assert len(families) == len(set(families))
    for f in ("dml", "alter", "ttl", "range", "tql", "flow", "metric",
              "json2", "information_schema", "functions", "lexical",
              "types", "session", "views", dc.USERBENCH):
        assert f in families


_BASE = [
    {"sql": "SELECT k, v FROM t", "cols": ["k", "v"],
     "rows": ['["a", 1.5]', '["b", 2.0]']},
    {"sql": "SELECT * FROM gone", "error": "AnalysisException:TABLE_OR_VIEW_NOT_FOUND"},
]


def _with(i: int, **kv) -> list[dict]:
    out = [dict(o) for o in _BASE]
    out[i] = {"sql": _BASE[i]["sql"], **kv}
    return out


def test_differ_reports_each_kind_of_difference():
    assert dc.diff_family("f", _BASE, [dict(o) for o in _BASE]) == []

    cell = dc.diff_family("f", _BASE, _with(
        0, cols=["k", "v"], rows=['["a", 1.5]', '["b", 2.5]']))
    assert len(cell) == 1
    assert '["b", 2.0]' in cell[0] and '["b", 2.5]' in cell[0]

    missing = dc.diff_family("f", _BASE, _with(
        0, cols=["k", "v"], rows=['["a", 1.5]']))
    assert len(missing) == 1 and "only at base" in missing[0]
    assert '["b", 2.0]' in missing[0]

    err = dc.diff_family("f", _BASE, _with(1, error="ValueError"))
    assert len(err) == 1
    assert "TABLE_OR_VIEW_NOT_FOUND" in err[0] and "ValueError" in err[0]

    # a statement that starts failing is a difference too
    assert len(dc.diff_family("f", _BASE, _with(0, error="ValueError"))) == 1


def test_norm_is_stable_across_float_noise():
    assert dc.norm(0.1 + 0.2) == dc.norm(0.3)
    assert dc.norm(float("nan")) == "nan"
    assert dc.norm({"b": 1, "a": [1.0, None]}) == [["a", [1.0, None]], ["b", 1]]
