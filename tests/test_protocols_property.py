"""Property-based round-trip tests for the influx line-protocol tokenizer.

format_influx_line (escaping emitter) and _parse_influx_line (tokenizer)
are pure Python, so hypothesis can hammer the grammar without a Spark
session: any measurement/tag/field content made of printable characters
must survive format -> parse exactly.
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from greptimedb_spark.sources.protocols import (
    _parse_influx_line,
    format_influx_line,
)

# printable, no newline (one line per record by definition); allow every
# escape-relevant char: space, comma, '=', backslash, double quote.
# A TRAILING backslash is excluded: backslash is not an escapable char in
# measurements/tags/keys (the parser keeps `\x` literal for non-escapable
# x, per the Go/iox grammars), so a literal backslash right before the
# separator cannot round-trip — an inherent wart of the format itself.
_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=1,
    max_size=12,
).filter(lambda s: not s.endswith("\\"))
# keys/measurement cannot START with '#' (comment) per our parser's skip rule
_key = _text.filter(lambda s: s.strip() and not s.startswith("#"))

_field_val = st.one_of(
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    _text,
)


@settings(max_examples=300, deadline=None)
@given(
    table=_key,
    tags=st.dictionaries(_key, _text, max_size=3),
    fields=st.dictionaries(_key, _field_val, min_size=1, max_size=4),
    ts=st.one_of(st.none(), st.integers(min_value=0, max_value=2**62)),
)
def test_influx_format_parse_roundtrip(table, tags, fields, ts):
    line = format_influx_line(table, tags, fields, ts_ns=ts)
    rows = _parse_influx_line(line, "ns")
    assert rows and all(r[-1] is None for r in rows), (line, rows)
    assert {r[0] for r in rows} == {table}
    got_tags = rows[0][1]
    assert got_tags == {str(k): str(v) for k, v in tags.items()}
    got_fields = {}
    for _t, _tags, fkey, ftype, f64, i64, s, b, _ts, _err in rows:
        got_fields[fkey] = {
            "float64": f64, "int64": i64, "uint64": i64,
            "string": s, "boolean": b,
        }[ftype]
    for k, v in fields.items():
        g = got_fields[str(k)]
        if isinstance(v, bool):
            assert g is v
        elif isinstance(v, float):
            assert g == v or (math.isnan(v) and math.isnan(g))
        elif isinstance(v, int):
            assert g == v
        else:
            assert g == str(v)
    if ts is not None:
        # ns truncates to µs in the timestamp column (.value is ns)
        assert rows[0][8].value == (ts // 1000) * 1000



# ---- mutated lines: malformed input is quarantined, never raised ----

_SUFFIXES = ("i", "u", '"', "t")


def _mutations(line: str):
    """``line`` truncated at every position, with one '=' deleted, with a
    type suffix swapped: every 'i'/'u'/'"'/'t' replaced by each other one,
    and each suffix appended to every token that ends in a digit, and with
    a '_' or '+' inserted before a digit or the digit made full-width."""
    for p in range(len(line)):
        yield line[:p]
    for p, c in enumerate(line):
        if c == "=":
            yield line[:p] + line[p + 1:]
        if "0" <= c <= "9":
            yield line[:p] + "_" + line[p:]
            yield line[:p] + "+" + line[p:]
            yield line[:p] + chr(ord(c) + 0xFEE0) + line[p + 1:]
        if c in _SUFFIXES:
            for s in _SUFFIXES:
                if s != c:
                    yield line[:p] + s + line[p + 1:]
        if c.isdigit() and (p + 1 == len(line) or line[p + 1] in ", "):
            for s in _SUFFIXES:
                yield line[:p + 1] + s + line[p + 1:]


@settings(max_examples=150, deadline=None)
@given(
    table=_key,
    tags=st.dictionaries(_key, _text, max_size=2),
    fields=st.dictionaries(_key, _field_val, min_size=1, max_size=3),
    ts=st.one_of(st.none(), st.integers(min_value=0, max_value=2**62)),
)
def test_influx_mutated_lines_parse_or_quarantine(table, tags, fields, ts):
    """Every mutation of a well-formed line either parses (every row has no
    ``err``) or yields exactly one err row whose other fields are None."""
    line = format_influx_line(table, tags, fields, ts_ns=ts)
    for m in _mutations(line):
        rows = _parse_influx_line(m, "ns")
        if not rows:
            body = m.strip(" \t\r\n")
            assert not body or body.startswith("#"), m
        elif any(r[-1] is not None for r in rows):
            assert len(rows) == 1, (m, rows)
            assert isinstance(rows[0][-1], str), (m, rows)
            assert all(v is None for v in rows[0][:-1]), (m, rows)
        else:
            assert all(r[0] and r[2] for r in rows), (m, rows)

# ---- Splunk HEC batch parser (pure python: no Spark session needed) ----

import json

from greptimedb_spark.sources.protocols import (  # noqa: E402
    _hec_event_row,
    _iter_hec_events,
    _parse_hec_time,
)

_hec_scalar = st.one_of(
    st.none(), st.booleans(), st.integers(min_value=-10**9, max_value=10**9),
    st.text(max_size=8),
)
_hec_event = st.fixed_dictionaries(
    {"event": st.text(min_size=1, max_size=12).filter(lambda s: s.strip())},
    optional={
        "host": st.text(max_size=8),
        "source": st.text(max_size=8),
        "fields": st.dictionaries(st.text(min_size=1, max_size=6),
                                  _hec_scalar, max_size=3),
        "time": st.integers(min_value=0, max_value=2_000_000_000),
        "custom": _hec_scalar,
    },
)


@settings(max_examples=200, deadline=None)
@given(
    events=st.lists(_hec_event, min_size=1, max_size=5),
    seps=st.lists(st.sampled_from(["", " ", "\n", "\t", "\r\n", "  \n "]),
                  min_size=5, max_size=5),
    as_array=st.booleans(),
)
def test_hec_batch_forms_roundtrip(events, seps, as_array):
    """Any batch form HEC clients emit — concatenated objects with ANY or NO
    separator, or one top-level array — parses to the same event list."""
    if as_array:
        body = json.dumps(events)
    else:
        body = "".join(
            sep + json.dumps(ev) for ev, sep in zip(events, seps))
    got = list(_iter_hec_events(body))
    assert got == events
    # and every event maps without error (event present + valid time)
    for ev in got:
        row = _hec_event_row(ev, None)
        assert row[-1] is None, row
        if "time" in ev:
            assert row[4] == _parse_hec_time(ev["time"])
        if "custom" in ev:
            assert json.loads(row[3])["custom"] == ev["custom"]


@settings(max_examples=200, deadline=None)
@given(n=st.one_of(
    st.integers(min_value=0, max_value=999_999_999_999),       # seconds arm
    st.integers(min_value=10**12, max_value=4 * 10**12),        # ms arm
    st.floats(min_value=0, max_value=2e9, allow_nan=False),
))
def test_hec_time_monotone_and_branching(n):
    ts = _parse_hec_time(n)
    assert ts is not None
    # unit-aware accessor: .value is ns and overflows for far-future
    # seconds-arm inputs that the µs timestamp itself represents fine
    us = int(ts.as_unit("us").asm8.view("i8"))
    if isinstance(n, int) and n >= 1e12:
        assert us // 10**3 == n           # read as epoch ms
    else:
        assert us // 10**6 == int(n)      # epoch seconds, frac kept
    # string form parses identically
    assert _parse_hec_time(str(n)) == ts
