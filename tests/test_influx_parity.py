"""Differential tests: ``parse_influx_lines`` (JVM column expressions, with
Python only wording rejected lines) against the scanner
``_parse_influx_line``, over a seeded corpus, the property test's mutations
and hand cases for every grammar point the two could read differently.

Each test parses its corpus in one Spark job and compares the multiset of
output rows with the scanner's rows for the same lines: equal tables, tags,
keys, types and values for accepted lines, the same ``err`` text for
rejected ones, nothing for blank and comment lines. On a mismatch the lines
whose rows differ are named.
"""

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from greptimedb_spark.sources import protocols as proto
from test_protocols_property import _mutations

_PRECISIONS = ("ns", "us", "ms", "s")
_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "BatchEvalPython",
                 "ArrowEvalPython")


def _us(ts):
    if ts is None or ts is pd.NaT:
        return None
    return int(ts.as_unit("us").asm8.view("i8"))


def _key(table, tags, key, ftype, f64, i64, s, b, us, err):
    """One output row as a hashable tuple; floats by repr so -0.0 != 0.0."""
    return (table, None if tags is None else tuple(sorted(tags.items())),
            key, ftype, None if f64 is None else repr(f64), i64, s, b, us,
            err)


def _scanner_rows(line, precision):
    if line is None:
        return []
    return [_key(*r[:8], _us(r[8]), r[9])
            for r in _parse(line, precision)]


def _parse(line, precision):
    return proto._parse_influx_line(line, precision)


def _assert_parity(spark, lines, precision):
    df = spark.createDataFrame([(line,) for line in lines], "line string")
    got = Counter(
        _key(r["table"], r["tags"], r["field_key"], r["field_type"],
             r["v_f64"], r["v_i64"], r["v_str"], r["v_bool"], r["us"],
             r["err"])
        for r in proto.parse_influx_lines(df, precision=precision).select(
            *(c for c, _t in proto._INFLUX_COLUMNS if c != proto.TIME_INDEX),
            F.unix_micros(proto.TIME_INDEX).alias("us")).collect())
    want = Counter()
    for line in lines:
        want.update(_scanner_rows(line, precision))
    if got != want:
        missing, extra = want - got, got - want
        bad = [line for line in lines
               if any(r in missing for r in _scanner_rows(line, precision))]
        raise AssertionError(
            f"{sum(missing.values())} scanner rows missing and "
            f"{sum(extra.values())} extra at precision {precision}; lines: "
            f"{bad[:10]!r}; extra rows: {list(extra)[:10]!r}")
    return got


# ---- corpus 1: a seeded generator built on format_influx_line ----

_PLAIN_CHARS = "abcxyz019_-.:/"
_NASTY_CHARS = _PLAIN_CHARS + ' ,="\\#\t\u00e9\u00a0\u2603'


def _text(rng, chars, lo=1, hi=8):
    return "".join(rng.choice(chars) for _ in range(rng.randint(lo, hi)))


def _value(rng, chars):
    kind = rng.randrange(7)
    if kind == 0:
        return rng.random() < 0.5
    if kind == 1:
        return rng.choice([0, 1, -1, 2**63 - 1, -2**63, 2**63, -2**63 - 1,
                           rng.randint(-10**6, 10**6),
                           rng.randint(-2**64, 2**64)])
    if kind == 2:
        return round(rng.uniform(0, 100), 1)
    if kind == 3:
        return rng.choice([0.0, -0.0, 1e-300, 5e-324, 1.7976931348623157e308,
                           float("inf"), float("nan"), 123456789.125e20,
                           rng.uniform(-1e18, 1e18)])
    if kind == 4:
        return _text(rng, chars, 0, 6)
    if kind == 5:
        return rng.randint(-10**30, 10**30) / 7.0
    return round(rng.uniform(-1e6, 1e6), rng.randint(0, 6))


def _generated(seed, n):
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        chars = _PLAIN_CHARS if rng.random() < 0.6 else _NASTY_CHARS
        tags = {_text(rng, chars): _text(rng, chars)
                for _ in range(rng.randint(0, 3))}
        fields = {_text(rng, chars): _value(rng, chars)
                  for _ in range(rng.randint(1, 4))}
        ts = rng.choice([None, rng.randint(0, 2**62),
                         rng.randint(-2**63, 2**63 - 1),
                         rng.randint(-10**22, 10**22),
                         1_451_606_400_000_000_000 + rng.randint(0, 10**12)])
        lines.append(proto.format_influx_line(_text(rng, chars), tags,
                                              fields, ts_ns=ts))
    return lines


@pytest.mark.parametrize("precision", ["ns", "s"])
def test_parity_generated(spark, precision):
    lines = _generated(7, 3000)
    got = _assert_parity(spark, lines, precision)
    # the corpus exercises both outcomes
    assert sum(n for r, n in got.items() if r[-1] is None) > 1000
    assert sum(n for r, n in got.items() if r[-1] is not None) > 100


def test_parity_mutations(spark):
    rng = random.Random(11)
    lines = []
    for line in _generated(13, 40):
        lines.extend(_mutations(line))
    lines = rng.sample(lines, min(len(lines), 6000))
    _assert_parity(spark, lines, "ns")


# ---- corpus 3: one hand case (or more) per point of the grammar ----

_I64_MAX, _I64_MIN = 2**63 - 1, -2**63
_HAND = [
    # stripping is " \t\r\n" only; blank and comment lines give no row
    "  m f=1 5  ", "\tm f=1\r\n", "\r\nm,a=b f=2i\t", "", "   ", " \t\r\n",
    "#c", "  # c f=1", "# m f=1", "m#x f=1", "\u00a0m f=1", "m f=1\u00a0",
    "m f=1 5\u00a0", "\u2003m f=1",
    # a backslash escapes only its section's stop characters
    "m\\,x f=1", "m\\ x f=1", "m\\x f=1", "m\\=x f=1", "m\\\\,t=1 f=1",
    "m,k\\==v f=1", "m,k=v\\,w f=1", "m,k=v\\ w f=1", "m,k=C:\\temp f=1",
    "m,k=v\\ f=1", "m,k=v\\= f=1", "m,k\\ x=v f=1", "m f\\=x=1",
    "m f\\,x=1,g\\ y=2", "m f\\x=1", "m\\ f=1", "m \\f=1", "m f=1\\",
    "m,k=v\\", "\\m f=1", "m\\", "m,a\\\\=b f=1",
    # quoted strings escape only \" and \\; quotes elsewhere are literal
    'm f="a\\"b"', 'm f="a\\\\"', 'm f="a\\nb"', 'm f="a\\\\\\"b"',
    'm f="unterminated', 'm f="a"x', 'm f="a" 5', 'm f="a,b=c d" 5',
    'm f=""', 'm f="\\"', 'm f="a\nb"', 'm f="a",g="b",h=1', 'm f=a"b',
    'm,"k"="v" "f"=1', '"m f=1', 'm "f=1', 'm f="x" "', 'm f="x"  5',
    'm f="\u00e9\\\u2603"', "m,k=\"v f=1",
    # NUL and the chars next to it are ordinary characters
    "m\x00x f=1", "m,k=a\x00\x02b f=\"x\x00\x02y\"", 'm f="\x00\x01"',
    "m\x00\x02 f=1\x00", "m f=1 \x00\x025",
    # duplicate tag keys keep the last value; duplicate fields give two rows
    "m,a=1,a=2 f=1", "m,a=1,b=2,a=3 f=1", "m,a=x,a=x f=1", "m f=1,f=2",
    "m f=1,f=2i,f=t", "m,a\\ b=1,a\\ b=2 f=1",
    # a tag value followed by '=' is an error; a raw value may hold '='
    "m,a=b=c f=1", "m,a==b f=1", "m f=a=b", "m f=1=2", "m f==1",
    # sections and separators
    "m  f=1", "m,a=b  f=1", "m f=1,", "m f=1,,g=2", "m ,f=1", "m, f=1",
    ",a=b f=1", "m,=b f=1", "m,a= f=1", "m,a f=1", "m f", "m", "m f=",
    "m =1", "m f=1 ", "m f=1 5 6", "m f=1  5", "m f=1 \t5", "m f=1\t5",
    "m f=1 5\t", "m\tx f=1", "m,a=b\tc f=1", "m f=,g=1", "m f=1 ,",
    "m,a=b,c=d,e=f g=1,h=2,i=3 4", "m f=1 2 ", "  ", "m\nx f=1",
    # numbers: ASCII, no '+' or '_', i64 range, finite
    "m f=+1", "m f=1_0", "m f=\uff11", "m f=1e5", "m f=1E+5", "m f=1e-5",
    "m f=.5", "m f=5.", "m f=-.5e-3", "m f=inf", "m f=Infinity",
    "m f=-Infinity", "m f=NaN", "m f=nan", "m f=1d", "m f=1f", "m f=1e400",
    "m f=-1e400", "m f=1e-400", "m f=-0", "m f=-0.0", "m f=00012",
    "m f=0x10", "m f=1e", "m f=1e+", "m f=--1", "m f=1.2.3", "m f=-",
    "m f=.", "m f=.e1", "m f=1.e1", "m f=1234567890123456789012345",
    "m f=0.1234567890123456789012", "m f=12345678901234567890e-5",
    "m f=1e0000000000000000000005", "m f=1e99", "m f=1e100",
    "m f=179769313486231570000000000000000000000000000000000000000000000000"
    "00000000000000000000000000000000000000000000000000000000000000000000"
    "00000000000000000000000000000000000000000000000000000000000000000000"
    "00000000000000000000000000000000000000000000000000000000000000000000"
    "000000000000000000000000000000000000000",
    f"m f={_I64_MAX}i", f"m f={_I64_MAX + 1}i", f"m f={_I64_MIN}i",
    f"m f={_I64_MIN - 1}i", f"m f={_I64_MAX}u", f"m f={_I64_MAX + 1}u",
    "m f=0u", "m f=-0u", "m f=-1u", "m f=00012i", "m f=-0i", "m f=1.5i",
    "m f=i", "m f=u", "m f=-i", "m f=1ii", "m f=1iu", "m f=1e3i",
    "m f=+1i", "m f=1_0i", "m f=\uff11i", "m f=1 i",
    "m f=000000000000000000000000000001i",
    "m f=t", "m f=T", "m f=true", "m f=True", "m f=TRUE", "m f=tRUE",
    "m f=tr", "m f=f", "m f=false", "m f=False", "m f=FALSE", "m f=F",
    "m f=fAlse", "m f=yes", "m f=t,g=f,h=true",
    # timestamps: floor, not truncation; no i64 overflow the scanner
    # would not hit; pandas reads i64::MIN µs as NaT
    "m f=1 0", "m f=1 -1", "m f=1 -999", "m f=1 -1000", "m f=1 -1001",
    "m f=1 1", "m f=1 999", "m f=1 1000", "m f=1 1001", "m f=1 123456789",
    f"m f=1 {_I64_MAX}", f"m f=1 {_I64_MIN}", f"m f=1 {_I64_MAX + 1}",
    f"m f=1 {_I64_MIN - 1}", f"m f=1 {_I64_MIN + 191}",
    f"m f=1 {_I64_MIN + 192}", "m f=1 99999999999999999999",
    f"m f=1 {_I64_MAX * 1000}", f"m f=1 {_I64_MAX * 1000 + 999}",
    f"m f=1 {_I64_MAX * 1000 + 1000}", f"m f=1 {_I64_MIN * 1000}",
    f"m f=1 {_I64_MIN * 1000 - 1}", f"m f=1 {_I64_MIN * 1000 + 192}",
    f"m f=1 {_I64_MIN * 1000 - 192}", f"m f=1 {_I64_MIN * 1000 - 193}",
    f"m f=1 {_I64_MAX // 1000}", f"m f=1 {_I64_MAX // 1000 + 1}",
    f"m f=1 {_I64_MIN // 1000}", f"m f=1 {_I64_MIN // 1000 - 1}",
    f"m f=1 {_I64_MAX // 10**6}", f"m f=1 {_I64_MAX // 10**6 + 1}",
    f"m f=1 {_I64_MIN // 10**6}", f"m f=1 {_I64_MIN // 10**6 - 1}",
    f"m f=1 {-(_I64_MAX // 10**6)}", "m f=1 000123", "m f=1 -000123",
    "m f=1 0000000000000000000000000000123", "m f=1 +5", "m f=1 1_000",
    "m f=1 \uff15", "m f=1 1.5", "m f=1 1e3", "m f=1 -", "m f=1 --5",
    "m f=1 5-", "m f=1 0x5",
    "m f=1 1000000000000000000000000000000",
    "m f=1 -1000000000000000000000000000000",
    # unicode, long and plain lines
    "m\u00e9,k\u00e9=v\u00e9 f\u00e9=1", "\u2603,\u2603=\u2603 \u2603=1i",
    "cpu,hostname=host_0,region=us-east-1 usage_user=58.1,usage_system=2.5"
    " 1451606400000000000",
    "m " + ",".join(f"f{i}={i}.5" for i in range(40)) + " 7",
    "m,k=" + "v" * 300 + " f=1",
    "m f=1 " + "9" * 200,
]


@pytest.mark.parametrize("precision", _PRECISIONS)
def test_parity_hand_cases(spark, precision):
    _assert_parity(spark, _HAND + [None], precision)


# ---- plans: the parse path runs no Python ----

def _python_nodes(plan: str) -> list[str]:
    return [n for n in _PYTHON_NODES if n in plan]


def test_influx_pivot_materializes_without_python(spark, monkeypatch):
    """The job influx_pivot runs (the parse) has no Python node, even for a
    batch with rejected lines, and the pivot still drops those lines."""
    df = spark.createDataFrame(
        [("cpu,h=a x=1 1",), ("cpu,h=b x=2i 2",), ("bad line",), ("",)],
        "line string")
    plans = []
    cls = type(df)
    checkpoint = cls.localCheckpoint

    def record(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", record)
    wide = proto.influx_pivot(proto.parse_influx_lines(df), "cpu")
    assert len(plans) == 1 and not _python_nodes(plans[0]), plans
    assert sorted(r["x"] for r in wide.collect()) == ["1.0", "2"]


def test_q87_parses_without_python(spark, sf_dir):
    from greptimedb_spark.queries.surfaces_q import q87_influx_ingest

    qe = q87_influx_ingest(spark, sf_dir)._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(),
                 qe.executedPlan().toString()):
        assert not _python_nodes(plan), plan


def test_unfiltered_parse_words_rejected_lines(spark):
    """Without a filter the wording branch runs: a rejected line is one err
    row with the scanner's text."""
    df = spark.createDataFrame([("m f=1 1",), ("m f=1_0",)], "line string")
    parsed = proto.parse_influx_lines(df)
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert _python_nodes(plan)
    errs = [r["err"] for r in parsed.collect() if r["err"] is not None]
    assert errs == [_parse("m f=1_0", "ns")[0][-1]]


def test_disagreement_line_is_an_err_row(spark):
    """A line that the scanner accepts, fed straight to the wording branch
    as a line the column parser rejected, comes back as an err row naming
    the disagreement instead of being dropped."""
    rejected, cols = proto._influx_err_layers(spark.sparkContext, "ms")
    line = "  m,h=a f=1 5\t"
    rows = spark.createDataFrame(
        [(line, False, False)], "line string, ok boolean, skip boolean"
    ).filter(rejected).select(*cols).collect()
    assert len(rows) == 1
    assert all(v is None for v in list(rows[0])[:-1])
    assert rows[0]["err"] == (
        "invalid line protocol: the column parser rejects a line the "
        "scanner accepts: m,h=a f=1 5")
