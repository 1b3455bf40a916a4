"""RANGE query engine — GreptimeDB's time-window SQL extension on DataFrames.

Reference semantics (src/query/src/range_select/plan.rs:274-294, plan_rewrite.rs;
verified against tests/cases/standalone/common/range/*.result):

``SELECT ts, host, min(val) RANGE '10s' FROM t ALIGN '5s' [TO <origin>] [BY (host)] [FILL PREV]``

- Aligned steps t = origin + n*align. The window of step t is **[t, t + range)**.
- A row at time x belongs to every aligned step t with t ∈ (x - range, x]
  (so range>align ⇒ sliding/overlapping, range<align ⇒ gappy; a row whose
  offset within its align bucket is ≥ range falls into no window).
- The output grid contains exactly the (step, by-group) pairs that have at
  least one input row in-window — FILL does NOT extend the grid; it only
  replaces NULL aggregate values:
    NULL   → keep, PREV → last non-null earlier step in the group,
    LINEAR → two-sided linear interpolation (output becomes DOUBLE; one-sided
             edges stay NULL), <const> → the constant.
- Default origin is the epoch (TO CALENDAR ≡ 1970-01-01T00:00:00Z).

Spark-first plan shape (scales to 100 TB):
- tumbling case (range == align): one `groupBy(step, *by)` — single shuffle,
  map-side partial aggregation, no row expansion.
- sliding case: rows explode into ceil(range/align) steps *before* the
  groupBy — expansion factor is the overlap count (bounded, typically 2-12),
  then the same single-shuffle aggregate. No per-series loops, no driver state.
- FILL PREV/LINEAR add one window over (by) ordered by step — a second shuffle
  on the same keys at step-grid cardinality (orders of magnitude smaller than
  input rows).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from greptimedb_spark.promql.parser import DURATION_UNITS_MS
from greptimedb_spark.sqltext import close_paren, split_top


def parse_duration_ms(text) -> int:
    """Parse '5s', '1h', '90m', '1d2h', INTERVAL-ish strings → milliseconds."""
    if isinstance(text, (int, float)):
        return int(text)
    t = text.strip().strip("'\"").lower()
    # `expr::INTERVAL` no-op casts and interval addition survive the
    # front-door rewrite into RANGE arguments (range/interval.sql)
    t = re.sub(r"\s*::\s*interval\b", "", t)
    t = t.strip("() ")
    # interval arithmetic (left-associative): '2 day' - '1 day', a + b
    m2 = re.fullmatch(r"(.+)\s*([+-])\s*(interval[^+-]*)", t)
    if m2:
        left, right = parse_duration_ms(m2.group(1)), parse_duration_ms(m2.group(3))
        return left + right if m2.group(2) == "+" else left - right
    # normalize sql-interval words
    words = {
        "nanosecond": "ns", "microsecond": "us", "millisecond": "ms", "second": "s",
        "minute": "m", "hour": "h", "day": "d", "week": "w", "year": "y",
    }
    for w, u in words.items():
        t = re.sub(rf"\s*{w}s?\b", u, t)
    t = t.replace("interval", "").replace(" ", "").replace("'", "").replace('"', "")
    if re.search(r"\d\s*(months?|mons?)\b", t):
        # Calendar months are variable-length (reference uses
        # IntervalMonthDayNano); a fixed-ms grid would be silently wrong.
        raise ValueError(f"calendar month intervals unsupported here: {text!r}")
    total = 0.0
    pos = 0
    for m in re.finditer(r"([0-9]*\.?[0-9]+)(ns|us|ms|s|m|h|d|w|y)", t):
        if m.start() != pos:
            raise ValueError(f"cannot parse duration: {text!r}")
        pos = m.end()
        total += float(m.group(1)) * DURATION_UNITS_MS[m.group(2)]
    if total == 0 or pos != len(t):
        raise ValueError(f"cannot parse duration: {text!r}")
    return int(total)


def parse_range_ms(text) -> int:
    """RANGE/ALIGN interval parse with the reference planner's extra rules
    (range/to.sql, range/interval.sql error goldens): calendar year/month
    units are rejected (variable length — a fixed-ms grid would be silently
    wrong) and the folded value must be strictly positive."""
    raw = text if isinstance(text, str) else str(text)
    if re.search(r"(?i)\b(?:years?|months?|mons?)\b|\d\s*y\b", raw):
        raise ValueError(
            f"Year or month interval is not allowed in range query: {raw!r}")
    ms = parse_duration_ms(text)
    if ms <= 0:
        raise ValueError(
            f"Illegal argument {raw!r} in range select query")
    return ms


def _fold_now_expr(t: str) -> int:
    """Constant-fold a TO expression whose now() terms cancel (range/to.sql):
    now()→0, INTERVAL literals→ms, then arithmetic."""
    expr = re.sub(r"(?i)\bnow\s*\(\s*\)", "0", t)
    expr = re.sub(
        r"(?i)interval\s*'([^']*)'\s*(\w+)",
        lambda m: str(parse_duration_ms(f"{m.group(1)} {m.group(2)}")),
        expr)
    # `**` (adjacent `*`) would turn eval into exponentiation — a hostile
    # TO (9**9**9) hangs the driver; 1/0 must surface as 'cannot fold', not
    # an uncaught ZeroDivisionError
    if re.fullmatch(r"[\d\s()+\-*/.]+", expr) and "**" not in expr:
        try:
            return int(eval(expr, {"__builtins__": {}}))
        except (ZeroDivisionError, SyntaxError, ValueError, OverflowError):
            pass
    raise ValueError(f"cannot fold TO expression: {t!r}")


@dataclass
class RangeAgg:
    """One `agg(expr) RANGE '..' [FILL ..]` item."""

    expr: str          # aggregate expression, e.g. "min(val)" / "sum(a+b)"
    alias: str
    range_ms: int | None = None   # None → use query-level range
    fill: str | None = None       # None | 'NULL' | 'PREV' | 'LINEAR' | constant literal


def _sort_keys(text: str) -> list[tuple[str, bool, bool]]:
    """``k1 [ASC|DESC] [NULLS FIRST|LAST], ...`` → (expr, asc, nulls_first)
    per key, with DataFusion's defaults: ASC → NULLS LAST, DESC → NULLS
    FIRST."""
    keys = []
    for part in split_top(text):
        part = part.strip()
        asc = not re.search(r"\bDESC\b", part, re.IGNORECASE)
        nm = re.search(r"\bNULLS\s+(FIRST|LAST)\b", part, re.IGNORECASE)
        nulls_first = (nm.group(1).upper() == "FIRST") if nm else not asc
        kexpr = re.sub(r"(?i)\s+(ASC|DESC)\b", "",
                       re.sub(r"(?i)\s+NULLS\s+(FIRST|LAST)\b", "", part)).strip()
        keys.append((kexpr, asc, nulls_first))
    return keys


def _ordered_selector_sql(expr_text: str) -> str:
    """``first_value(x ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST], ...)`` →
    Spark column algebra (reference range special_aggr.sql; DataFusion
    defaults: ASC → NULLS LAST, DESC → NULLS FIRST).

    Lowered to ``element_at(array_sort(collect_list(struct(...)), cmp), ±1)``
    — a single grouped pass, no per-group window."""
    # DataFusion lowers count(DISTINCT *) to a plain per-bucket row count
    # (special_aggr.result golden: values equal count(*), header shows
    # count(DISTINCT Int64(1)))
    if re.fullmatch(r"(?is)\s*count\s*\(\s*distinct\s+\*\s*\)\s*",
                    expr_text):
        return "count(*)"
    # For order-insensitive aggregates DataFusion accepts (and ignores) a
    # within-aggregate ORDER BY — `min(val ORDER BY ts) RANGE '5s'`
    # (reference range/nest.sql:49,59) — drop it, same no-op the non-RANGE
    # path applies (sql._rewrite_ordered_value).
    mi = re.match(r"(?is)^\s*(min|max|sum|avg|count)\s*\((.*)\)\s*$",
                  expr_text.strip())
    if mi:
        inner = mi.group(2)
        om = re.search(r"(?is)\bORDER\s+BY\b", inner)
        if om and "(" not in inner[om.end():]:
            return f"{mi.group(1)}({inner[:om.start()].strip()})"
        return expr_text
    m = re.match(r"(?is)^\s*(first_value|last_value)\s*\((.*)\)\s*$",
                 expr_text.strip())
    if not m:
        return expr_text
    fn, inner = m.group(1).lower(), m.group(2)
    om = re.search(r"(?is)\bORDER\s+BY\b", inner)
    if not om:
        return expr_text
    target = inner[:om.start()].strip()
    keys = _sort_keys(inner[om.end():])
    fields = ", ".join(
        [f"{k} AS __k{i}" for i, (k, _, _) in enumerate(keys)]
        + [f"{target} AS __v"])

    def cmp(i: int) -> str:
        if i == len(keys):
            return "0"
        _, asc, nf = keys[i]
        lt, gt = ("-1", "1") if asc else ("1", "-1")
        n_a, n_b = ("-1", "1") if nf else ("1", "-1")
        k = f"__k{i}"
        return (f"CASE WHEN a.{k} IS NULL AND b.{k} IS NULL THEN {cmp(i + 1)} "
                f"WHEN a.{k} IS NULL THEN {n_a} "
                f"WHEN b.{k} IS NULL THEN {n_b} "
                f"WHEN a.{k} < b.{k} THEN {lt} "
                f"WHEN a.{k} > b.{k} THEN {gt} "
                f"ELSE {cmp(i + 1)} END")

    pos = 1 if fn == "first_value" else -1
    return (f"element_at(array_sort(collect_list(struct({fields})), "
            f"(a, b) -> {cmp(0)}), {pos}).__v")


def range_select(
    df: DataFrame,
    time_index: str,
    aggs: list[RangeAgg],
    align: str | int,
    by: list[str] | None = None,
    to: str | int | None = None,
    fill: str | None = None,
) -> DataFrame:
    """Execute a RANGE query over ``df``; returns (ts, *by, *agg aliases).

    ``by`` items may be column names OR SQL expressions (reference by.sql
    allows ``BY (length(host))`` and constant ``BY (2)`` = one global group).
    """
    by_specs = _normalize_by(by)
    by = [a for _, a in by_specs]
    align_ms = parse_range_ms(align)
    to_ms = _origin_ms(to)
    if not aggs:
        # e.g. `RANGE (now() - INTERVAL '1' day)` — a non-constant range
        # expression parses to no aggregates; the reference rejects it with
        # "Illegal argument … in range select query" (range/to.result)
        raise ValueError("Illegal argument in range select query: "
                         "no constant RANGE aggregate")
    for a in aggs:
        if a.range_ms is None:
            raise ValueError(f"agg {a.alias} missing RANGE")
        if a.fill is None:
            a.fill = fill

    distinct_ranges = sorted({a.range_ms for a in aggs})
    ts_ms = (F.unix_micros(F.col(time_index)) / 1000).cast("long")

    # Steps for one range value: all aligned t with t in (x-range, x].
    def _step_hi() -> tuple[Column, Column]:
        off = ts_ms - F.lit(to_ms)
        rem = F.pmod(off, F.lit(align_ms))
        return ts_ms - rem, rem

    def steps_for(range_ms: int) -> Column:
        step_hi, rem = _step_hi()
        if range_ms % align_ms == 0:
            # rem < align ≤ range ⇒ every row lands in exactly range/align
            # steps: a literal (codegen'd) array, no per-row interpreted
            # sequence/transform HOFs (r11; the tumbling n=1 case skips the
            # explode entirely below)
            n = range_ms // align_ms
            return F.array(*[step_hi - k * align_ms for k in range(n)])
        k_max = F.floor((F.lit(range_ms) - rem - 1) / F.lit(align_ms)).cast("long")
        return F.when(
            k_max >= 0,
            F.transform(
                F.sequence(F.lit(0).cast("long"), k_max),
                lambda k: step_hi - k * F.lit(align_ms),
            ),
        ).otherwise(F.array().cast("array<long>"))

    # One aggregation pass per distinct RANGE (usually 1); join results on the
    # shared (step, by) grid. The grid of the final output is the union of the
    # per-range grids, matching the reference (each range expr contributes the
    # rows where *it* has input; others show NULL and FILL applies).
    parts: list[DataFrame] = []
    for r_ms in distinct_ranges:
        sub = [a for a in aggs if a.range_ms == r_ms]
        if r_ms == align_ms:
            # tumbling: each row belongs to exactly its own aligned step —
            # plain column, no Generate node
            exploded = df.withColumn("__step", _step_hi()[0])
        else:
            exploded = df.withColumn("__step", F.explode(steps_for(r_ms)))
        for expr_text, alias in by_specs:
            if expr_text != alias:
                exploded = exploded.withColumn(alias, F.expr(expr_text))
        agged = exploded.groupBy("__step", *by).agg(
            *[F.expr(_ordered_selector_sql(a.expr)).alias(a.alias) for a in sub]
        )
        parts.append(agged)
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, ["__step", *by], "full_outer")

    # Grid densification (reference plan.rs:1082-1116): if ANY range expr has
    # a FILL option (including explicit FILL NULL), every by-group's grid is
    # densified from its first to its last aligned step; empty slots pad with
    # the aggregate-of-empty value (0 for count, NULL otherwise) before the
    # fill strategies run.
    if any(a.fill is not None for a in aggs):
        bounds = out.groupBy(*by).agg(
            F.min("__step").alias("__mn"), F.max("__step").alias("__mx")
        )
        grid = bounds.select(
            *by,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), ((F.col("__mx") - F.col("__mn")) / align_ms).cast("long")),
                    lambda n: F.col("__mn") + n * F.lit(align_ms),
                )
            ).alias("__step"),
        )
        out = grid.join(out, ["__step", *by], "left")
        for a in aggs:
            if a.expr.strip().lower().startswith("count"):
                out = out.withColumn(a.alias, F.coalesce(F.col(a.alias), F.lit(0)))

    # FILL — per column, over the step-ordered window within each by-group.
    w = Window.partitionBy(*by).orderBy("__step") if by else Window.orderBy("__step")
    for a in aggs:
        c = F.col(a.alias)
        f = (a.fill or "NULL").upper() if isinstance(a.fill, str) else a.fill
        if f in (None, "NULL"):
            continue
        if f == "PREV":
            prev = F.last(a.alias, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            out = out.withColumn(a.alias, prev)
        elif f == "LINEAR":
            wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            val_d = c.cast("double")
            step_if = F.when(c.isNotNull(), F.col("__step"))
            pv = F.last(val_d, ignorenulls=True).over(wb)
            pt = F.last(step_if, ignorenulls=True).over(wb)
            nv = F.first(val_d, ignorenulls=True).over(wf)
            nt = F.first(step_if, ignorenulls=True).over(wf)
            interp = pv + (nv - pv) * (F.col("__step") - pt) / (nt - pt)
            out = out.withColumn(
                a.alias,
                F.when(c.isNotNull(), val_d).otherwise(
                    F.when(pt.isNotNull() & nt.isNotNull(), interp)
                ),
            )
        else:  # constant literal, e.g. FILL 6 / FILL 1.5
            # the constant must fit the aggregate's type — FILL 3.0 into an
            # integer column is rejected, not silently widened
            # (range/error.sql fill-option golden)
            col_type = dict(out.dtypes).get(a.alias, "")
            lit = str(a.fill).strip("'\"")
            if col_type in ("bigint", "int", "smallint", "tinyint") and \
                    not re.fullmatch(r"[+-]?\d+", lit):
                raise ValueError(
                    f"{a.fill} is not a valid fill option, fail to convert "
                    f"to a const value of {col_type}")
            out = out.withColumn(a.alias, F.coalesce(c, F.expr(str(a.fill))))
    return out.select(
        F.timestamp_millis(F.col("__step")).alias(time_index), *by, *[a.alias for a in aggs]
    )


def _normalize_by(by) -> list[tuple[str, str]]:
    """(expr_text, output alias) per BY item; non-identifier expressions get
    generated aliases."""
    specs = []
    for i, b in enumerate(by or []):
        b = str(b).strip()
        alias = b if re.fullmatch(r"\w+", b) and not b.isdigit() else f"__by{i}"
        specs.append((b, alias))
    return specs


def _origin_ms(to: str | int | None) -> int:
    if to is None:
        return 0
    if isinstance(to, int):
        return to
    t = to.strip().strip("'\"")
    if t.upper() in ("", "CALENDAR"):
        return 0
    if t.upper() == "NOW":
        import time

        return int(time.time() * 1000)
    if re.fullmatch(r"-?\d+", t):
        return int(t)  # pre-folded epoch-ms offset (see _fold_now_expr)
    if re.search(r"(?i)\bnow\s*\(", t):
        return _fold_now_expr(t)
    import datetime as dt

    s = t.replace("T", " ")
    # Support trailing timezone offset.
    m = re.match(r"(.*?)([+-]\d{2}:?\d{2})$", s)
    tz = None
    if m:
        s, tzs = m.group(1).strip(), m.group(2).replace(":", "")
        tz = dt.timezone(dt.timedelta(hours=int(tzs[:3]), minutes=int(tzs[0] + tzs[3:])))
    d = dt.datetime.fromisoformat(s)
    d = d.replace(tzinfo=tz or dt.timezone.utc)
    return int(d.timestamp() * 1000)


# ---------------------------------------------------------------------------
# SQL front-door: rewrite `... RANGE ... ALIGN ...` text into range_select()
# (the reference rewrites the AST in RangePlanRewriter; we rewrite the text —
# same effect, no engine hooks needed).
# ---------------------------------------------------------------------------

# bounded nesting inside the aggregate call (min(floor(CAST(v AS
# double)))); a parenthesized group before RANGE distributes the range to
# every aggregate inside ((min(val)+max(val)) RANGE '20s', range/calculate).
# Depth 6 covers the approx_percentile_cont lowering
# (gt_apcw(array_sort(collect_list(CASE … struct(CAST(…)) …)), q)).


def _nest_pat(depth: int) -> str:
    pat = r"[^()]*"
    for _ in range(depth - 1):
        pat = rf"(?:[^()]|\({pat}\))*"
    return rf"\({pat}\)"


_NEST3 = _nest_pat(6)
_RANGE_RE = re.compile(
    rf"(?P<agg>\w+\s*{_NEST3}|{_NEST3})\s+RANGE\s+"
    r"(?:'(?P<range>[^']+)'|"
    r"\(\s*(?P<range_p>(?=[^)]*INTERVAL)(?:[^()]|\([^()]*\))+)\))"
    r"(?:\s+FILL\s+(?P<fill>\w+|'[^']*'|\d+(?:\.\d+)?))?",
    re.IGNORECASE,
)
_AGG_CALL_RE = re.compile(rf"\w+\s*{_NEST3}")


def parse_range_sql(sql: str) -> dict:
    """Parse the supported RANGE statement shape into its parts.

    Supported: SELECT <ts>, <by...>, <scalar expr over agg(expr) RANGE 'r'
               [FILL f] terms> [AS alias], ...
               FROM <table> [WHERE ...] ALIGN 'a' [TO '...'] [BY (cols)] [FILL f]
               [ORDER BY ...] [LIMIT n]

    Arbitrary scalar arithmetic AROUND range aggregates (reference
    calculate.sql, e.g. ``max(val) RANGE '10s' * 4 + 1``) is handled by
    substituting each range-agg term with an internal alias and keeping the
    surrounding expression as a post-projection.
    """
    s = sql.strip().rstrip(";")
    # TO (expr) with arbitrary nesting (range/to.sql `TO (now() - (now() +
    # INTERVAL '1' hour))`): fold the balanced expression to an epoch-ms
    # offset before the flat ALIGN regex runs
    tm = re.search(r"(?i)\bTO\s*\(", s)
    end = close_paren(s, tm.end()) if tm else None
    if end is not None:
        s = (s[:tm.start()] + f"TO '{_fold_now_expr(s[tm.end() - 1:end + 1])}'"
             + s[end + 1:])
    m_align = re.search(
        r"ALIGN\s+(?:'(?P<align>[^']+)'|"
        r"\(\s*(?P<align_p>(?=[^)]*INTERVAL)(?:[^()]|\([^()]*\))+)\))"
        r"(?:\s+TO\s+(?P<to>'[^']*'|\((?:[^()]|\([^()]*\))*\)|\S+))?",
        s,
        re.IGNORECASE,
    )
    if not m_align:
        raise ValueError("not a RANGE query (missing ALIGN)")
    # trailing ORDER BY / LIMIT [OFFSET] apply to the RANGE output; cut them
    # off before the BY/FILL clauses are parsed (ORDER BY (x) is not BY (x))
    limit = offset = None
    m_limit = re.search(r"\bLIMIT\s+(\d+)(?:\s+OFFSET\s+(\d+))?\s*$", s,
                        re.IGNORECASE)
    if m_limit and m_limit.start() > m_align.end():
        limit = int(m_limit.group(1))
        offset = int(m_limit.group(2)) if m_limit.group(2) else None
        s = s[:m_limit.start()].rstrip()
    order = None
    m_order = re.search(r"\bORDER\s+BY\b", s[m_align.end():], re.IGNORECASE)
    if m_order:
        order = s[m_align.end() + m_order.end():].strip()
        s = s[:m_align.end() + m_order.start()].rstrip()
    # BY (...) needs balanced-paren extraction (BY (length(host)) is legal)
    by_text = None
    m_by = re.search(r"\bBY\s*\(", s[m_align.end():], re.IGNORECASE)
    if m_by:
        start = m_align.end() + m_by.end()
        by_text = s[start:close_paren(s, start)]
    m_fill = re.search(r"\bFILL\s+(\S+)\s*(?:ORDER|LIMIT|$)", s[m_align.end():], re.IGNORECASE)
    m_from = re.search(r"FROM\s+(\w+)", s, re.IGNORECASE)
    m_where = re.search(r"WHERE\s+(.*?)\s+ALIGN", s, re.IGNORECASE | re.DOTALL)
    m_select = re.search(r"SELECT\s+(.*?)\s+FROM\s", s, re.IGNORECASE | re.DOTALL)

    aggs: list[RangeAgg] = []
    items: list[dict] = []  # one per SELECT item, in order
    select_list = split_top(m_select.group(1)) if m_select else []
    for idx, item in enumerate(select_list):
        item = item.strip()
        alias_m = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
        out_alias = alias_m.group(1) if alias_m else None
        body = item[: alias_m.start()] if alias_m else item

        def sub(m: re.Match, idx=idx) -> str:
            rng = parse_range_ms(m.group("range") or m.group("range_p"))
            agg_text = m.group("agg")
            if agg_text.lstrip().startswith("("):
                # (min(val) + max(val)) RANGE '20s': the range applies to
                # every aggregate inside the group (range/calculate.result)
                def isub(im: re.Match) -> str:
                    internal = f"__r{len(aggs)}"
                    aggs.append(RangeAgg(expr=im.group(0), alias=internal,
                                         range_ms=rng, fill=m.group("fill")))
                    return internal

                return _AGG_CALL_RE.sub(isub, agg_text)
            internal = f"__r{len(aggs)}"
            aggs.append(
                RangeAgg(
                    expr=agg_text,
                    alias=internal,
                    range_ms=rng,
                    fill=m.group("fill"),
                )
            )
            return internal

        new_body = _RANGE_RE.sub(sub, body)
        items.append(
            {
                "expr": new_body.strip(),
                "raw": body.strip(),
                "alias": out_alias or (f"agg_{idx}" if new_body != body else None),
                "has_range": new_body != body,
            }
        )

    by = split_top(by_text) if by_text is not None else None
    return {
        "aggs": aggs,
        "items": items,
        "table": m_from.group(1),
        "where": m_where.group(1) if m_where else None,
        "align": m_align.group("align") or m_align.group("align_p"),
        "to": (m_align.group("to") or "").strip("'\"") or None,
        "by": by,
        "fill": m_fill.group(1) if m_fill else None,
        "order": order,
        "limit": limit,
        "offset": offset,
    }


def range_sql(spark, sql: str, time_index: str = "ts", df: DataFrame | None = None,
              default_by: list[str] | None = None, tz_offset_ms: int = 0) -> DataFrame:
    """Run a RANGE-extension SQL statement (see parse_range_sql for the shape).

    ``default_by`` supplies the BY columns when the statement has no BY clause
    — the reference defaults to the table's primary-key tags
    (plan_rewrite.rs default_by). ``tz_offset_ms`` shifts the default
    (TO CALENDAR) origin: the reference aligns to epoch+offset under a session
    time_zone (verified against range/to.result)."""
    parts = parse_range_sql(sql)
    base = df if df is not None else spark.table(parts["table"])
    if parts["where"]:
        base = base.filter(F.expr(parts["where"]))
    by = parts["by"] if parts["by"] is not None else (default_by or [])
    to = parts["to"]
    if to is None and tz_offset_ms:
        to = tz_offset_ms
    out = range_select(
        base, time_index, parts["aggs"], parts["align"], by, to, parts["fill"]
    )
    # output projection follows the SELECT list (reference keeps only the
    # selected columns — a constant BY (2) key is grouped on but not emitted)
    by_specs = _normalize_by(by)

    def norm(t: str) -> str:
        return " ".join(str(t).split())

    projs = []
    for it in parts["items"]:
        if it["has_range"]:
            projs.append(F.expr(it["expr"]).alias(it["alias"]))
            continue
        raw = norm(it["raw"])
        if raw == time_index:
            projs.append(F.col(time_index))
            continue
        match = next((a for e, a in by_specs if norm(e) == raw), None)
        col = F.col(match) if match else F.expr(raw)
        projs.append(col.alias(it["alias"]) if it["alias"] else col)
    out = out.select(*projs)
    if parts["order"]:
        # a key is a BY expression (grouped on, maybe not selected), an
        # output position, or an expression over the SELECT aliases
        keys = []
        for e, asc, nulls_first in _sort_keys(parts["order"]):
            by_alias = next((a for b, a in by_specs if norm(b) == norm(e)), None)
            col = (F.col(by_alias) if by_alias
                   else F.col(out.columns[int(e) - 1]) if e.isdigit()
                   else F.expr(e))
            keys.append(getattr(col, ("asc" if asc else "desc") + "_nulls_"
                                + ("first" if nulls_first else "last"))())
        # the ordered result streams to one client anyway: one partition
        # sorts it without orderBy's range-partition sampling job and stage
        out = out.coalesce(1).sortWithinPartitions(*keys)
    if parts["offset"]:
        out = out.offset(parts["offset"])
    if parts["limit"] is not None:
        out = out.limit(parts["limit"])
    return out
