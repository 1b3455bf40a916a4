"""DataFusion/PostgreSQL dialect shims for string/date functions whose Spark
built-ins differ (reference behavior pinned by the sqlness
common/function/string/* and common/function/date goldens):

- initcap: word boundary is ANY non-alphanumeric (Spark: whitespace only)
- replace: Rust str::replace semantics — an empty search pattern matches at
  every char boundary (Spark returns the input unchanged)
- date_format: chrono %-specifiers (Spark uses Java patterns)

Arrow-batched pandas UDFs; these are presentation-layer scalar functions,
not aggregation hot paths.
"""

from __future__ import annotations

import re


def _initcap(s: str) -> str:
    # word = unicode alphanumeric run; '_' is a separator (golden:
    # 'world_test' → 'World_Test', 'café à paris' → 'Café À Paris')
    return re.sub(r"[^\W_]+", lambda m: m.group(0).capitalize(), s)


def _strftime(t, f: str) -> str:
    us = getattr(t, "microsecond", 0)
    # chrono fractional-seconds specifiers (python %f is fixed 6-digit µs)
    f = (f.replace("%3f", f"{us // 1000:03d}")
          .replace("%6f", f"{us:06d}")
          .replace("%9f", f"{us * 1000:09d}")
          .replace("%f", f"{us * 1000:09d}"))
    return t.strftime(f)


def _replace(s: str, find: str, repl: str) -> str:
    if find == "":
        # Rust str::replace("") inserts at every boundary
        return repl + repl.join(list(s)) + repl
    return s.replace(find, repl)


def register(spark) -> None:
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("string", PandasUDFType.SCALAR)
    def gt_initcap(s):
        return pd.Series(
            [None if x is None else _initcap(x) for x in s], dtype=object)

    @pandas_udf("string", PandasUDFType.SCALAR)
    def gt_replace(s, find, repl):
        return pd.Series(
            [None if None in (a, b, c) else _replace(a, b, c)
             for a, b, c in zip(s, find, repl)],
            dtype=object)

    @pandas_udf("string", PandasUDFType.SCALAR)
    def gt_strftime(ts, fmt):
        out = []
        for t, f in zip(ts, fmt):
            if t is None or f is None:
                out.append(None)
            else:
                out.append(_strftime(t, f))
        return pd.Series(out, dtype=object)

    @pandas_udf("string", PandasUDFType.SCALAR)
    def gt_regexp_replace(s, pat, repl):
        # DataFusion regexp_replace replaces the FIRST match unless the
        # 4-arg form passes the 'g' flag (Spark always replaces all)
        out = []
        for x, p, r in zip(s, pat, repl):
            if None in (x, p, r):
                out.append(None)
            else:
                r2 = re.sub(r"\$(\d+)", r"\\\1", r)  # $1 group refs → \1
                out.append(re.sub(p, r2, x, count=1))
        return pd.Series(out, dtype=object)

    @pandas_udf("array<string>", PandasUDFType.SCALAR)
    def gt_string_to_array(s, sep):
        # PostgreSQL string_to_array: NULL input → NULL; NULL separator →
        # one element per character; '' separator → whole string;
        # consecutive separators keep empty elements
        out = []
        for x, d in zip(s, sep):
            if x is None:
                out.append(None)
            elif d is None:
                out.append(list(x))
            elif d == "":
                out.append([x])
            else:
                out.append(x.split(d))
        return pd.Series(out, dtype=object)

    @pandas_udf("string", PandasUDFType.SCALAR)
    def gt_mysql_insert(s, pos, ln, new):
        # MySQL INSERT(str,pos,len,newstr): out-of-range pos → str unchanged
        out = []
        for x, p, l, n in zip(s, pos, ln, new):
            if None in (x, p, l, n):
                out.append(None)
            elif p < 1 or p > len(x):
                out.append(x)
            else:
                out.append(x[: p - 1] + n + x[p - 1 + max(int(l), 0):])
        return pd.Series(out, dtype=object)

    spark.udf.register("gt_mysql_insert", gt_mysql_insert)
    spark.udf.register("gt_string_to_array", gt_string_to_array)
    spark.udf.register("gt_initcap", gt_initcap)
    spark.udf.register("gt_replace", gt_replace)
    spark.udf.register("gt_strftime", gt_strftime)
    spark.udf.register("gt_regexp_replace", gt_regexp_replace)

    # Pure-SQL helpers (stay inside codegen):
    # DataFusion substr: position counts from 1; a start before the string
    # consumes length instead of wrapping from the end (Spark's negative
    # start counts from the end).
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_substr(s STRING, p INT, l INT) "
        "RETURNS STRING RETURN CASE WHEN p IS NULL OR l IS NULL THEN NULL "
        "ELSE substring(s, greatest(p, 1), greatest(l - greatest(1 - p, 0), 0)) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_substr2(s STRING, p INT) "
        "RETURNS STRING RETURN CASE WHEN p IS NULL THEN NULL "
        "ELSE substring(s, greatest(p, 1)) END"
    )
    # 2-arg regexp_extract = whole-match (group 0) in DataFusion
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_regexp_extract0"
        "(s STRING, p STRING) RETURNS STRING "
        "RETURN regexp_extract(s, p, 0)"
    )
    # clamp family (reference scalars/math/clamp.rs) — pure min/max algebra;
    # min > max raises (function/arithmetic.sql golden), via raise_error in
    # the branch so constant-folding surfaces it at execution
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp(x DOUBLE, lo DOUBLE, "
        "hi DOUBLE) RETURNS DOUBLE RETURN CASE WHEN lo > hi THEN "
        "CAST(raise_error(concat('min ', lo, ' > max ', hi)) AS DOUBLE) "
        "ELSE least(greatest(x, lo), hi) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp_min(x DOUBLE, lo DOUBLE) "
        "RETURNS DOUBLE RETURN greatest(x, lo)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp_max(x DOUBLE, hi DOUBLE) "
        "RETURNS DOUBLE RETURN least(x, hi)"
    )
    # 2-arg trims strip a character SET (Spark's 1-arg built-ins only strip
    # spaces; the set forms are TRIM(LEADING/TRAILING/BOTH … FROM …))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_ltrim(s STRING, c STRING) "
        "RETURNS STRING RETURN trim(LEADING c FROM s)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_rtrim(s STRING, c STRING) "
        "RETURNS STRING RETURN trim(TRAILING c FROM s)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_btrim(s STRING, c STRING) "
        "RETURNS STRING RETURN trim(BOTH c FROM s)"
    )
    # DataFusion numeric trunc(x, d): truncate toward zero at 10^-d (d may
    # be negative)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_trunc("
        "x DOUBLE, d INT) RETURNS DOUBLE RETURN "
        "CAST(CAST(x * POW(10, d) AS BIGINT) AS DOUBLE) / POW(10, d)"
    )


def register_zoned(spark) -> None:
    """The pure-SQL helpers that read the session time zone.  A Spark SQL
    temporary function keeps the zone it was created under, so
    ``functions.register_all`` creates these again after the zone changes."""
    # DataFusion to_unixtime: accepts ISO-8601 with 'Z'/offset suffixes,
    # bare dates, surrounding whitespace, and numeric epoch passthrough
    # (reference datafusion to_unixtime; select/dummy.sql goldens)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_to_unixtime(x STRING) "
        "RETURNS BIGINT RETURN CASE "
        "WHEN try_cast(trim(x) AS DOUBLE) IS NOT NULL "
        "THEN CAST(try_cast(trim(x) AS DOUBLE) AS BIGINT) "
        "ELSE unix_seconds(coalesce("
        "try_to_timestamp(trim(x)), "
        "try_to_timestamp(trim(x), \"yyyy-MM-dd'T'HH:mm:ssXXX\"), "
        "try_to_timestamp(trim(x), \"yyyy-MM-dd'T'HH:mm:ssX\"), "
        "try_to_timestamp(trim(x), 'yyyy-MM-dd HH:mm:ssZ'), "
        "try_to_timestamp(trim(x), 'yyyy-MM-dd HH:mm:ssXXX'), "
        "try_to_timestamp(trim(x), 'yyyy-MM-dd'))) END"
    )
    # DataFusion date_bin(interval, ts, origin): origin-aligned tumbling
    # bucket; the interval width in ms is derived via origin+i
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gt_date_bin("
        "i INTERVAL DAY TO SECOND, t TIMESTAMP, o TIMESTAMP) "
        "RETURNS TIMESTAMP RETURN timestamp_millis(unix_millis(o) "
        "+ CAST(FLOOR((unix_millis(t) - unix_millis(o)) "
        "/ (unix_millis(o + i) - unix_millis(o))) AS BIGINT) "
        "* (unix_millis(o + i) - unix_millis(o)))"
    )
