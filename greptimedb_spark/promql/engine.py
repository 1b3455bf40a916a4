"""PromQL evaluator: AST → declarative DataFrame pipelines.

Semantics ported from the reference's extension plans (file:line cites per
function below); execution shape is Spark-first:

- Instant selector + lookback/staleness (reference InstantManipulate,
  src/promql/src/extension_plan/instant_manipulate.rs:517 — window
  ``(t-lookback, t]``): each sample explodes to the aligned eval steps it can
  serve (bounded fan-out = lookback/step), then one grouped ``max_by``
  per (step, series) picks the latest sample. No per-series loops, one
  shuffle, map-side partial aggregation.
- Range selector (reference RangeManipulate,
  src/promql/src/extension_plan/range_manipulate.rs:693 — window
  ``(t-range, t]``): same explosion with fan-out range/step, but the grouped
  aggregate computes exactly the statistics the wrapping function needs
  (first/last/count/sums) instead of materializing per-window arrays.
- Counter semantics (rate/increase/resets/changes): per-series cumulative
  reset-correction/change counters via a single window pass *before*
  explosion, so window stats reduce to last-minus-first — the same
  incremental trick the reference applies inside its kernel
  (src/promql/src/functions/extrapolate_rate.rs:215-231), but expressed as
  codegen'd window + aggregate instead of a stateful scan.
- Extrapolation math for rate/increase/delta ported exactly from
  extrapolate_rate.rs:244-281 (Prometheus extrapolatedRate).

Every eval step is a long (epoch ms) column named ``__t``; vectors carry
(``__t``, *labels, value).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from greptimedb_spark.functions import native_histogram as nh
from greptimedb_spark.promql.parser import (
    Aggregate, BinaryOp, Call, LabelMatcher, NumberLiteral, StringLiteral,
    Subquery, Unary, VectorMatching, VectorSelector, parse_promql,
)

DEFAULT_LOOKBACK_MS = 300_000  # 5m, reference src/query/src/parser.rs:40
_MAX_MS = (1 << 62) // 1000  # clamp for window bounds: past any stored time


@dataclass
class MetricTable:
    df: DataFrame
    value_col: str = "value"
    time_index: str = "ts"
    tags: list[str] = field(default_factory=list)
    fields: list[str] | None = None  # all field columns (for __field__ selection)


@dataclass
class VectorResult:
    df: DataFrame  # (__t long, *labels, value double)
    labels: list[str]
    is_scalar: bool = False  # scalar()/time() results: one value per step, no labels
    # pi() is inlined by the reference planner as a per-row SQL scalar: a
    # binop with a vector projects ONLY (ts, value), dropping the vector's
    # tags (promql/math.result `angles.val * .pi()` golden) — unlike
    # scalar(), whose binop keeps the vector side's labels
    inline_scalar: bool = False


@dataclass
class _Ctx:
    start: int
    end: int
    step: int
    lookback: int


class PromQLEngine:
    """Evaluate PromQL text over registered metric tables."""

    def __init__(self, spark: SparkSession, tables: dict[str, MetricTable],
                 lookback_ms: int = DEFAULT_LOOKBACK_MS):
        self.spark = spark
        self.tables = tables
        self.lookback_ms = lookback_ms
        self._field_slot = 0  # current field position in multi-field passes
        self._n_slots = 1  # field positions of the expression being evaluated
        self._join_n = 0  # numbers the aliases of each binary-op join

    def evaluate(self, query: str, start_ms: int, end_ms: int, step_ms: int) -> DataFrame:
        """Range-query evaluation; returns (ts timestamp, *labels, value)."""
        ast = parse_promql(query)
        ctx = _Ctx(start_ms, end_ms, step_ms, self.lookback_ms)
        k = self._field_slots(ast)
        self._n_slots = k
        if k > 1:
            # multi-field metrics (reference promql field matching,
            # tql/binary_operator.sql `data / data`): the whole expression
            # evaluates once per field position; results join on (ts, labels)
            # into one value column per position
            dfs, labels = [], None
            for i in range(k):
                self._field_slot = i
                r = self._eval(ast, ctx)
                labels = r.labels
                dfs.append(r.df.select(
                    "__t", *r.labels,
                    F.col("value").cast("double").alias(f"value{i}")))
            self._field_slot = 0
            out = dfs[0]
            for d in dfs[1:]:
                out = out.join(d, ["__t", *labels], "full_outer")
            return out.select(
                F.timestamp_millis(F.col("__t")).alias("ts"), *labels,
                *[f"value{i}" for i in range(k)])
        res = self._eval(ast, ctx)
        if isinstance(res, str):
            # top-level string literal: the literal itself at every step
            # (tql/literal_only.sql `"1+1"`)
            return self._grid(ctx).select(
                F.timestamp_millis(F.col("__t")).alias("ts"),
                F.lit(res).alias("value"))
        if isinstance(res, (int, float)):
            res = self._scalar_to_vector(float(res), ctx)
        if nh.is_native_histogram_type(res.df.schema["value"].dataType):
            # histogram-valued result: render the reference's promql_string
            # form (native_histogram.rs:380) instead of a double cast
            return res.df.select(
                F.timestamp_millis(F.col("__t")).alias("ts"),
                *res.labels,
                nh.histogram_promql_string(F.col("value")).alias("value"),
            )
        out = res.df.select(
            F.timestamp_millis(F.col("__t")).alias("ts"),
            *res.labels,
            F.col("value").cast("double").alias("value"),
        )
        return out

    def _field_slots(self, node) -> int:
        """Number of field positions the expression spans: the max count of
        explicit __field__ selections (or a metric's full field list when it
        has several) over all selectors (reference field matching)."""
        k, stack = 1, [node]
        while stack:
            n = stack.pop()
            if isinstance(n, VectorSelector):
                nf = len([m for m in n.matchers if m.name == "__field__"])
                if nf == 0:
                    metric = n.metric or next(
                        (m.value for m in n.matchers
                         if m.name == "__name__" and m.op == "="), None)
                    mt = self.tables.get(metric)
                    if mt is not None and mt.fields:
                        nf = len(mt.fields)
                k = max(k, nf)
                continue
            if not hasattr(n, "__dict__"):
                continue
            for v in vars(n).values():
                if isinstance(v, (list, tuple)):
                    stack.extend(x for x in v if hasattr(x, "__dict__"))
                elif hasattr(v, "__dict__"):
                    stack.append(v)
        return k

    # -- dispatch ---------------------------------------------------------

    def _eval(self, node, ctx: _Ctx):
        if isinstance(node, NumberLiteral):
            return node.value
        if isinstance(node, StringLiteral):
            return node.value
        if isinstance(node, VectorSelector):
            if node.range_ms is not None:
                raise ValueError("raw range vector needs a function (e.g. rate)")
            if node.at_ms is not None:
                return self._broadcast_at(
                    node, node, ctx,
                    lambda n, c: self._instant_selector(n, c))
            return self._instant_selector(node, ctx)
        if isinstance(node, Unary):
            inner = self._eval(node.expr, ctx)
            if isinstance(inner, float):
                return -inner
            return VectorResult(
                inner.df.withColumn("value", -F.col("value")), inner.labels,
                inner.is_scalar,
            )
        if isinstance(node, Aggregate):
            return self._aggregate(node, ctx)
        if isinstance(node, Call):
            return self._call(node, ctx)
        if isinstance(node, BinaryOp):
            return self._binary(node, ctx)
        if isinstance(node, Subquery):
            # TOP-LEVEL subquery: Prometheus proper rejects a range query
            # whose result is a range vector, but the reference executes it
            # — tql.rs plans a final PromRangeManipulate over the inner
            # expression (promql/encode_substrait.sql golden). Materialize
            # the range vector in its natural row form: the inner
            # expression's samples on the subquery's absolute-aligned
            # sub-step grid, spanning the union of every eval step's
            # window (start-range, end].
            base, tags, _rng = self._range_samples(node, ctx)
            return VectorResult(
                base.select(F.col("__x").alias("__t"), *tags, "value"),
                list(tags))
        raise ValueError(f"unsupported node {node}")

    # -- selectors ----------------------------------------------------------

    def _metric_base(self, sel: VectorSelector, ctx: _Ctx, window_ms: int):
        """The selector's samples ``(__x, *tags, value)`` that can serve a
        step of ``ctx`` with a ``window_ms`` lookback or range."""
        # bare {__name__="m"} selectors name the metric via matcher; the
        # __schema__/__database__ matchers are single-catalog no-ops here
        metric = sel.metric
        matchers = []
        empty = False
        field_sel = None
        for m in sel.matchers:
            if m.name == "__name__" and m.op in ("=~", "!~"):
                # tql/basic.result: regex matchers on the metric name are
                # rejected (the reference resolves __name__ to ONE table)
                raise ValueError(
                    f"Matcher operator {m.op} is not supported for __name__")
            if m.name == "__name__" and m.op == "=" and not metric:
                metric = m.value
            elif m.name in ("__schema__", "__database__"):
                # single default schema: anything else selects nothing
                if m.value not in ("public", "greptime", ""):
                    empty = True
            elif m.name == "__field__":
                field_sel = m.value if field_sel is None else field_sel
            elif m.name != "__name__":
                matchers.append(m)
        field_sels = [m.value for m in sel.matchers if m.name == "__field__"]
        if not metric:
            # nameless selector: Prometheus requires >=1 matcher that cannot
            # match the empty string (tql/basic.result {__name__!="test"})
            def _matches_empty(m):
                if m.op == "=":
                    return m.value == ""
                if m.op == "!=":
                    return m.value != ""
                ok = bool(re.fullmatch(f"(?:{m.value})", ""))
                return ok if m.op == "=~" else not ok
            if all(_matches_empty(m) for m in sel.matchers):
                raise ValueError(
                    "vector selector must contain at least one non-empty "
                    "matcher")
        mt = self.tables.get(metric)
        if mt is None:
            # reference returns an empty result for unknown metrics
            # (tests/cases/standalone/common/promql/label.result "Should
            # return empty result instead of error")
            empty = self.spark.createDataFrame([], "__x long, value double")
            return empty, []
        value_col = mt.value_col
        if field_sels:
            sel_f = field_sels[min(self._field_slot, len(field_sels) - 1)]
            if mt.fields and sel_f not in mt.fields:
                raise ValueError(f"unknown field {sel_f!r} on {metric}")
            value_col = sel_f
        elif mt.fields and len(mt.fields) > 1:
            # field position i of the current multi-field pass (evaluate())
            value_col = mt.fields[min(self._field_slot, len(mt.fields) - 1)]
        df = mt.df
        if empty:
            df = df.filter(F.lit(False))
        for m in matchers:
            # Prometheus semantics: an absent label (missing column, or NULL
            # tag value) matches as the empty string
            c = F.coalesce(F.col(m.name), F.lit("")) if m.name in df.columns else F.lit("")
            if m.op == "=":
                df = df.filter(c == m.value)
            elif m.op == "!=":
                df = df.filter(c != m.value)
            elif m.op == "=~":
                df = df.filter(c.rlike(f"^(?:{m.value})$"))
            else:
                df = df.filter(~c.rlike(f"^(?:{m.value})$"))
        df = self._in_window(df, mt, sel, ctx, window_ms)
        ts_ms = (F.unix_micros(F.col(mt.time_index)) / 1000).cast("long")
        if sel.offset_ms:
            ts_ms = ts_ms + F.lit(sel.offset_ms)
        # native-histogram value columns stay as structs; scalars cast
        # double. Backtick-quote: flow-created value columns carry dots and
        # parens in the NAME (`count(http_requests.val)`, flow_tql.result)
        vref = F.col(f"`{value_col}`") if re.search(r"[.()]", value_col) \
            else F.col(value_col)
        val = (vref
               if nh.is_native_histogram_type(mt.df.schema[value_col].dataType)
               else vref.cast("double"))
        base = df.select(
            ts_ms.alias("__x"),
            *[F.col(t).cast("string").alias(t) for t in mt.tags],
            val.alias("value"),
        )
        return base, list(mt.tags)

    @staticmethod
    def _in_window(df: DataFrame, mt: MetricTable, sel: VectorSelector,
                   ctx: _Ctx, window_ms: int) -> DataFrame:
        """Keep the rows whose time index can serve a step of ``ctx``: a
        sample at x (after offset) serves the steps t in [start, end] with
        x in (t - window, t]. The filter is on the raw time index, widened
        1 ms each side for the µs → ms truncation, so it reaches the
        Parquet scan and sits below the merge window; _explode_steps still
        does the exact windowing. The column type is read from the
        table's own frame, whose schema PySpark caches."""
        ti = mt.df.schema[mt.time_index].dataType
        if not isinstance(ti, (TimestampType, TimestampNTZType)):
            return df
        lo = ctx.start - window_ms - sel.offset_ms - 1
        hi = ctx.end - sel.offset_ms + 1
        lo, hi = (F.timestamp_millis(F.lit(max(min(b, _MAX_MS), -_MAX_MS)))
                  .cast(ti) for b in (lo, hi))
        ts = F.col(mt.time_index)
        return df.filter((ts > lo) & (ts <= hi))

    def _explode_steps(self, df: DataFrame, window_ms: int, ctx: _Ctx) -> DataFrame:
        """Attach ``__t``: every aligned eval step this sample is visible at —
        t ≡ start (mod step), t ∈ [start, end], t ∈ [x, x+window)."""
        x = F.col("__x")
        start, end, step = F.lit(ctx.start), F.lit(ctx.end), F.lit(ctx.step)
        n_lo = F.greatest(-F.floor((start - x) / step), F.lit(0)).cast("long")
        n_hi = F.least(
            (-F.floor((start - x - F.lit(window_ms)) / step) - 1).cast("long"),
            ((end - start) / step).cast("long"),
        )
        steps = F.when(
            n_hi >= n_lo,
            F.transform(F.sequence(n_lo, n_hi), lambda n: start + n * step),
        ).otherwise(F.array().cast("array<long>"))
        return df.withColumn("__t", F.explode(steps))

    def _instant_selector(self, sel: VectorSelector, ctx: _Ctx) -> VectorResult:
        base, tags = self._metric_base(sel, ctx, ctx.lookback)
        exploded = self._explode_steps(base, ctx.lookback, ctx)
        out = exploded.groupBy("__t", *tags).agg(
            F.expr("max_by(value, __x)").alias("value")
        )
        return VectorResult(out, tags)

    # -- range functions -------------------------------------------------------

    _RANGE_FNS = {
        "rate", "increase", "delta", "idelta", "irate",
        "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
        "count_over_time", "last_over_time", "stddev_over_time",
        "stdvar_over_time", "quantile_over_time", "present_over_time",
        "changes", "resets", "deriv", "predict_linear",
        "double_exponential_smoothing", "holt_winters",
    }

    def _range_samples(self, arg, ctx: _Ctx):
        """Samples feeding a range function: (df(__x, *tags, value), tags, rng).

        A Subquery evaluates its inner expression on an absolute-aligned
        sub-step grid (Prometheus subquery semantics: steps are multiples of
        the resolution, window is (t-range, t]); the resulting per-step
        samples then act as the raw samples of the outer range function."""
        if isinstance(arg, Subquery):
            rng = arg.range_ms
            sub = arg.step_ms or ctx.step
            lo = ((ctx.start - rng) // sub) * sub + sub
            hi = max((ctx.end // sub) * sub, lo)
            ictx = _Ctx(lo, hi, sub, ctx.lookback)
            inner = self._eval(arg.expr, ictx)
            if isinstance(inner, (int, float)):
                inner = self._scalar_to_vector(float(inner), ictx)
            base = inner.df.select(
                F.col("__t").alias("__x"), *inner.labels, "value"
            )
            if arg.offset_ms:
                base = base.withColumn("__x", F.col("__x") + F.lit(arg.offset_ms))
            return base, list(inner.labels), rng
        if not isinstance(arg, VectorSelector) or arg.range_ms is None:
            raise ValueError("range function needs a range vector")
        base, tags = self._metric_base(arg, ctx, arg.range_ms)
        return base, tags, arg.range_ms

    def _range_fn(self, fn: str, sel, ctx: _Ctx, extra=None) -> VectorResult:
        base, tags, rng = self._range_samples(sel, ctx)

        if nh.is_native_histogram_type(base.schema["value"].dataType):
            return self._range_fn_hist(fn, base, tags, rng, ctx)

        needs_series_pass = fn in (
            "rate", "increase", "idelta", "irate", "changes", "resets"
        )
        if needs_series_pass:
            w = Window.partitionBy(*tags).orderBy("__x") if tags else Window.orderBy("__x")
            prev_v = F.lag("value").over(w)
            cum = Window.partitionBy(*tags).orderBy("__x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            ) if tags else Window.orderBy("__x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            base = (
                base.withColumn("__prev_v", prev_v)
                .withColumn("__prev_x", F.lag("__x").over(w))
                .withColumn(
                    "__cum_corr",
                    F.sum(
                        F.when(F.col("value") < F.col("__prev_v"), F.col("__prev_v")).otherwise(0.0)
                    ).over(cum),
                )
                .withColumn(
                    "__cum_chg",
                    F.sum(
                        F.when(
                            F.col("__prev_v").isNotNull()
                            & (
                                (F.col("value") != F.col("__prev_v"))
                                | (F.isnan("value") != F.isnan("__prev_v"))
                            ),
                            1,
                        ).otherwise(0)
                    ).over(cum),
                )
                .withColumn(
                    "__cum_rst",
                    F.sum(
                        F.when(F.col("value") < F.col("__prev_v"), 1).otherwise(0)
                    ).over(cum),
                )
            )

        ex = self._explode_steps(base, rng, ctx)

        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.min("__x").alias("first_ts"),
            F.max("__x").alias("last_ts"),
            F.expr("min_by(value, __x)").alias("first_val"),
            F.expr("max_by(value, __x)").alias("last_val"),
        ]
        if needs_series_pass:
            aggs += [
                F.expr("min_by(__cum_corr, __x)").alias("corr_first"),
                F.expr("max_by(__cum_corr, __x)").alias("corr_last"),
                F.expr("min_by(__cum_chg, __x)").alias("chg_first"),
                F.expr("max_by(__cum_chg, __x)").alias("chg_last"),
                F.expr("min_by(__cum_rst, __x)").alias("rst_first"),
                F.expr("max_by(__cum_rst, __x)").alias("rst_last"),
                F.expr("max_by(__prev_v, __x)").alias("last_prev_v"),
                F.expr("max_by(__prev_x, __x)").alias("last_prev_x"),
            ]
        if fn in ("avg_over_time",):
            aggs.append(F.avg("value").alias("v_avg"))
        if fn in ("min_over_time",):
            aggs.append(F.min("value").alias("v_min"))
        if fn in ("max_over_time",):
            # Prometheus maxOverTime skips NaN unless every sample is NaN
            # (Spark's max sorts NaN above all values — the opposite)
            aggs.append(
                F.coalesce(
                    F.max(F.when(~F.isnan("value"), F.col("value"))),
                    F.lit(float("nan")),
                ).alias("v_max")
            )
        if fn in ("sum_over_time",):
            aggs.append(F.sum("value").alias("v_sum"))
        if fn in ("stddev_over_time", "stdvar_over_time"):
            aggs.append(F.var_pop("value").alias("v_varp"))
        if fn == "quantile_over_time":
            q = float(extra)
            if 0.0 <= q <= 1.0:
                aggs.append(F.percentile("value", q).alias("v_quant"))
            else:  # Prometheus: out-of-range φ → ±Inf (with a warning)
                aggs.append(
                    F.lit(float("inf") if q > 1 else float("-inf")).alias("v_quant")
                )
        if fn in ("deriv", "predict_linear"):
            xs = (F.col("__x") - F.col("__t")) / 1000.0
            aggs += [
                F.sum(xs).alias("sx"),
                F.sum("value").alias("sy"),
                F.sum(xs * F.col("value")).alias("sxy"),
                F.sum(xs * xs).alias("sxx"),
            ]
        if fn in ("double_exponential_smoothing", "holt_winters"):
            # bounded per-window sample array (≤ range/scrape-interval rows)
            # for the sequential Holt-Winters recurrence
            aggs.append(
                F.sort_array(F.collect_list(F.struct("__x", "value"))).alias("samples")
            )

        g = ex.groupBy("__t", *tags).agg(*aggs)
        value = self._range_value(fn, g, rng, extra)
        out = g.withColumn("value", value).filter(F.col("value").isNotNull()).select(
            "__t", *tags, "value"
        )
        return VectorResult(out, tags)

    def _range_value(self, fn: str, g: DataFrame, rng: int, extra) -> Column:
        n = F.col("n")
        first_ts, last_ts = F.col("first_ts"), F.col("last_ts")
        first_val, last_val = F.col("first_val"), F.col("last_val")

        if fn in ("rate", "increase", "delta"):
            is_counter = fn in ("rate", "increase")
            is_rate = fn == "rate"
            corr = (F.col("corr_last") - F.col("corr_first")) if is_counter else F.lit(0.0)
            result = last_val - first_val + corr
            range_end = F.col("__t")
            range_start = range_end - F.lit(rng)
            sampled = (last_ts - first_ts).cast("double")
            avg_int = sampled / (n - 1)
            dur_start = (first_ts - range_start).cast("double")
            dur_end = (range_end - last_ts).cast("double")
            if is_counter:
                # zero-crossing cap, extrapolate_rate.rs:247-253
                dur_zero = sampled * (first_val / result)
                dur_start = F.when(
                    (result > 0) & (first_val >= 0) & (dur_zero < dur_start), dur_zero
                ).otherwise(dur_start)
            thresh = avg_int * 1.1
            ext = (
                sampled
                + F.when(dur_start < thresh, dur_start).otherwise(avg_int / 2)
                + F.when(dur_end < thresh, dur_end).otherwise(avg_int / 2)
            )
            factor = ext / sampled
            if is_rate:
                factor = factor / F.lit(rng / 1000.0)
            return F.when(n >= 2, result * factor)

        if fn in ("idelta", "irate"):
            ok = (n >= 2) & F.col("last_prev_x").isNotNull() & (
                F.col("last_prev_x") > F.col("__t") - F.lit(rng)
            )
            if fn == "idelta":
                return F.when(ok, last_val - F.col("last_prev_v"))
            raw = last_val - F.col("last_prev_v")
            adjusted = F.when(raw < 0, last_val).otherwise(raw)  # reset → counter restarted
            dt_s = (last_ts - F.col("last_prev_x")) / 1000.0
            return F.when(ok, adjusted / dt_s)

        if fn == "changes":
            return F.when(n >= 1, F.col("chg_last") - F.col("chg_first")).cast("double")
        if fn == "resets":
            return F.when(n >= 1, F.col("rst_last") - F.col("rst_first")).cast("double")
        if fn == "avg_over_time":
            return F.col("v_avg")
        if fn == "min_over_time":
            return F.col("v_min")
        if fn == "max_over_time":
            return F.col("v_max")
        if fn == "sum_over_time":
            return F.col("v_sum")
        if fn == "count_over_time":
            return n.cast("double")
        if fn == "last_over_time":
            return last_val
        if fn == "present_over_time":
            return F.lit(1.0)
        if fn == "stddev_over_time":
            return F.sqrt(F.col("v_varp"))
        if fn == "stdvar_over_time":
            return F.col("v_varp")
        if fn == "quantile_over_time":
            return F.col("v_quant")
        if fn in ("double_exponential_smoothing", "holt_winters"):
            sf_, tf_ = extra  # smoothing factor, trend factor
            # Prometheus double-exponential smoothing (functions.go
            # funcDoubleExponentialSmoothing): s0=v0, b=v1-v0, then for i>=1:
            # s1 = sf*v_i + (1-sf)*(s0+b); b = tf*(s1-s0) + (1-tf)*b.
            # Expressed as an array fold with a (s, b, idx, v0) accumulator.
            vals = F.transform(F.col("samples"), lambda s: s["value"])
            init = F.struct(
                F.lit(0.0).alias("s"), F.lit(0.0).alias("b"),
                F.lit(0).alias("idx"), F.lit(0.0).alias("v0"),
            )

            def step(acc, v):
                first = acc["idx"] == 0
                second = acc["idx"] == 1
                b_in = F.when(second, v - acc["v0"]).otherwise(acc["b"])
                s1 = F.lit(sf_) * v + (1 - F.lit(sf_)) * (acc["s"] + b_in)
                b_new = F.lit(tf_) * (s1 - acc["s"]) + (1 - F.lit(tf_)) * b_in
                return F.struct(
                    F.when(first, v).otherwise(s1).alias("s"),
                    F.when(first, F.lit(0.0)).otherwise(b_new).alias("b"),
                    (acc["idx"] + 1).alias("idx"),
                    F.when(first, v).otherwise(acc["v0"]).alias("v0"),
                )

            folded = F.aggregate(vals, init, step)
            return F.when(n >= 2, folded["s"])
        if fn in ("deriv", "predict_linear"):
            sx, sy, sxy, sxx = F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
            denom = n * sxx - sx * sx
            slope = (n * sxy - sx * sy) / denom
            if fn == "deriv":
                return F.when((n >= 2) & (denom != 0), slope)
            intercept = (sy - slope * sx) / n
            return F.when((n >= 2) & (denom != 0), intercept + slope * F.lit(float(extra)))
        raise ValueError(f"unhandled range fn {fn}")

    # -- native-histogram paths ------------------------------------------------

    _HIST_RANGE_FNS = {
        "rate", "increase", "delta", "sum_over_time", "avg_over_time",
        "last_over_time", "count_over_time", "present_over_time",
    }

    def _range_fn_hist(self, fn: str, base: DataFrame, tags: list[str],
                       rng: int, ctx: _Ctx) -> VectorResult:
        """Range functions over native-histogram series.

        Histogram folding (sparse-bucket add/sub + reset detection,
        reference src/promql/src/functions/extrapolate_rate.rs native paths +
        native_histogram.rs:262-556) is per-window imperative work, so this is
        the documented Pandas-UDF escape hatch: the explode/group shape is
        identical to the scalar path (bounded fan-out rng/step, one shuffle),
        only the per-group fold runs in Arrow-batched Python.  count/present
        reduce to plain codegen'd aggregates and never leave the JVM."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        if fn in ("count_over_time", "present_over_time"):
            ex = self._explode_steps(base, rng, ctx)
            val = (F.count(F.lit(1)).cast("double") if fn == "count_over_time"
                   else F.lit(1.0))
            out = ex.groupBy("__t", *tags).agg(val.alias("value"))
            return VectorResult(out, tags)
        if fn not in self._HIST_RANGE_FNS:
            # reference drops native-histogram inputs for non-applicable
            # range functions (planner.rs native_histogram_drop_udf)
            empty = self.spark.createDataFrame(
                [],
                StructType([StructField("__t", LongType())]
                           + [StructField(t, StringType()) for t in tags]
                           + [StructField("value", nh.NATIVE_HISTOGRAM_SCHEMA)]),
            )
            return VectorResult(empty, tags)

        ex = self._explode_steps(base, rng, ctx)
        out_schema = StructType(
            [StructField("__t", LongType())]
            + [StructField(t, StringType()) for t in tags]
            + [StructField("value", nh.NATIVE_HISTOGRAM_SCHEMA)]
        )
        rng_ms = rng
        tag_names = list(tags)

        def fold(pdf):
            import pandas as pd

            NativeHistogram = nh.NativeHistogram
            pdf = pdf.sort_values("__x")
            hs = [(int(x), NativeHistogram.from_struct(v))
                  for x, v in zip(pdf["__x"], pdf["value"])]
            hs = [(x, h) for x, h in hs if h is not None]
            head = {"__t": pdf["__t"].iloc[0],
                    **{t: pdf[t].iloc[0] for t in tag_names}}
            empty = pd.DataFrame(columns=["__t", *tag_names, "value"])

            def emit(h):
                if h is None:
                    return empty
                return pd.DataFrame([{**head, "value": h.to_struct()}])

            if fn == "last_over_time":
                return emit(hs[-1][1]) if hs else empty
            if fn in ("sum_over_time", "avg_over_time"):
                acc = None
                for _, h in hs:
                    acc = h if acc is None else (acc.add(h) if acc else None)
                    if acc is None:
                        return empty
                if fn == "avg_over_time" and acc is not None:
                    acc = acc.scale(1.0 / len(hs))
                return emit(acc)
            # rate / increase / delta (extrapolate_rate.rs:244-281; histogram
            # variant has no zero-crossing cap — counts are non-negative)
            if len(hs) < 2:
                return empty
            first_x, first_h = hs[0]
            last_x, last_h = hs[-1]
            result = last_h.sub(first_h)
            if result is None:
                return empty
            if fn in ("rate", "increase"):
                corr = None
                prev = first_h
                for _, h in hs[1:]:
                    if h.detect_reset(prev):
                        corr = prev if corr is None else corr.add(prev)
                        if corr is None:
                            return empty
                    prev = h
                if corr is not None:
                    result = result.add(corr)
                    if result is None:
                        return empty
            t = int(pdf["__t"].iloc[0])
            range_start, range_end = t - rng_ms, t
            sampled = float(last_x - first_x)
            if sampled <= 0:
                return empty
            avg_int = sampled / (len(hs) - 1)
            dur_start = float(first_x - range_start)
            dur_end = float(range_end - last_x)
            thresh = avg_int * 1.1
            ext = (sampled
                   + (dur_start if dur_start < thresh else avg_int / 2)
                   + (dur_end if dur_end < thresh else avg_int / 2))
            factor = ext / sampled
            if fn == "rate":
                factor = factor / (rng_ms / 1000.0)
            out_h = result.scale(factor)
            out_h.reset_hint = nh.HINT_GAUGE
            return emit(out_h)

        out = ex.groupBy("__t", *tags).applyInPandas(fold, schema=out_schema)
        return VectorResult(out, tags)

    def _aggregate_hist(self, op: str, inner: VectorResult, keep: list[str],
                        ctx: _Ctx) -> VectorResult:
        """sum/avg/count across native-histogram series (planner.rs wires the
        same aggregate surface; add = native_histogram.rs:307)."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        if op == "count":
            out = inner.df.filter(F.col("value").isNotNull()).groupBy(
                "__t", *keep
            ).agg(F.count(F.lit(1)).cast("double").alias("value"))
            return VectorResult(out, keep)
        if op not in ("sum", "avg"):
            raise ValueError(f"aggregation {op} not supported over native histograms")
        out_schema = StructType(
            [StructField("__t", LongType())]
            + [StructField(t, StringType()) for t in keep]
            + [StructField("value", nh.NATIVE_HISTOGRAM_SCHEMA)]
        )
        keep_names = list(keep)
        is_avg = op == "avg"

        def fold(pdf):
            import pandas as pd

            hs = [nh.NativeHistogram.from_struct(v) for v in pdf["value"]]
            hs = [h for h in hs if h is not None]
            empty = pd.DataFrame(columns=["__t", *keep_names, "value"])
            if not hs:
                return empty
            acc = hs[0]
            for h in hs[1:]:
                acc = acc.add(h)
                if acc is None:
                    return empty
            if is_avg:
                acc = acc.scale(1.0 / len(hs))
            head = {"__t": pdf["__t"].iloc[0],
                    **{t: pdf[t].iloc[0] for t in keep_names}}
            return pd.DataFrame([{**head, "value": acc.to_struct()}])

        out = inner.df.filter(F.col("value").isNotNull()).groupBy(
            "__t", *keep
        ).applyInPandas(fold, schema=out_schema)
        return VectorResult(out, keep)

    # -- aggregation operators ----------------------------------------------------

    def _aggregate(self, node: Aggregate, ctx: _Ctx) -> VectorResult:
        if self._n_slots > 1:
            # multi-field inputs: the reference rejects these operators
            # (promql/topk_bottomk.result:172, promql/group_by.result)
            if node.op in ("topk", "bottomk"):
                raise ValueError("Unsupported expr type: topk or bottomk "
                                 "on multi-value input")
            if node.op == "group":
                raise ValueError(
                    "Multi fields calculation is not supported in group()")
        inner = self._eval(node.expr, ctx)
        if not isinstance(inner, VectorResult):
            raise ValueError("aggregate over non-vector")
        if node.by is not None:
            keep = [l for l in inner.labels if l in node.by]
        elif node.without is not None:
            keep = [l for l in inner.labels if l not in node.without]
        else:
            keep = []
        op = node.op
        if nh.is_native_histogram_type(inner.df.schema["value"].dataType):
            return self._aggregate_hist(op, inner, keep, ctx)
        if op in ("topk", "bottomk"):
            k = int(self._eval(node.param, ctx))
            # ties broken by tag columns in the SAME direction as the value
            # sort (reference planner.rs create_window_exprs: value then tags,
            # all desc for topk / asc for bottomk, nulls first)
            asc = op == "bottomk"
            mk = (lambda c: F.asc_nulls_first(c)) if asc else (lambda c: F.desc_nulls_first(c))
            w = Window.partitionBy("__t", *keep).orderBy(
                mk("value"), *[mk(l) for l in inner.labels]
            )
            out = (
                inner.df.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= k)
                .drop("__rk")
            )
            return VectorResult(out, inner.labels)  # topk keeps original labels
        if op == "count_values":
            label = str(self._eval(node.param, ctx))
            out = (
                inner.df.withColumn(label, F.col("value").cast("string"))
                .groupBy("__t", *keep, label)
                .agg(F.count(F.lit(1)).cast("double").alias("value"))
            )
            return VectorResult(out, keep + [label])
        agg = {
            # count counts non-NULL values but keeps NULL-only groups as 0
            # (reference promql/scalar.result presence_metric goldens); other
            # aggregates drop NULL samples entirely (NULL-only groups vanish)
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count(F.col("value")).cast("double"),
            "stddev": F.expr("stddev_pop(value)"),
            "stdvar": F.expr("var_pop(value)"),
            "group": F.lit(1.0),
            "quantile": F.percentile("value", float(self._eval(node.param, ctx)))
            if node.param is not None else None,
        }.get(op)
        if agg is None:
            raise ValueError(f"unsupported aggregation {op}")
        src = inner.df if op == "count" else inner.df.filter(F.col("value").isNotNull())
        out = src.groupBy("__t", *keep).agg(agg.alias("value"))
        return VectorResult(out, keep)

    # -- function calls ---------------------------------------------------------

    _MATH_FNS = {
        "abs": F.abs, "ceil": F.ceil, "floor": F.floor, "exp": F.exp,
        "ln": F.log, "log2": F.log2, "log10": F.log10, "sqrt": F.sqrt,
        "sgn": F.signum,
        # Prometheus trig family (promql/math.sql): rad/deg convert, the
        # rest map 1:1 onto Spark's double math
        "rad": F.radians, "deg": F.degrees,
        "sin": F.sin, "cos": F.cos, "tan": F.tan,
        "asin": F.asin, "acos": F.acos, "atan": F.atan,
        "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
        "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
    }

    _TIME_COMPONENT_FNS = {
        "minute": F.minute,
        "hour": F.hour,
        "day_of_week": lambda ts: F.dayofweek(ts) - 1,  # Prometheus 0=Sunday
        "day_of_month": F.dayofmonth,
        "day_of_year": F.dayofyear,
        "days_in_month": lambda ts: F.dayofmonth(F.last_day(ts)),
        "month": F.month,
        "year": F.year,
    }

    def _resolve_at(self, at, ctx: _Ctx) -> int:
        if at == "start":
            return ctx.start
        if at == "end":
            return ctx.end
        return int(at)

    def _broadcast_at(self, node, holder, ctx: _Ctx, eval_fn):
        """`@`-modifier evaluation: run the expression once at the pinned
        timestamp, then broadcast that value to every grid step (Prometheus
        @ semantics — the step grid no longer affects the selector)."""
        at = self._resolve_at(holder.at_ms, ctx)
        saved, holder.at_ms = holder.at_ms, None
        try:
            res = eval_fn(node, _Ctx(at, at, max(ctx.step, 1), ctx.lookback))
        finally:
            holder.at_ms = saved
        df = self._grid(ctx).crossJoin(res.df.drop("__t"))
        return VectorResult(
            df.select("__t", *res.labels, "value"), res.labels, res.is_scalar)

    def _call(self, node: Call, ctx: _Ctx):
        fn = node.func
        at_holder = next(
            (a for a in node.args
             if isinstance(a, (VectorSelector, Subquery)) and a.at_ms is not None),
            None,
        )
        if at_holder is not None:
            return self._broadcast_at(node, at_holder, ctx, self._call)
        if fn in self._RANGE_FNS:
            if fn == "quantile_over_time":
                q = self._eval(node.args[0], ctx)
                return self._range_fn(fn, node.args[1], ctx, extra=q)
            if fn == "predict_linear":
                d = self._eval(node.args[1], ctx)
                return self._range_fn(fn, node.args[0], ctx, extra=d)
            if fn in ("double_exponential_smoothing", "holt_winters"):
                sf_ = self._eval(node.args[1], ctx)
                tf_ = self._eval(node.args[2], ctx)
                return self._range_fn(fn, node.args[0], ctx, extra=(float(sf_), float(tf_)))
            return self._range_fn(fn, node.args[0], ctx)
        if fn in self._MATH_FNS:
            v = self._eval(node.args[0], ctx)
            if isinstance(v, float) or v.is_scalar:
                # the reference planner types these vector-only
                # (promql/math.result: "expected type vector in call to
                # function 'rad', got scalar")
                raise ValueError(
                    f"expected type vector in call to function '{fn}', "
                    "got scalar")
            out = v.df.withColumn(
                "value", self._MATH_FNS[fn](F.col("value")).cast("double")
            )
            return VectorResult(out, v.labels, v.is_scalar)
        if fn == "round":
            v = self._eval(node.args[0], ctx)
            to = self._eval(node.args[1], ctx) if len(node.args) > 1 else 1.0
            out = v.df.withColumn("value", F.round(F.col("value") / to) * to)
            return VectorResult(out, v.labels)
        if fn in ("clamp", "clamp_min", "clamp_max"):
            v = self._eval(node.args[0], ctx)
            c = F.col("value")
            if fn == "clamp":
                lo, hi = self._eval(node.args[1], ctx), self._eval(node.args[2], ctx)
                if isinstance(lo, (int, float)) and isinstance(hi, (int, float)) \
                        and lo > hi:
                    # promql/scalar.sql: clamp with min > max is an error
                    raise ValueError(f"min '{lo}' > max '{hi}'")
                c = F.least(F.greatest(c, F.lit(lo)), F.lit(hi))
            elif fn == "clamp_min":
                c = F.greatest(c, F.lit(self._eval(node.args[1], ctx)))
            else:
                c = F.least(c, F.lit(self._eval(node.args[1], ctx)))
            return VectorResult(v.df.withColumn("value", c), v.labels)
        if fn == "time":
            return VectorResult(
                self._grid(ctx).withColumn("value", F.col("__t") / 1000.0), [],
                is_scalar=True,
            )
        if fn == "pi":
            return VectorResult(
                self._grid(ctx).withColumn("value", F.lit(math.pi)), [],
                is_scalar=True, inline_scalar=True,
            )
        if fn in self._TIME_COMPONENT_FNS:
            # Prometheus time-component family: arg defaults to vector(time());
            # input values are epoch seconds, output the UTC component
            if node.args:
                v = self._eval(node.args[0], ctx)
                if isinstance(v, float):
                    v = self._scalar_to_vector(v, ctx)
            else:
                v = VectorResult(
                    self._grid(ctx).withColumn("value", F.col("__t") / 1000.0), []
                )
            ts = F.timestamp_seconds(F.col("value"))
            comp = self._TIME_COMPONENT_FNS[fn](ts).cast("double")
            return VectorResult(v.df.withColumn("value", comp), v.labels, v.is_scalar)
        if fn == "timestamp":
            sel = node.args[0]
            if isinstance(sel, VectorSelector) and sel.range_ms is None:
                # value := the selected sample's own timestamp (seconds)
                base, tags = self._metric_base(sel, ctx, ctx.lookback)
                ex = self._explode_steps(base, ctx.lookback, ctx)
                out = ex.groupBy("__t", *tags).agg((F.max("__x") / 1000.0).alias("value"))
                return VectorResult(out, tags)
            v = self._eval(sel, ctx)
            return VectorResult(
                v.df.withColumn("value", F.col("__t") / 1000.0), v.labels, v.is_scalar
            )
        if fn == "vector":
            s = self._eval(node.args[0], ctx)
            if isinstance(s, VectorResult):  # vector(scalar(...)) etc.
                return VectorResult(s.df, [], is_scalar=False)
            return self._scalar_to_vector(float(s), ctx)
        if fn == "scalar":
            # reference ScalarCalculate (scalar_calculate.rs poll_next): a
            # single-series input passes through row-for-row (missing steps
            # stay missing); zero rows or >1 series → full NaN grid
            v = self._eval(node.args[0], ctx)
            if isinstance(v, (int, float)) or v.is_scalar:
                # promql/scalar.sql: scalar() of something already scalar
                # (literal arithmetic, nested scalar()) is a type error
                raise ValueError(
                    "invalid parameter of function scalar, expected vector")
            if v.labels:
                ns = F.count_distinct(F.struct(*[F.col(l) for l in v.labels]))
            else:
                ns = F.when(F.count(F.lit(1)) > 0, 1).otherwise(0)
            summary = v.df.agg(
                ns.alias("__ns"), F.count(F.lit(1)).alias("__nr")
            )
            single = v.df.crossJoin(
                summary.filter((F.col("__nr") > 0) & (F.col("__ns") <= 1)).select("__ns")
            ).select("__t", F.col("value").cast("double").alias("value"))
            nan_grid = self._grid(ctx).crossJoin(
                summary.filter((F.col("__nr") == 0) | (F.col("__ns") > 1)).select("__nr")
            ).select("__t", F.lit(float("nan")).alias("value"))
            return VectorResult(single.unionByName(nan_grid), [], is_scalar=True)
        if fn in ("absent", "absent_over_time"):
            sel = node.args[0]
            if fn == "absent_over_time":
                base, tags, rng = self._range_samples(sel, ctx)
                present = self._explode_steps(base, rng, ctx).select("__t").distinct()
            else:
                v = self._eval(sel, ctx)
                present = v.df.select("__t").distinct()
            out = self._grid(ctx).join(present, "__t", "left_anti").withColumn(
                "value", F.lit(1.0)
            )
            # labels derived from the selector's equality matchers
            # (Prometheus absent(): {a="b"} matchers become output labels)
            labels = []
            if isinstance(sel, VectorSelector):
                eq = {}
                for m2 in sel.matchers:
                    if m2.op == "=" and not m2.name.startswith("__"):
                        eq[m2.name] = m2.value  # last one wins
                for k2, val2 in eq.items():
                    out = out.withColumn(k2, F.lit(val2))
                    labels.append(k2)
            return VectorResult(out, labels)
        if fn == "label_replace":
            # reference planner.rs build_regexp_replace_label_expr semantics
            v = self._eval(node.args[0], ctx)
            dst, repl, src, regex = [self._eval(a, ctx) for a in node.args[1:5]]
            import re as _re

            if not _re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst) or dst.startswith("__"):
                raise ValueError(f"invalid destination label name {dst!r}")
            try:
                _re.compile(regex)
            except _re.error:
                # promql/label.sql: malformed regex is rejected up front
                raise ValueError(
                    f"Invalid regular expression in label_replace(): {regex}"
                ) from None
            if src in v.labels and regex == "":
                return v  # existing src + empty regex → unchanged
            if src not in v.labels:
                if repl == "":
                    return v  # missing src + empty replacement → unchanged
                labels = v.labels + ([dst] if dst not in v.labels else [])
                return VectorResult(v.df.withColumn(dst, F.lit(repl)), labels)
            anchored = f"^(?s:{regex})$"
            new = F.regexp_replace(F.coalesce(F.col(src), F.lit("")), anchored, repl)
            labels = v.labels + ([dst] if dst not in v.labels else [])
            out = v.df.withColumn(dst, new)
            if dst in v.labels:
                # overwriting an existing identity label can collapse two
                # series onto one labelset — promql rejects that output
                # (label.sql "vector cannot contain metrics with the same
                # labelset"). Only possible when dst pre-exists. The check
                # is LAZY: a window count over the new labelset guards the
                # value column with raise_error, so it rides the query's own
                # execution (and its pruning/pushdown) instead of launching
                # an eager probe job at expression-build time — at scale an
                # eager probe would scan the full vector even when the
                # result is never materialized.
                #
                # DOCUMENTED DIVERGENCE from the reference: because the
                # guard rides the `value` column, Catalyst can legally
                # elide it — column pruning when a consumer never reads
                # value, or a label predicate pushed below the window that
                # removes one of the duplicates — while the reference
                # raises unconditionally at eval time. Every path inside
                # this engine reads `value`, so the guard holds for engine
                # consumers; for bit-for-bit reference conformance set
                # `spark.greptimedb.promql.eagerLabelsetCheck=true`, which
                # runs the probe eagerly here (one extra scan).
                from pyspark.sql.window import Window

                w = Window.partitionBy("__t", *labels)
                dup = F.count(F.lit(1)).over(w) > 1
                err = "vector cannot contain metrics with the same labelset"
                eager = "true" == v.df.sparkSession.conf.get(
                    "spark.greptimedb.promql.eagerLabelsetCheck", "false")
                if eager and not out.withColumn("__dup", dup) \
                        .where("__dup").isEmpty():
                    raise ValueError(err)
                out = out.withColumn(
                    "value",
                    F.when(dup, F.raise_error(F.lit(err)))
                    .otherwise(F.col("value")),
                )
            return VectorResult(out, labels)
        if fn == "label_join":
            v = self._eval(node.args[0], ctx)
            dst = self._eval(node.args[1], ctx)
            sep = self._eval(node.args[2], ctx)
            srcs = [self._eval(a, ctx) for a in node.args[3:]]
            if not srcs:
                raise ValueError("label_join needs at least one source label")
            new = F.concat_ws(
                sep,
                *[
                    F.coalesce(F.col(s), F.lit("")) if s in v.labels else F.lit("")
                    for s in srcs
                ],
            )
            labels = v.labels + ([dst] if dst not in v.labels else [])
            return VectorResult(v.df.withColumn(dst, new), labels)
        if fn in ("sort", "sort_desc", "sort_by_label", "sort_by_label_desc"):
            return self._eval(node.args[0], ctx)  # ordering applied at output
        if fn == "histogram_quantile":
            q = self._eval(node.args[0], ctx)
            v = self._eval(node.args[1], ctx)
            if nh.is_native_histogram_type(v.df.schema["value"].dataType):
                # native path (planner.rs:4042): per-row sparse-bucket
                # interpolation, no le-fold needed
                out = v.df.withColumn(
                    "value", nh.histogram_quantile_native(F.col("value"), float(q))
                )
                return VectorResult(out, v.labels)
            return self._histogram_quantile(float(q), v)
        if fn in ("histogram_count", "histogram_sum", "histogram_avg",
                  "histogram_stddev", "histogram_stdvar"):
            v = self._eval(node.args[0], ctx)
            if not nh.is_native_histogram_type(v.df.schema["value"].dataType):
                # classic float samples are not native histograms → empty
                # (planner.rs:3057 wires these only for histogram columns)
                empty = v.df.filter(F.lit(False)).withColumn(
                    "value", F.lit(None).cast("double"))
                return VectorResult(empty.select("__t", *v.labels, "value"), v.labels)
            udf = {
                "histogram_count": nh.histogram_count,
                "histogram_sum": nh.histogram_sum,
                "histogram_avg": nh.histogram_avg,
                "histogram_stddev": nh.histogram_stddev,
                "histogram_stdvar": nh.histogram_stdvar,
            }[fn]
            out = v.df.withColumn("value", udf(F.col("value")))
            return VectorResult(out, v.labels)
        if fn == "histogram_fraction":
            lower = float(self._eval(node.args[0], ctx))
            upper = float(self._eval(node.args[1], ctx))
            v = self._eval(node.args[2], ctx)
            if not nh.is_native_histogram_type(v.df.schema["value"].dataType):
                empty = v.df.filter(F.lit(False)).withColumn(
                    "value", F.lit(None).cast("double"))
                return VectorResult(empty.select("__t", *v.labels, "value"), v.labels)
            out = v.df.withColumn(
                "value", nh.histogram_fraction_native(F.col("value"), lower, upper)
            )
            return VectorResult(out, v.labels)
        raise ValueError(f"unsupported function {fn}")

    def _histogram_quantile(self, q: float, v: VectorResult) -> VectorResult:
        """Classic le-bucket quantile (reference HistogramFold,
        src/promql/src/extension_plan/histogram_fold.rs:73): group buckets by
        (step, labels-minus-le), sort by le, linear-interpolate inside the
        target bucket."""
        if "le" not in v.labels:
            # series without an le label are ignored → empty result
            empty = self.spark.createDataFrame(
                [], "__t long, " + ", ".join(f"`{l}` string" for l in v.labels) + ", value double"
                if v.labels else "__t long, value double",
            )
            return VectorResult(empty, list(v.labels))
        keep = [l for l in v.labels if l != "le"]
        le_num = F.when(F.lower("le").isin("inf", "+inf"), F.lit(float("inf"))).otherwise(
            F.col("le").cast("double")
        )
        g = (
            v.df.withColumn("__le", le_num)
            .groupBy("__t", *keep)
            .agg(F.sort_array(F.collect_list(F.struct("__le", "value"))).alias("b"))
        )
        if math.isnan(q) or q < 0 or q > 1:
            # Prometheus: φ outside [0,1] → ±Inf, NaN → NaN (per series)
            lit_val = float("nan") if math.isnan(q) else (
                float("-inf") if q < 0 else float("inf")
            )
            out = g.withColumn("value", F.lit(lit_val)).select("__t", *keep, "value")
            return VectorResult(out, keep)
        # Prometheus ensureMonotonic: buckets selected at mixed timestamps can
        # be non-cumulative; clamp counts to a running max over ascending le
        mono = F.aggregate(
            F.col("b"),
            F.expr("CAST(array() AS ARRAY<STRUCT<__le: DOUBLE, value: DOUBLE>>)"),
            lambda acc, s: F.concat(
                acc,
                F.array(
                    F.struct(
                        s["__le"].alias("__le"),
                        F.greatest(
                            s["value"],
                            F.coalesce(
                                F.try_element_at(acc, F.lit(-1))["value"],
                                F.lit(float("-inf")),
                            ),
                        ).alias("value"),
                    )
                ),
            ),
        )
        g = g.withColumn("b", mono)
        b = F.col("b")
        total = F.try_element_at(b, F.lit(-1))["value"]
        rank = F.lit(q) * total
        # first bucket with cumulative count >= rank
        hit = F.filter(b, lambda s: s["value"] >= rank)
        bucket = F.try_element_at(hit, F.lit(1))
        below = F.filter(b, lambda s: s["value"] < rank)
        prev = F.try_element_at(below, F.lit(-1))
        lower = F.when(F.size(below) > 0, prev["__le"]).otherwise(
            F.when(bucket["__le"] > 0, F.lit(0.0)).otherwise(bucket["__le"])
        )
        lower_count = F.when(F.size(below) > 0, prev["value"]).otherwise(F.lit(0.0))
        interp = lower + (bucket["__le"] - lower) * (rank - lower_count) / (
            bucket["value"] - lower_count
        )
        val = (
            F.when(total <= 0, F.lit(float("nan")))
            .when(F.isnull(bucket["__le"]), F.lit(float("nan")))
            .when(F.col("__inf_le").isNull(), F.lit(float("nan")))
            .when(bucket["__le"] == float("inf"), F.col("__max_finite_le"))
            .otherwise(interp)
        )
        out = (
            g.withColumn(
                "__inf_le",
                F.try_element_at(F.filter(b, lambda s: s["__le"] == float("inf")), F.lit(1))["__le"],
            )
            .withColumn(
                "__max_finite_le",
                F.try_element_at(F.filter(b, lambda s: s["__le"] != float("inf")), F.lit(-1))["__le"],
            )
            .withColumn("value", val)
            .select("__t", *keep, "value")
        )
        return VectorResult(out, keep)

    # -- binary operators -----------------------------------------------------------

    _CMP = {"==": "==", "!=": "!=", ">": ">", "<": "<", ">=": ">=", "<=": "<="}

    def _binary(self, node: BinaryOp, ctx: _Ctx):
        lhs = self._eval(node.lhs, ctx)
        rhs = self._eval(node.rhs, ctx)
        op = node.op

        if isinstance(lhs, float) and isinstance(rhs, float):
            return self._fold_scalar(op, lhs, rhs)

        if isinstance(lhs, float) or isinstance(rhs, float):
            v, s, flipped = (rhs, lhs, True) if isinstance(lhs, float) else (lhs, rhs, False)
            c = F.col("value")
            sc = F.lit(s)
            a, b = (sc, c) if flipped else (c, sc)
            if op in self._CMP:
                if v.is_scalar and not node.bool_modifier:
                    # promql/time_fn.sql: scalar-vs-scalar comparison
                    raise ValueError(
                        "comparisons between scalars must use BOOL modifier")
                cond = self._cmp_col(op, a, b)
                if node.bool_modifier or v.is_scalar:
                    out = v.df.withColumn("value", cond.cast("double"))
                else:
                    out = v.df.filter(cond)
                return VectorResult(out, v.labels, v.is_scalar)
            out = v.df.withColumn("value", self._arith_col(op, a, b))
            return VectorResult(out, v.labels, v.is_scalar)

        if lhs.is_scalar and rhs.is_scalar:
            j = (
                lhs.df.select("__t", F.col("value").alias("__lv"))
                .join(rhs.df.select("__t", F.col("value").alias("__rv")), "__t", "inner")
            )
            a, b = F.col("__lv"), F.col("__rv")
            if op in self._CMP:
                if not node.bool_modifier:
                    raise ValueError(
                        "comparisons between scalars must use BOOL modifier")
                val = self._cmp_col(op, a, b).cast("double")
            else:
                val = self._arith_col(op, a, b)
            return VectorResult(
                j.select("__t", val.alias("value")), [], is_scalar=True
            )

        if lhs.is_scalar != rhs.is_scalar:
            # scalar()-valued operand: per-step value applied to every series
            # of the vector side; the vector side's labels are kept
            # (reference planner treats scalar() as a literal per timestamp)
            v, s, flipped = (
                (rhs, lhs, True) if lhs.is_scalar else (lhs, rhs, False)
            )
            sdf = s.df.select(F.col("__t").alias("__st"), F.col("value").alias("__sv"))
            j = v.df.join(sdf, F.col("__t") == F.col("__st"), "inner").drop("__st")
            a, b = (
                (F.col("__sv"), F.col("value")) if flipped else (F.col("value"), F.col("__sv"))
            )
            if op in self._CMP:
                cond = self._cmp_col(op, a, b)
                if node.bool_modifier:
                    out = j.withColumn("value", cond.cast("double"))
                else:
                    out = j.filter(cond)  # keeps the vector side's value
            else:
                out = j.withColumn("value", self._arith_col(op, a, b))
            if getattr(s, "inline_scalar", False):
                # pi()-style inlined scalar: the reference projects only
                # (ts, value), dropping the vector side's tags
                return VectorResult(out.select("__t", "value"), [])
            return VectorResult(out.select("__t", *v.labels, "value"), v.labels)

        return self._vector_binary(node, lhs, rhs)

    @staticmethod
    def _fold_scalar(op: str, a: float, b: float) -> float:
        if op == "^":
            return a ** b
        if op == "atan2":
            return math.atan2(a, b)
        if op == "%":
            return math.fmod(a, b)
        if op in ("+", "-", "*", "/"):
            try:
                return {"+": a + b, "-": a - b, "*": a * b, "/": a / b if b != 0 else math.inf * (1 if a > 0 else -1 if a < 0 else math.nan)}[op]
            except ZeroDivisionError:
                return math.nan
        return float({"==": a == b, "!=": a != b, ">": a > b, "<": a < b, ">=": a >= b, "<=": a <= b}[op])

    @staticmethod
    def _cmp_col(op: str, a: Column, b: Column) -> Column:
        return {
            "==": a == b, "!=": a != b, ">": a > b,
            "<": a < b, ">=": a >= b, "<=": a <= b,
        }[op]

    @staticmethod
    def _arith_col(op: str, a: Column, b: Column) -> Column:
        if op == "^":
            return F.pow(a, b)
        if op == "%":
            return a % b  # Java fmod == Go math.Mod (Prometheus semantics)
        if op == "atan2":
            return F.atan2(a, b)
        return {"+": a + b, "-": a - b, "*": a * b, "/": a / b}[op]

    def _vector_binary(self, node: BinaryOp, lhs: VectorResult, rhs: VectorResult):
        """Vector-vector binary op with Prometheus matching semantics.

        Default (no modifier) matching is on the UNION of both sides' label
        sets — series match only when every label agrees, treating an absent
        label as NULL and comparing null-safely (the reference's DataFusion
        hash join with null_equals_null; matches its
        promql/set_operation.result goldens for NULL-valued tags). The
        one-to-one output keeps the LHS label columns (reference planner
        projects lhs tags regardless of on/ignoring)."""
        op = node.op
        m = node.matching or VectorMatching()

        def _masked(labels):
            if m.on is not None:
                return [lab for lab in labels if lab in m.on]
            if m.ignoring:
                return [lab for lab in labels if lab not in m.ignoring]
            return list(labels)

        lkeys, rkeys = _masked(lhs.labels), _masked(rhs.labels)
        if m.on is not None:
            match_labels = list(dict.fromkeys(m.on))
        else:
            union = list(dict.fromkeys([*lhs.labels, *rhs.labels]))
            if m.ignoring:
                union = [lab for lab in union if lab not in m.ignoring]
            match_labels = union

        def side_col(alias, v, lab):
            if lab in v.labels:
                return F.col(f"{alias}.{lab}")
            return F.lit(None).cast("string")

        def _match_cond(alias_a, va, alias_b, vb):
            cond = F.col(f"{alias_a}.__t") == F.col(f"{alias_b}.__t")
            for lab in match_labels:
                cond = cond & side_col(alias_a, va, lab).eqNullSafe(
                    side_col(alias_b, vb, lab)
                )
            return cond

        self._join_n += 1
        la, ra = f"lbin{self._join_n}", f"rbin{self._join_n}"
        l = lhs.df.alias(la)
        r = rhs.df.alias(ra)
        cond = _match_cond(la, lhs, ra, rhs)

        if op in ("and", "unless"):
            how = "left_semi" if op == "and" else "left_anti"
            out = l.join(r, cond, how)
            return VectorResult(out, lhs.labels)
        if op == "or":
            # output label universe = union of both sides, null-filled
            # (Prometheus preserves each side's full label set)
            out_labels = list(dict.fromkeys([*lhs.labels, *rhs.labels]))
            lout = lhs.df.select(
                "__t",
                *[
                    (F.col(lab) if lab in lhs.labels else F.lit(None).cast("string")).alias(lab)
                    for lab in out_labels
                ],
                "value",
            )
            extra = r.join(l, _match_cond(ra, rhs, la, lhs), "left_anti")
            rout = extra.select(
                "__t",
                *[
                    (F.col(lab) if lab in rhs.labels else F.lit(None).cast("string")).alias(lab)
                    for lab in out_labels
                ],
                "value",
            )
            return VectorResult(lout.unionByName(rout), out_labels)

        # arithmetic / comparison joins
        # a completely label-less side (e.g. vector(1)) broadcasts per step
        # against every series of the other side, keeping the labeled side's
        # labels (reference issue #5392 pin in promql/set_operation.result)
        if m.on is None and not m.ignoring and (not lhs.labels) != (not rhs.labels) and op not in ("and", "unless", "or"):
            v, s, flipped = (
                (rhs, lhs, True) if not lhs.labels else (lhs, rhs, False)
            )
            sdf = s.df.select(F.col("__t").alias("__st"), F.col("value").alias("__sv"))
            j = v.df.join(sdf, F.col("__t") == F.col("__st"), "inner").drop("__st")
            a, b = (
                (F.col("__sv"), F.col("value")) if flipped else (F.col("value"), F.col("__sv"))
            )
            if op in self._CMP:
                cond2 = self._cmp_col(op, a, b)
                if node.bool_modifier:
                    out = j.withColumn("value", cond2.cast("double"))
                else:
                    out = j.filter(cond2).withColumn("value", a)
            else:
                out = j.withColumn("value", self._arith_col(op, a, b))
            return VectorResult(out.select("__t", *v.labels, "value"), v.labels)

        group_left = m.group_left is not None
        group_right = m.group_right is not None
        if group_left or group_right:
            many, one, ma, oa = (
                (lhs, rhs, la, ra) if group_left else (rhs, lhs, ra, la)
            )
            extra = (m.group_left or m.group_right or [])
            one_cols = [c for c in extra if c in one.labels]
            j = l.join(r, cond, "inner")
            a, b = F.col(f"{la}.value"), F.col(f"{ra}.value")
            labels = many.labels + [c for c in one_cols if c not in many.labels]
            # include-labels are copied from the ONE side, OVERWRITING the
            # many side's value when the label exists on both (prometheus
            # vector-matching: "the listed labels are copied from the one
            # side"; reference planner group_left/right include handling) —
            # symmetric for group_left and group_right
            sel_cols = [F.col(f"{ma}.__t").alias("__t")] + [
                (F.col(f"{oa}.{lab}") if lab in one_cols
                 else F.col(f"{ma}.{lab}")).alias(lab)
                for lab in many.labels
            ] + [F.col(f"{oa}.{c}").alias(c) for c in one_cols if c not in many.labels]
        else:
            # one-to-one: each side's masked tag set is the join key; unequal
            # key sets → empty result (reference binary_join_key_columns
            # force_empty_join); the output projects the RHS tag columns
            # (reference join plan: left pruned to keys, rhs columns kept)
            labels = list(rhs.labels)
            if sorted(lkeys) != sorted(rkeys):
                empty = self.spark.createDataFrame(
                    [],
                    "__t long"
                    + "".join(f", `{lab}` string" for lab in labels)
                    + ", value double",
                )
                return VectorResult(empty, labels)
            keys = sorted(lkeys)
            cond = F.col(f"{la}.__t") == F.col(f"{ra}.__t")
            for lab in keys:
                cond = cond & F.col(f"{la}.{lab}").eqNullSafe(F.col(f"{ra}.{lab}"))
            j = l.join(r, cond, "inner")
            a, b = F.col(f"{la}.value"), F.col(f"{ra}.value")
            sel_cols = [F.col(f"{ra}.__t").alias("__t")] + [
                F.col(f"{ra}.{lab}").alias(lab) for lab in rhs.labels
            ]

        if op in self._CMP:
            cond2 = self._cmp_col(op, a, b)
            if node.bool_modifier:
                out = j.select(*sel_cols, cond2.cast("double").alias("value"))
            else:
                out = j.filter(cond2).select(*sel_cols, a.alias("value"))
        else:
            out = j.select(*sel_cols, self._arith_col(op, a, b).alias("value"))
        return VectorResult(out, labels)

    # -- misc -------------------------------------------------------------------

    def _grid(self, ctx: _Ctx) -> DataFrame:
        return self.spark.range(0, (ctx.end - ctx.start) // ctx.step + 1).select(
            (F.lit(ctx.start) + F.col("id") * ctx.step).alias("__t")
        )

    def _scalar_to_vector(self, s: float, ctx: _Ctx) -> VectorResult:
        return VectorResult(self._grid(ctx).withColumn("value", F.lit(s)), [])
