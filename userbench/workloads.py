"""The benchmark's ops and their output checks.

``dashboard``: eight TSBS-style panels, each rendered through
``GreptimeSQL.sql_http`` as ``greptimedb_v1`` JSON.  Every op draws a fresh
time window and fresh hosts from the seed, as a dashboard whose range moves
would.  Plain-SQL panels are checked against a pandas computation over the
generated rows (last write wins for re-sent keys); the RANGE and TQL panels
are checked by grid arithmetic plus the values the grid implies.

``ingest``: one line-protocol payload per op through
``parse_influx_lines`` -> ``influx_pivot`` -> ``Catalog.insert``; the run ends
with an untimed read-back through a fresh ``GreptimeSQL`` on the same catalog.

Checks return an error string (``None`` when the output is right); the
caller counts an op with an error as failed.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from tsbs import FIELDS, INTERVAL_MS, KEYS, TABLE, TAGS

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
RANGE_MS = 5 * MINUTE_MS  # RANGE panel window and alignment
TQL_STEP_MS = MINUTE_MS
LASTPOINT_HOSTS = 8
HIGH_CPU = 90.0
# TSBS's 8 h and 12 h windows, scaled to a table of a few hours so that
# every op still draws a window of its own
LONG_WINDOW_MS = 2 * HOUR_MS


@dataclass
class Op:
    kind: str
    text: str
    expect: Callable[[pd.DataFrame], "Expected"]


@dataclass
class Expected:
    columns: tuple[str, ...] | None  # None: compare by position only
    rows: list[list]
    sort: bool = False  # engine gives no order: sort both sides first


def _ts(ms: int) -> str:
    return pd.Timestamp(ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S")


def _us(ts: pd.Series) -> list[int]:
    return (ts.astype("datetime64[us]").astype(np.int64)).tolist()


def _frame_rows(df: pd.DataFrame) -> list[list]:
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = _us(out[c])
    return out.astype(object).values.tolist()


class Panels:
    """The dashboard's op generator over a table spanning
    ``[start_ms, end_ms)``."""

    KINDS = (
        "single-groupby-1-1-1", "cpu-max-all-1", "double-groupby-1",
        "lastpoint", "high-cpu-1", "groupby-orderby-limit", "range", "tql",
    )

    def __init__(self, seed: int, hosts: pd.DataFrame, start_ms: int,
                 end_ms: int):
        self.rng = random.Random(seed)
        self.hosts = list(hosts["hostname"])
        self.start_ms, self.end_ms = start_ms, end_ms

    def _window(self, length_ms: int, align_ms: int = MINUTE_MS) -> tuple[int, int]:
        span = self.end_ms - self.start_ms
        length = min(length_ms, span)
        slots = (span - length) // align_ms
        lo = self.start_ms + self.rng.randint(0, slots) * align_ms
        return lo, lo + length

    def round(self) -> list[Op]:
        """One op per panel, in a fixed order, with fresh parameters."""
        return [getattr(self, "_" + k.replace("-", "_"))() for k in self.KINDS]

    # -- plain SQL panels, checked against pandas --------------------------

    def _single_groupby_1_1_1(self) -> Op:
        host = self.rng.choice(self.hosts)
        lo, hi = self._window(HOUR_MS)
        text = (f"SELECT date_trunc('minute', ts) AS minute, max(usage_user) "
                f"AS max_usage_user FROM {TABLE} WHERE hostname = '{host}' "
                f"AND ts >= '{_ts(lo)}' AND ts < '{_ts(hi)}' "
                f"GROUP BY minute ORDER BY minute")

        def expect(m: pd.DataFrame) -> Expected:
            w = _sel(m, lo, hi, hostname=host)
            g = (w.assign(minute=w["ts"].dt.floor("min"))
                 .groupby("minute", as_index=False)["usage_user"].max())
            return Expected(("minute", "max_usage_user"), _frame_rows(g))
        return Op("single-groupby-1-1-1", text, expect)

    def _cpu_max_all_1(self) -> Op:
        host = self.rng.choice(self.hosts)
        lo, hi = self._window(LONG_WINDOW_MS)
        text = (f"SELECT date_trunc('hour', ts) AS hour, "
                + ", ".join(f"max({f}) AS max_{f}" for f in FIELDS)
                + f" FROM {TABLE} WHERE hostname = '{host}' AND ts >= "
                f"'{_ts(lo)}' AND ts < '{_ts(hi)}' GROUP BY hour ORDER BY hour")

        def expect(m: pd.DataFrame) -> Expected:
            w = _sel(m, lo, hi, hostname=host)
            g = (w.assign(hour=w["ts"].dt.floor("h"))
                 .groupby("hour", as_index=False)[list(FIELDS)].max())
            return Expected(("hour", *(f"max_{f}" for f in FIELDS)),
                            _frame_rows(g))
        return Op("cpu-max-all-1", text, expect)

    def _double_groupby_1(self) -> Op:
        lo, hi = self._window(LONG_WINDOW_MS)
        text = (f"SELECT date_trunc('hour', ts) AS hour, hostname, "
                f"avg(usage_user) AS mean_usage_user FROM {TABLE} WHERE ts >= "
                f"'{_ts(lo)}' AND ts < '{_ts(hi)}' GROUP BY hour, hostname "
                f"ORDER BY hour, hostname")

        def expect(m: pd.DataFrame) -> Expected:
            w = _sel(m, lo, hi)
            g = (w.assign(hour=w["ts"].dt.floor("h"))
                 .groupby(["hour", "hostname"], as_index=False)["usage_user"]
                 .mean())
            return Expected(("hour", "hostname", "mean_usage_user"),
                            _frame_rows(g))
        return Op("double-groupby-1", text, expect)

    def _lastpoint(self) -> Op:
        hosts = sorted(self.rng.sample(self.hosts,
                                       min(LASTPOINT_HOSTS, len(self.hosts))))
        in_list = ", ".join(f"'{h}'" for h in hosts)
        text = (f"SELECT c.hostname, c.ts, c.usage_user FROM {TABLE} c JOIN "
                f"(SELECT hostname, max(ts) AS mts FROM {TABLE} WHERE hostname "
                f"IN ({in_list}) GROUP BY hostname) l ON c.hostname = "
                f"l.hostname AND c.ts = l.mts ORDER BY c.hostname")

        def expect(m: pd.DataFrame) -> Expected:
            w = m[m["hostname"].isin(hosts)]
            last = w.loc[w.groupby("hostname")["ts"].idxmax()]
            last = last.sort_values("hostname")[["hostname", "ts", "usage_user"]]
            return Expected(("hostname", "ts", "usage_user"), _frame_rows(last))
        return Op("lastpoint", text, expect)

    def _high_cpu_1(self) -> Op:
        host = self.rng.choice(self.hosts)
        lo, hi = self._window(LONG_WINDOW_MS)
        cols = ("ts", *TAGS, *FIELDS)
        text = (f"SELECT {', '.join(cols)} FROM {TABLE} WHERE usage_user > "
                f"{HIGH_CPU} AND hostname = '{host}' AND ts >= '{_ts(lo)}' "
                f"AND ts < '{_ts(hi)}' ORDER BY ts")

        def expect(m: pd.DataFrame) -> Expected:
            w = _sel(m, lo, hi, hostname=host)
            w = w[w["usage_user"] > HIGH_CPU].sort_values("ts")
            return Expected(cols, _frame_rows(w[list(cols)]))
        return Op("high-cpu-1", text, expect)

    def _groupby_orderby_limit(self) -> Op:
        _, hi = self._window(HOUR_MS)
        text = (f"SELECT date_trunc('minute', ts) AS minute, max(usage_user) "
                f"AS max_usage_user FROM {TABLE} WHERE ts < '{_ts(hi)}' "
                f"GROUP BY minute ORDER BY minute DESC LIMIT 5")

        def expect(m: pd.DataFrame) -> Expected:
            w = m[m["ts"] < pd.Timestamp(hi, unit="ms")]
            g = (w.assign(minute=w["ts"].dt.floor("min"))
                 .groupby("minute", as_index=False)["usage_user"].max()
                 .sort_values("minute", ascending=False).head(5))
            return Expected(("minute", "max_usage_user"), _frame_rows(g))
        return Op("groupby-orderby-limit", text, expect)

    # -- dialect panels, checked by grid arithmetic ------------------------

    def _range(self) -> Op:
        lo, hi = self._window(HOUR_MS, align_ms=RANGE_MS)
        text = (f"SELECT ts, region, avg(usage_user) RANGE '5m' FROM {TABLE} "
                f"WHERE ts >= '{_ts(lo)}' AND ts < '{_ts(hi)}' "
                f"ALIGN '5m' BY (region) ORDER BY region, ts")

        def expect(m: pd.DataFrame) -> Expected:
            # tumbling windows [t, t+5m) aligned to the epoch: one row per
            # (region, step) with data, holding that bucket's mean
            w = _sel(m, lo, hi)
            g = (w.assign(step=w["ts"].dt.floor(f"{RANGE_MS // MINUTE_MS}min"))
                 .groupby(["region", "step"], as_index=False)["usage_user"]
                 .mean())
            # the engine returns the right grid but not in ORDER BY order:
            # compared as a set of rows, like the TQL grid
            return Expected(None, _frame_rows(g[["step", "region", "usage_user"]]),
                            sort=True)
        return Op("range", text, expect)

    def _tql(self) -> Op:
        # keep the last step on a sample: end <= last sample time
        lo, hi = self._window(HOUR_MS)
        hi = min(hi, self.end_ms - INTERVAL_MS)
        hi -= (hi - lo) % TQL_STEP_MS
        text = (f"TQL EVAL ({lo // 1000}, {hi // 1000}, '60s') "
                f"avg by (region) ({TABLE}{{__field__=\"usage_user\"}})")

        def expect(m: pd.DataFrame) -> Expected:
            # steps sit on sample times (minute-aligned, 10 s data), so each
            # host's lookback sample at step t is its sample AT t: the grid
            # is regions x steps and each cell is the region's mean at t
            steps = pd.to_datetime(
                np.arange(lo, hi + 1, TQL_STEP_MS), unit="ms")
            w = m[m["ts"].isin(steps)]
            g = w.groupby(["ts", "region"], as_index=False)["usage_user"].mean()
            return Expected(None, _frame_rows(g), sort=True)
        return Op("tql", text, expect)


def _sel(m: pd.DataFrame, lo: int, hi: int, **eq) -> pd.DataFrame:
    w = m[(m["ts"] >= pd.Timestamp(lo, unit="ms"))
          & (m["ts"] < pd.Timestamp(hi, unit="ms"))]
    for k, v in eq.items():
        w = w[w[k] == v]
    return w


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isfinite(a) and math.isclose(a, b, rel_tol=1e-9,
                                                 abs_tol=1e-9)
    return a == b


def check_records(resp: dict, exp: Expected) -> str | None:
    """Compare one ``greptimedb_v1`` response with the expected rows.  An
    error envelope, a wrong schema, row count or any cell is a failure."""
    if "code" in resp or "output" not in resp:
        return f"error envelope: {str(resp)[:200]}"
    try:
        rec = resp["output"][0]["records"]
        names = [c["name"] for c in rec["schema"]["column_schemas"]]
        rows = rec["rows"]
    except (KeyError, IndexError, TypeError) as e:
        return f"malformed response: {e!r}"
    if rec.get("total_rows") != len(rows):
        return f"total_rows {rec.get('total_rows')} != {len(rows)} rows"
    if exp.columns is not None and tuple(names) != exp.columns:
        return f"columns {names} != {list(exp.columns)}"
    want = exp.rows
    if exp.sort:
        rows = sorted(rows, key=lambda r: [str(x) for x in r])
        want = sorted(want, key=lambda r: [str(x) for x in r])
    if len(rows) != len(want):
        return f"{len(rows)} rows, expected {len(want)}"
    for i, (got, w) in enumerate(zip(rows, want)):
        if len(got) != len(w) or not all(map(_close, got, w)):
            return f"row {i}: {got} != {w}"
    return None


def encode(resp: dict) -> bytes:
    """The bytes a client receives for one JSON response."""
    return json.dumps(resp, separators=(",", ":")).encode()


# -- ingest ------------------------------------------------------------------


def ingest(spark, catalog, payload: bytes) -> None:
    """One write: line protocol -> long rows -> wide rows -> table."""
    from pyspark.sql import functions as F

    from greptimedb_spark.sources import protocols

    lines = spark.createDataFrame(
        [(s,) for s in payload.decode().split("\n")], "line string")
    parsed = protocols.parse_influx_lines(lines)
    wide = protocols.influx_pivot(parsed, TABLE)
    rows = wide.select(
        F.col(protocols.TIME_INDEX).alias("ts"),
        *[F.col("tags")[t].alias(t) for t in TAGS],
        *[F.col(f).cast("double").alias(f) for f in FIELDS],
    )
    catalog.insert(TABLE, rows)


def check_table(got: pd.DataFrame, sent: list[pd.DataFrame]) -> list[int]:
    """Batches (0-based, in send order) whose rows the table does not hold
    as sent, last write winning; empty when the table is right.  A key the
    table lacks or holds with another value fails the batch that wrote it
    last; a key held twice, or a row nobody sent, fails every batch."""
    tagged = [b.assign(__batch=i) for i, b in enumerate(sent)]
    want = (pd.concat(tagged, ignore_index=True)
            .drop_duplicates(list(KEYS), keep="last"))
    got = got[[*KEYS, *FIELDS]].copy()
    got["ts"] = got["ts"].astype("datetime64[ns]")
    dup = got.duplicated(list(KEYS), keep=False)
    j = want.merge(got[~dup], on=list(KEYS), how="outer",
                   suffixes=("", "__got"), indicator=True)
    bad = j["_merge"] != "both"
    for f in FIELDS:
        bad |= ~np.isclose(j[f], j[f + "__got"], rtol=0, atol=1e-9)
    failed = set(j.loc[bad & (j["_merge"] != "right_only"), "__batch"]
                 .astype(int))
    if (bad & (j["_merge"] == "right_only")).any() or dup.any():
        failed = set(range(len(sent)))
    return sorted(failed)
