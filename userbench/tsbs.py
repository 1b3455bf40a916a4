"""TSBS ``cpu-only``-shaped inputs, generated from a seed.

Every input the benchmark sends is made here from ``numpy.random`` and
``random.Random`` seeded by the run's ``--seed``, so one seed always gives the
same rows, the same line-protocol payloads and the same op sequence.  Nothing
in this module touches Spark: generation stays outside the set-up clock.

Shape (TSBS ``cpu-only``): one ``cpu`` measurement, hosts tagged with
``hostname`` and ``region``, ten ``usage_*`` fields, one sample per host
every 10 s starting at TSBS's default 2016-01-01T00:00:00Z.  Where TSBS uses
a free random walk, the fields here follow a mean-reverting walk (AR(1)
around 50, clipped to [0, 100]): every host then spends about the same share
of time above any threshold, so result sizes, and the throughput figures
built on them, do not swing with the seed.  Values carry one decimal so that
a value written as line-protocol text reads back as the same double.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

FIELDS = (
    "usage_user", "usage_system", "usage_idle", "usage_nice", "usage_iowait",
    "usage_irq", "usage_softirq", "usage_steal", "usage_guest",
    "usage_guest_nice",
)
TAGS = ("hostname", "region")
KEYS = (*TAGS, "ts")
REGIONS = (
    "us-east-1", "us-west-1", "us-west-2", "eu-west-1", "eu-central-1",
    "ap-southeast-1", "ap-southeast-2", "ap-northeast-1", "sa-east-1",
)
EPOCH_MS = 1_451_606_400_000  # 2016-01-01T00:00:00Z, TSBS's default start
INTERVAL_MS = 10_000
# AR(1) field walk: stationary sd = WALK_SD / sqrt(1 - WALK_PHI**2) ~ 25
WALK_MEAN, WALK_PHI, WALK_SD = 50.0, 0.9, 10.9
TABLE = "cpu"
DDL = (
    f"CREATE TABLE {TABLE} (ts TIMESTAMP(3) TIME INDEX, "
    + ", ".join(f"{t} STRING" for t in TAGS) + ", "
    + ", ".join(f"{f} DOUBLE" for f in FIELDS)
    + f", PRIMARY KEY({', '.join(TAGS)}))"
)


@dataclass(frozen=True)
class Scale:
    """Input sizes.  ``FULL`` is what the benchmark measures; ``TOY`` keeps the
    self-test fast."""

    hosts: int
    hours: float  # dashboard table span
    load_batches: int  # Catalog.insert batches the dashboard table arrives in
    batch_lines: int  # lines per ingest batch
    resend_frac: float = 0.01  # share of rows re-sent with new values

    @property
    def steps(self) -> int:
        return int(self.hours * 3_600_000 // INTERVAL_MS)


FULL = Scale(hosts=50, hours=3, load_batches=3, batch_lines=10_000)
TOY = Scale(hosts=8, hours=1, load_batches=2, batch_lines=400)


def host_table(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``host_0 .. host_{n-1}``, each in a region drawn from the seed (TSBS
    draws region per host too)."""
    return pd.DataFrame({
        "hostname": [f"host_{i}" for i in range(n)],
        "region": [REGIONS[i] for i in rng.integers(0, len(REGIONS), n)],
    })


def cpu_rows(rng: np.random.Generator, hosts: pd.DataFrame, start_ms: int,
             steps: int) -> pd.DataFrame:
    """``steps`` samples per host from ``start_ms``, time-major (all hosts at
    t0, then t1, ...), as TSBS emits them."""
    n = len(hosts)
    ts = start_ms + np.repeat(np.arange(steps, dtype=np.int64), n) * INTERVAL_MS
    idx = np.tile(np.arange(n), steps)
    out = pd.DataFrame({
        "hostname": hosts["hostname"].to_numpy()[idx],
        "region": hosts["region"].to_numpy()[idx],
        "ts": pd.to_datetime(ts, unit="ms"),
    })
    for f in FIELDS:
        noise = rng.normal(0.0, WALK_SD, (steps, n))
        walk = np.empty((steps, n))
        x = rng.uniform(0.0, 100.0, n)
        for t in range(steps):
            x = WALK_MEAN + WALK_PHI * (x - WALK_MEAN) + noise[t]
            walk[t] = x
        out[f] = np.round(np.clip(walk, 0.0, 100.0), 1).reshape(-1)
    return out


def resend(rng: np.random.Generator, rows: pd.DataFrame,
           frac: float) -> pd.DataFrame:
    """A ``frac`` sample of ``rows`` (same keys) with fresh field values: the
    late corrections that make the last-row merge do real dedup."""
    k = max(1, int(round(len(rows) * frac)))
    pick = np.sort(rng.choice(len(rows), size=k, replace=False))
    out = rows.iloc[pick].reset_index(drop=True).copy()
    for f in FIELDS:
        out[f] = np.round(rng.uniform(0, 100, k), 1)
    return out


def last_write_wins(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """What a last-row-merge table holds after ``batches`` in order."""
    allrows = pd.concat(batches, ignore_index=True)
    return (allrows.drop_duplicates(list(KEYS), keep="last")
            .sort_values(list(KEYS)).reset_index(drop=True))


@dataclass
class DashboardData:
    hosts: pd.DataFrame
    batches: list[pd.DataFrame]  # in insert order; the last ones re-send
    merged: pd.DataFrame  # expected table content (last write wins)
    start_ms: int
    end_ms: int  # exclusive

    @property
    def rows_written(self) -> int:
        return sum(len(b) for b in self.batches)


def dashboard_data(seed: int, scale: Scale) -> DashboardData:
    """The table the dashboard reads: ``hosts x steps`` rows split into
    ``load_batches - 1`` time slices, then one batch re-sending
    ``resend_frac`` of all rows with new values."""
    rng = np.random.default_rng([seed, 1])
    hosts = host_table(rng, scale.hosts)
    rows = cpu_rows(rng, hosts, EPOCH_MS, scale.steps)
    cuts = np.array_split(np.arange(len(rows)), scale.load_batches - 1)
    batches = [rows.iloc[c].reset_index(drop=True) for c in cuts]
    batches.append(resend(rng, rows, scale.resend_frac))
    return DashboardData(hosts, batches, last_write_wins(batches), EPOCH_MS,
                         EPOCH_MS + scale.steps * INTERVAL_MS)


# field text for every value a field can take (0.0 .. 100.0, one decimal)
_TENTHS = np.array([f"{i / 10:.1f}" for i in range(1001)], dtype=object)


def influx_lines(rows: pd.DataFrame) -> str:
    """``rows`` as InfluxDB line protocol, one line per row (ns timestamps),
    built column-wise: a run makes up to ~150k lines."""
    parts = [np.full(len(rows), TABLE, dtype=object)]
    parts += [f",{t}=" + rows[t].to_numpy(dtype=object) for t in TAGS]
    for i, f in enumerate(FIELDS):
        tenths = np.rint(rows[f].to_numpy() * 10).astype(np.int64)
        parts.append(f"{' ' if i == 0 else ','}{f}=" + _TENTHS[tenths])
    ns = rows["ts"].astype("datetime64[ns]").astype(np.int64)
    parts.append(" " + ns.astype(str).to_numpy(dtype=object))
    return "\n".join(map("".join, zip(*parts)))


class IngestStream:
    """Endless 10k-line influx batches in TSBS order.  Each batch carries on
    in time from the previous one and re-sends ``resend_frac`` of the previous
    batch's lines with new values."""

    def __init__(self, seed: int, scale: Scale):
        self.rng = np.random.default_rng([seed, 2])
        self.hosts = host_table(self.rng, scale.hosts)
        self.scale = scale
        self.steps_per_batch = max(1, scale.batch_lines // scale.hosts)
        self.next_ms = EPOCH_MS
        self.prev: pd.DataFrame | None = None

    def next_batch(self) -> tuple[bytes, pd.DataFrame]:
        """(line-protocol payload, the rows it carries)."""
        rows = cpu_rows(self.rng, self.hosts, self.next_ms, self.steps_per_batch)
        self.next_ms += self.steps_per_batch * INTERVAL_MS
        if self.prev is not None:
            rows = pd.concat(
                [rows, resend(self.rng, self.prev, self.scale.resend_frac)],
                ignore_index=True)
        self.prev = rows
        return influx_lines(rows).encode(), rows
