"""Time ``parse_influx_lines`` on batches of three line shapes, one side per
process, so two revisions can be compared run by run.

    python tools/influx_parse_bench.py [--src DIR] [--reps N] [--lines N]

``--src`` is the checkout whose ``greptimedb_spark`` is imported (default:
this one); run it once per revision, alternating, and compare the medians.

Shapes (10k lines each by default, ``createDataFrame`` of a Python list as
``userbench``'s ingest op builds them):

- ``tsbs``: the ``userbench`` ingest batch (TSBS cpu lines, all plain).
- ``quoted``: the same rows with an escaped space in every host tag and a
  quoted string field holding ``\\"``, so no line is plain.
- ``mixed``: the ``tsbs`` batch with every tenth line taken from ``quoted``
  and one malformed line in a hundred.

Each shape runs two jobs per repetition: ``pivot`` (``influx_pivot``, whose
eager ``localCheckpoint`` is the parse an ingest op waits for) and ``all``
(every long row, ``err`` rows included, to the ``noop`` sink: the shape of a
streaming sink that keeps rejected lines). ``--lines`` above 10k builds the
lines in the JVM (``format_string`` over ``range``) and runs only the
``tsbs`` shape, filtered as ``influx_pivot`` filters, to ``noop``. Prints
one JSON line: the median milliseconds per job, the plain-line share of
each shape, and every run.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "userbench"))


def _quoted(rows, tsbs) -> list[str]:
    from greptimedb_spark.sources.protocols import format_influx_line

    ns = rows["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
    out = []
    for i, r in enumerate(rows.itertuples(index=False)):
        tags = {"hostname": r.hostname.replace("_", " "), "region": r.region}
        fields = {f: float(getattr(r, f)) for f in tsbs.FIELDS}
        fields["note"] = f'run "{i % 7}"'
        out.append(format_influx_line(tsbs.TABLE, tags, fields, int(ns[i])))
    return out


def _shapes(n: int) -> dict[str, list[str]]:
    import tsbs

    payload, rows = tsbs.IngestStream(1, tsbs.FULL).next_batch()
    plain = payload.decode().split("\n")[:n]
    quoted = _quoted(rows.iloc[:n], tsbs)
    mixed = [quoted[i] if i % 10 == 3 else
             "cpu,hostname=h usage_user=1_0" if i % 100 == 7 else line
             for i, line in enumerate(plain)]
    return {"tsbs": plain, "quoted": quoted, "mixed": mixed}


def _plain_share(spark, proto, lines: list[str]) -> float:
    pattern = getattr(proto, "_PLAIN_LINE_RE", None)
    if pattern is None:
        return float("nan")
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for s in lines], "line string")
    return df.select(F.avg(F.btrim("line", F.lit(" \t\r\n")).rlike(pattern)
                           .cast("double"))).first()[0]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--src", default=ROOT)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--warmup", type=int, default=2)
    ap.add_argument("--lines", type=int, default=10_000)
    args = ap.parse_args()
    src = os.path.abspath(args.src)
    sys.path.insert(0, src)
    # as userbench pins them: one Spark core per usable CPU, a 1 GB driver
    # heap, and the revision under test on the Python workers' path
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g", "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            p for p in (src, os.environ.get("PYTHONPATH")) if p)})
    time.tzset()

    from pyspark.sql import functions as F

    from greptimedb_spark.session import get_spark
    from greptimedb_spark.sources import protocols as proto

    spark = get_spark("influx_parse_bench",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    runs: dict[str, list[float]] = {}
    share: dict[str, float] = {}

    def timed(name, job):
        for k in range(args.warmup + args.reps):
            t = time.perf_counter()
            job()
            ms = (time.perf_counter() - t) * 1000
            if k >= args.warmup:
                runs.setdefault(name, []).append(round(ms, 1))

    if args.lines > 10_000:
        lines = spark.range(args.lines).select(F.format_string(
            "cpu,hostname=host_%d,region=us-east-1 usage_user=%d.5,"
            "usage_system=%d.25,usage_idle=%di %d",
            F.col("id") % 4000, F.col("id") % 100, F.col("id") % 7,
            F.col("id") % 13, F.col("id") * 10**9 + 1451606400 * 10**9
        ).alias("line"))

        def big():
            (proto.parse_influx_lines(lines)
             .filter(F.col("err").isNull() & (F.col("table") == "cpu"))
             .write.format("noop").mode("overwrite").save())

        timed(f"tsbs{args.lines}.filtered", big)
    else:
        for shape, texts in _shapes(args.lines).items():
            share[shape] = _plain_share(spark, proto, texts)

            def frame():
                return spark.createDataFrame([(s,) for s in texts],
                                             "line string")

            timed(f"{shape}.pivot", lambda: proto.influx_pivot(
                proto.parse_influx_lines(frame()), "cpu"))
            timed(f"{shape}.all", lambda: proto.parse_influx_lines(
                frame()).write.format("noop").mode("overwrite").save())
    spark.stop()
    print(json.dumps({
        "src": src, "cpus": len(os.sched_getaffinity(0)),
        "median_ms": {k: statistics.median(v) for k, v in runs.items()},
        "plain_share": share, "runs": runs}))


if __name__ == "__main__":
    main()
