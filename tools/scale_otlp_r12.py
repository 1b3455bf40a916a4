"""Scale evidence for the r12 single-pass OTLP metrics parser (q94 shape).

Replicates the sf0.1 events table k-fold in-flight (replica-unique event ids
and shifted timestamps so per-payload work matches the real stream), renders
the q94 OTLP/JSON gauge payloads AFTER replication, and times the parse with
the noop sink at 1x/10x/100x.  The old-vs-new interleaved 10x leg against the
r11 8-branch union is recorded in SCALE_OTLP_r12.json and OPTIMIZATION_r12.md.

Run SOLO. Writes SCALE_OTLP_r12.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from greptimedb_spark.session import get_spark  # noqa: E402
from greptimedb_spark.sources import protocols as proto  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("SPARK_GRAFT_SCALE_OTLP_OUT", "SCALE_OTLP_r12.json")
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_OTLP_REPS", "2"))


def payloads_at(spark, k: int):
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    r = e.crossJoin(F.broadcast(
        spark.range(k).select(F.col("id").alias("__rep"))))
    return r.select(F.format_string(
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"app"}}]},'
        '"scopeMetrics":[{"metrics":[{"name":"Events.Value","gauge":{"dataPoints":['
        '{"timeUnixNano":"%d","asDouble":%s,"attributes":['
        '{"key":"event_type","value":{"stringValue":"%s"}}]}]}}]}]}]}',
        F.unix_micros(F.col("ts").cast("timestamp")) * 1000 + F.col("__rep"),
        F.col("value").cast("string"), "event_type").alias("payload"))


def time_leg(spark, fn, k: int, label: str):
    times = []
    for rep in range(REPS):
        df = fn(payloads_at(spark, k)).filter(F.col("err").isNull())
        spark.sparkContext.setJobDescription(f"scale_otlp {label} x{k} rep{rep}")
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    return times


def main():
    spark = get_spark()
    n1 = payloads_at(spark, 1).count()
    results = {"rows_x1": n1, "reps": REPS, "new": {}}
    for k in (1, 10, 100):
        results["new"][f"x{k}"] = time_leg(
            spark, proto.parse_otlp_metrics_json, k, "new")
    with open(OUT, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
