"""Per-layer metrics of a traced run (``--trace 1``).

A traced run alternates traced and untraced ops (dashboard: every other
op, shifting by one each round; ingest: every other batch).  Layer times are means over the traced ops of each layer's
self time, so they add up to the mean traced op.  Per-op-kind latencies and
the end-to-end comparison come from the untraced ops; the gap between the two
halves is ``tracing.overhead_pct``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_times
from workloads import Panels

# span name -> metric name (ms of self time per op)
LAYER_MS = {
    "sql.front_door": "sql.front_door_ms",
    "range_query.plan": "range_query.plan_ms",
    "promql.plan": "promql.plan_ms",
    "catalog.read": "catalog.read_ms",
    "catalog.insert": "catalog.insert_ms",
    "spark.exec": "spark.exec_ms",
    "spark.create_df": "spark.create_df_ms",
    "http_api.encode": "http_api.encode_ms",
    "wire.serialize": "wire.serialize_ms",
    "protocols.parse": "protocols.parse_ms",
    "protocols.pivot": "protocols.pivot_ms",
    "op": "bench.harness_ms",
}
OP_KINDS = {"dashboard": Panels.KINDS, "ingest": ("batch",)}


def names() -> list[str]:
    """Every per-layer metric a traced run prints, whatever the workload."""
    out = ["session.start_s", "sql.register_s", "catalog.load_s", "warmup_s",
           *LAYER_MS.values(), "catalog.meta_calls_per_op",
           "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
           "http_api.response_bytes_per_op", "catalog.files_per_batch",
           "tracing.overhead_pct", "mem.peak_rss_mb", "mem.jvm_threads",
           "host.steal_pct", "host.idle_pct", "host.loadavg"]
    for w, kinds in OP_KINDS.items():
        out += [f"{w}.{k}_p50_ms" for k in kinds]
    return out


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("bytes_per_op"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name == "host.loadavg":
        return "load"
    return "count"


def per_layer(run, host: dict) -> dict:
    """All per-layer metrics of ``run``; layers the workload never calls
    read 0.  Also sets ``run.breakdown``: per op kind, the mean op span and
    the mean self time of each layer in it."""
    traced = [o for o in run.ops if o["traced"] and not o["error"]]
    plain = [o for o in run.ops if not o["traced"] and not o["error"]]
    selfs = self_times(run.tracer.spans)
    n = max(1, len(traced))
    vals = {k: 0.0 for k in names()}
    setup = run.setup
    vals["session.start_s"] = setup["session.start_s"]
    vals["sql.register_s"] = statistics.median(setup["register_s"])
    vals["catalog.load_s"] = setup["load_s"]
    vals["warmup_s"] = setup["warmup_s"]

    by_kind: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    span_ms: dict[str, list] = defaultdict(list)
    root = {s["op"]: s for s in run.tracer.spans if s["name"] == "op"}
    sc = run.spark_context_status
    for o in traced:
        layers = selfs.get(o["id"], {})
        for span, ms_name in LAYER_MS.items():
            ms = layers.get(span, 0.0) * 1000.0
            vals[ms_name] += ms / n
            by_kind[o["kind"]][span] += ms
        r = root[o["id"]]
        span_ms[o["kind"]].append((r["end"] - r["start"]) * 1000.0)
        counts = run.tracer.counts.get(o["id"], {})
        vals["catalog.meta_calls_per_op"] += counts.get(
            "catalog.meta_calls", 0) / n
        jobs, stages, tasks = sc[o["id"]]
        vals["spark.jobs_per_op"] += jobs / n
        vals["spark.stages_per_op"] += stages / n
        vals["spark.tasks_per_op"] += tasks / n
        if run.args.workload == "dashboard":
            vals["http_api.response_bytes_per_op"] += o["bytes"] / n
        vals["catalog.files_per_batch"] += o.get("files", 0) / n

    kinds = OP_KINDS[run.args.workload]
    for k in kinds:
        lat = [o["ms"] for o in plain if o["kind"] == k]
        if lat:
            vals[f"{run.args.workload}.{k}_p50_ms"] = statistics.median(lat)
    t_lat = [o["ms"] for o in traced]
    p_lat = [o["ms"] for o in plain]
    if t_lat and p_lat:
        vals["tracing.overhead_pct"] = 100.0 * (
            statistics.median(t_lat) / statistics.median(p_lat) - 1.0)
    vals["mem.peak_rss_mb"] = sum(run.rss_parts.values())
    vals["mem.jvm_threads"] = run.jvm_threads
    vals.update(host)

    run.breakdown = {}
    for k, spans in span_ms.items():
        m = len(spans)
        layers = {s: v / m for s, v in by_kind[k].items() if v}
        mean_span = sum(spans) / m
        run.breakdown[k] = {
            "ops": m, "span_ms": mean_span, "self_ms": layers,
            "residual_ms": mean_span - sum(layers.values()),
        }
    return {k: {"value": v, "unit": unit(k)} for k, v in vals.items()}
