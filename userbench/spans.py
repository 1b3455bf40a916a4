"""Outside-in spans around the program's public entry points.

``Tracer.install()`` replaces a fixed list of public functions and methods
with wrappers that record a span (name, start, end, parent, op id) while the
tracer is on, i.e. inside a traced op.  Nothing inside ``greptimedb_spark``
changes: the wrappers are set on the module or class attribute the program
looks up at call time.  Spans stay in memory and are written out when the
run ends.

A layer's self time is its span minus the spans directly inside it, so the
self times of all spans in one op add up to that op's span exactly.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict

# (import path of the owner, attribute, span name).  The owner is a module
# for functions and a class for methods.
SPANS = (
    ("greptimedb_spark.sql:GreptimeSQL", "sql_http", "sql.front_door"),
    ("greptimedb_spark.sql:GreptimeSQL", "sql", "sql.front_door"),
    ("greptimedb_spark.range_query", "range_sql", "range_query.plan"),
    ("greptimedb_spark.promql.engine:PromQLEngine", "evaluate", "promql.plan"),
    ("greptimedb_spark.catalog:Catalog", "read", "catalog.read"),
    ("greptimedb_spark.catalog:Catalog", "insert", "catalog.insert"),
    ("greptimedb_spark.http_api", "sql_response", "http_api.encode"),
    ("greptimedb_spark.sources.protocols", "parse_influx_lines",
     "protocols.parse"),
    ("greptimedb_spark.sources.protocols", "influx_pivot", "protocols.pivot"),
    ("pyspark.sql.session:SparkSession", "createDataFrame", "spark.create_df"),
    ("pyspark.sql.classic.dataframe:DataFrame", "collect", "spark.exec"),
)
# Calls only counted, not timed (cheap, and called many times per op).
COUNTS = (
    ("greptimedb_spark.catalog:Catalog", "meta", "catalog.meta_calls"),
    ("greptimedb_spark.catalog:Catalog", "list_tables", "catalog.meta_calls"),
)


def _owner(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self._stack: list[int] = []
        self._op: int | None = None

    # -- wiring ----------------------------------------------------------

    def install(self) -> None:
        for path, attr, name in SPANS:
            self._patch(path, attr, lambda f, n=name: self._timed(f, n))
        for path, attr, name in COUNTS:
            self._patch(path, attr, lambda f, n=name: self._counted(f, n))

    def _patch(self, path: str, attr: str, make) -> None:
        owner = _owner(path)
        # a class must define the method itself: patching an inherited one
        # would shadow it for this class only, and silently time nothing
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, make(orig))

    def _timed(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not self.on:
                return fn(*a, **k)
            with self.span(name):
                return fn(*a, **k)
        return wrapper

    def _counted(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if self.on:
                self.counts[self._op if self._op is not None else -1][name] += 1
            return fn(*a, **k)
        return wrapper

    # -- recording -------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def op(self, op_id: int, kind: str):
        """The root span of one op; spans opened inside carry its id."""
        self._op = op_id
        return _Span(self, "op", kind=kind, root=True)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": {str(k): dict(v)
                                  for k, v in self.counts.items()}}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, kind: str | None = None,
                 root: bool = False):
        self.t, self.name, self.kind, self.root = tracer, name, kind, root

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "op": t._op, "start": time.perf_counter(), "end": None}
        if self.kind is not None:
            self.rec["kind"] = self.kind
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        if self.root:
            self.t._op = None
        return False


def self_times(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per op id: seconds of self time by span name.  The ``op`` entry is the
    harness's own share of the op (its glue between program calls)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["op"] is None:
            continue
        out[s["op"]][s["name"]] += s["end"] - s["start"] - child[s["id"]]
    return out


def spark_work(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group, from the status
    tracker.  Skipped stages (reused shuffle output) are not counted."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numTasks and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
    return jobs, stages, tasks
