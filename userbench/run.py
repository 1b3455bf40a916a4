"""User-path benchmark: one workload per invocation, one closed-loop client.

    python3 userbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).  A
fuller record of the run (context, per-op counts, host readings; spans when
traced) goes to ``.userbench_work/artifacts/`` under the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".userbench_work")

WORKLOADS = ("dashboard", "ingest")
INSTANCES = 3  # instance bring-ups per run; setup_s takes their median
WARMUP = {"dashboard": 2, "ingest": 2}  # dashboard: rounds; ingest: batches
DRIVER_MEM = "1g"


def pin_env(work: str) -> dict:
    """Deployment settings the program reads, fixed here rather than left to
    the caller's shell: Spark parallelism = usable CPUs, a 1 GB driver heap
    (the default 24 GB exceeds a small host; the inputs are a few MB), the
    repo root on the Python workers' path, and every scratch file inside the
    run's work dir."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt.rstrip("/") + "/") or path == mnt:
                    if len(mnt) >= len(best):
                        best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_readings(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"host.steal_pct": 100.0 * d[7] / total,
            "host.idle_pct": 100.0 * (d[3] + d[4]) / total,
            "host.loadavg": os.getloadavg()[0]}


def proc_status(pid: int, key: str) -> int:
    """One numeric field of /proc/<pid>/status (kB for sizes)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def parquet_files(path: str) -> tuple[int, int]:
    """(files, bytes) of Parquet data under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Run:
    """State of one benchmark run; ``dashboard()`` / ``ingest()`` fill it."""

    def __init__(self, args):
        import tsbs

        self.args = args
        self.scale = tsbs.TOY if args.scale == "toy" else tsbs.FULL
        self.work = os.path.join(
            WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.env = pin_env(self.work)
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.ops: list[dict] = []  # timed ops: kind, ms, traced, error
        self.setup: dict = {}
        self.errors: list[str] = []  # failed checks outside the timed phase

    # -- shared pieces ---------------------------------------------------

    def start_session(self) -> None:
        t = time.perf_counter()
        from greptimedb_spark.session import get_spark

        if self.tracer:
            self.tracer.install()
        self.spark = get_spark("userbench", **spark_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.perf_counter() - t

    def bring_up(self):
        """Bring up a serving instance on the live session ``INSTANCES``
        times: a catalog in a fresh directory, ``GreptimeSQL`` over it, and
        the empty ``cpu`` table.  Returns the last one."""
        import tsbs
        from greptimedb_spark.catalog import Catalog
        from greptimedb_spark.sql import GreptimeSQL

        reg, inst = [], []
        for k in range(INSTANCES):
            t = time.perf_counter()
            g = GreptimeSQL(self.spark, catalog=Catalog(
                self.spark, os.path.join(self.work, f"cat{k}")))
            reg.append(time.perf_counter() - t)
            g.sql(tsbs.DDL)
            inst.append(time.perf_counter() - t)
        self.setup["register_s"], self.setup["instance_s"] = reg, inst
        return g

    def table_dir(self, g) -> str:
        import tsbs

        return os.path.join(g.catalog.base_path, tsbs.TABLE, "data")

    def timed(self, kind: str, fn, traced: bool, op_id: int):
        """Run one op; return (ms, result or None, error or None)."""
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(f"userbench-{op_id}" if traced else "untraced", kind)
            self.tracer.on = traced
        t = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(op_id, kind):
                    res = fn()
            else:
                res = fn()
            err = None
        except Exception as e:  # a failed op is counted, not fatal
            res, err = None, f"{type(e).__name__}: {e}"[:300]
        ms = (time.perf_counter() - t) * 1000.0
        if self.tracer:
            self.tracer.on = False
        return ms, res, err

    # -- dashboard -------------------------------------------------------

    def dashboard(self) -> None:
        import tsbs
        from workloads import Panels, check_records, encode

        data = tsbs.dashboard_data(self.args.seed, self.scale)
        panels = Panels(self.args.seed, data.hosts, data.start_ms, data.end_ms)
        merged = data.merged

        t0 = time.perf_counter()
        self.start_session()
        g = self.bring_up()
        t = time.perf_counter()
        for b in data.batches:
            g.catalog.insert(tsbs.TABLE, self.spark.createDataFrame(
                b[["ts", *tsbs.TAGS, *tsbs.FIELDS]]))
        # a direct Catalog.insert leaves the view CREATE TABLE registered
        # stale: re-register it, as a server must after writes
        g.catalog.read(tsbs.TABLE).createOrReplaceTempView(tsbs.TABLE)
        self.setup["load_s"] = time.perf_counter() - t
        files, size = parquet_files(self.table_dir(g))
        self.stored = (files, size, data.rows_written)

        def op_fn(op):
            def fn():
                resp = g.sql_http(op.text)
                with (self.tracer.span("wire.serialize")
                      if self.tracer and self.tracer.on else nullcontext()):
                    body = encode(resp)
                return resp, body
            return fn

        op_id = 0
        t = time.perf_counter()
        warm = []
        for _ in range(WARMUP["dashboard"]):
            for op in panels.round():
                op_id += 1
                ms, res, err = self.timed(op.kind, op_fn(op), False, op_id)
                err = err or check_records(res[0], op.expect(merged))
                if err:
                    self.errors.append(f"warm-up {op.kind}: {err}")
                warm.append(ms)
        self.setup["warmup_s"] = time.perf_counter() - t
        self.setup["warmup_ms"] = warm
        self.setup["setup_wall_s"] = time.perf_counter() - t0

        deadline = time.perf_counter() + self.args.seconds
        rnd = 0
        while time.perf_counter() < deadline:
            for i, op in enumerate(panels.round()):
                # traced runs trace every other op, shifting by one each
                # round: each panel is traced in alternate rounds, and the
                # traced and untraced halves see the same warm-up state
                traced = bool(self.tracer) and (rnd + i) % 2 == 0
                op_id += 1
                ms, res, err = self.timed(op.kind, op_fn(op), traced, op_id)
                nrows = nbytes = 0
                if err is None:
                    resp, body = res
                    err = check_records(resp, op.expect(merged))
                    if err is None:
                        nbytes = len(body)
                        nrows = resp["output"][0]["records"]["total_rows"]
                self.ops.append({"id": op_id, "kind": op.kind, "ms": ms,
                                 "traced": traced, "error": err,
                                 "rows": nrows, "bytes": nbytes})
            rnd += 1

    # -- ingest ----------------------------------------------------------

    def ingest(self) -> None:
        import tsbs
        from workloads import check_table, ingest

        stream = tsbs.IngestStream(self.args.seed, self.scale)
        # payloads are made before the clock starts (a batch takes seconds,
        # so seconds/2 of them outlast a run); more are made between ops if
        # needed, outside any op's time
        payloads = [stream.next_batch() for _ in range(
            WARMUP["ingest"] + int(self.args.seconds) // 2 + 2)]

        def payload_at(i: int):
            while len(payloads) <= i:
                payloads.append(stream.next_batch())
            return payloads[i]

        t0 = time.perf_counter()
        self.start_session()
        g = self.bring_up()
        self.setup["load_s"] = 0.0  # the table starts empty
        sent = []
        t = time.perf_counter()
        warm = []
        for i in range(WARMUP["ingest"]):
            ms, _, err = self.timed(
                "batch", lambda: ingest(self.spark, g.catalog, payloads[i][0]),
                False, 0)
            if err:
                self.errors.append(f"warm-up batch {i}: {err}")
            warm.append(ms)
            sent.append(payloads[i][1])
        self.setup["warmup_s"] = time.perf_counter() - t
        self.setup["warmup_ms"] = warm
        self.setup["setup_wall_s"] = time.perf_counter() - t0
        first_timed = len(sent)

        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < deadline:
            payload, rows = payload_at(first_timed + i)
            traced = bool(self.tracer) and i % 2 == 0
            before = parquet_files(self.table_dir(g))[0] if traced else 0
            ms, _, err = self.timed(
                "batch", lambda: ingest(self.spark, g.catalog, payload),
                traced, i + 1)
            files = parquet_files(self.table_dir(g))[0] - before \
                if traced else 0
            sent.append(rows)
            self.ops.append({"id": i + 1, "kind": "batch", "ms": ms,
                             "traced": traced, "error": err,
                             "rows": len(rows), "bytes": len(payload),
                             "files": files})
            i += 1

        # untimed read-back through a fresh front door on the same catalog
        t = time.perf_counter()
        from greptimedb_spark.catalog import Catalog
        from greptimedb_spark.sql import GreptimeSQL

        if self.tracer:
            self.tracer.on = False
        fresh = GreptimeSQL(self.spark,
                            catalog=Catalog(self.spark, g.catalog.base_path))
        # a fresh GreptimeSQL does not register existing catalog tables,
        # and the session's view of the table is stale after direct inserts:
        # register it from the catalog files, then read through the front door
        fresh.catalog.read(tsbs.TABLE).createOrReplaceTempView(tsbs.TABLE)
        got = fresh.sql(f"SELECT * FROM {tsbs.TABLE}").toPandas()
        bad = check_table(got, sent)
        for b in bad:
            if b >= first_timed:
                op = self.ops[b - first_timed]
                op["error"] = op["error"] or "read-back mismatch"
            else:
                self.errors.append(f"set-up batch {b}: read-back mismatch")
        files, size = parquet_files(self.table_dir(g))
        self.stored = (files, size, sum(len(r) for r in sent))
        self.readback_s = time.perf_counter() - t

    # -- results ---------------------------------------------------------

    def collect_spark_work(self) -> None:
        """Jobs, stages and tasks per traced op, read from the status
        tracker once its listener has caught up."""
        from spans import spark_work

        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(2.0)
        self.spark_context_status = {
            o["id"]: spark_work(sc, f"userbench-{o['id']}")
            for o in self.ops if o["traced"]}

    def stop(self) -> None:
        """Stop Spark and its JVM and wait for both.  Just before, record
        the peak RSS (MB) of this process and of the JVM, and the JVM's
        thread count."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.rss_parts = {"python": proc_status(os.getpid(), "VmHWM") / 1024,
                          "jvm": proc_status(proc.pid, "VmHWM") / 1024
                          if proc else 0.0}
        self.jvm_threads = proc_status(proc.pid, "Threads") if proc else 0
        kids = _children(proc.pid) if proc else []
        self.spark.stop()
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap(kids)

    def metrics(self) -> dict:
        # end-to-end figures come from untraced, successful ops; throughput
        # is per second of op time (the client's checks between ops are
        # not the system's time)
        ok = [o for o in self.ops if not o["traced"] and not o["error"]]
        ok = ok or [o for o in self.ops if not o["traced"]]
        lat = [o["ms"] for o in ok]
        busy_s = sum(lat) / 1000.0
        setup_s = (self.setup["session.start_s"]
                   + statistics.median(self.setup["instance_s"])
                   + self.setup["load_s"] + self.setup["warmup_s"])
        files, size, rows = self.stored
        out = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat), "ms"),
            "rows_per_s": (sum(o["rows"] for o in ok) / busy_s, "rows/s"),
            "wire_mb_per_s": (sum(o["bytes"] for o in ok) / 1e6 / busy_s,
                              "MB/s"),
            "stored_bytes_per_row": (size / rows, "B"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _children(pid: int) -> list[int]:
    """Direct children of ``pid`` (the JVM's Python worker daemon)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit (they do once the JVM closes their pipes);
    kill any still alive at the timeout."""
    import signal

    end = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs, for the self-test")
    args = ap.parse_args(argv)

    # fail fast, before any work, when the program is not beside us
    sys.path.insert(0, ROOT)
    import greptimedb_spark  # noqa: F401

    t_start = time.perf_counter()
    run = Run(args)
    jiffies = cpu_jiffies()
    try:
        getattr(run, args.workload)()
        if run.tracer:
            run.collect_spark_work()
    finally:
        if hasattr(run, "spark"):
            run.stop()
    host = host_readings(jiffies, cpu_jiffies())
    if args.trace:
        from layers import per_layer

        metrics = per_layer(run, host)
    else:
        metrics = run.metrics()
    failed = sum(1 for o in run.ops if o["error"])
    result = {
        "correct": failed == 0 and not run.errors and bool(run.ops),
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }
    write_artifact(run, result, host, time.perf_counter() - t_start)
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def write_artifact(run: Run, result: dict, host: dict, wall_s: float) -> None:
    import tsbs
    from collections import Counter

    a = run.args
    out_dir = os.path.join(WORK_ROOT, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    files, size, rows = run.stored
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": run.scale.__dict__,
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "pinned_env": run.env,
        "work_dir": run.work, "work_dir_fs": fs_type(run.work),
        "flush_policy": "none: Catalog writes never fsync; the page cache "
                        "holds every input and table",
        "result_cache": "none: the program keeps no result cache",
        "client": "closed loop, 1 client",
        "instances": INSTANCES, "warmup": WARMUP[a.workload],
        "setup": run.setup,
        "readback_s": getattr(run, "readback_s", None),
        "wall_s": wall_s,
        "ops": len(run.ops),
        "ops_by_kind": dict(Counter(o["kind"] for o in run.ops)),
        "op_ms": [[o["kind"], round(o["ms"], 2), o["traced"]]
                  for o in run.ops],
        "failed_ops": [o for o in run.ops if o["error"]][:20],
        "setup_errors": run.errors[:20],
        "table": {"parquet_files": files, "parquet_bytes": size,
                  "rows_written": rows, "table": tsbs.TABLE},
        "host": host,
        "peak_rss_mb_parts": getattr(run, "rss_parts", None),
        "jvm_threads": getattr(run, "jvm_threads", None),
        "result": result,
    }
    if run.tracer:
        record["breakdown"] = run.breakdown
        run.tracer.dump(stem + ".spans.json")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
