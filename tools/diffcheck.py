"""Differential check: the statement corpus at a base revision against the
working tree.

    python tools/diffcheck.py <rev> [--ab N]

The corpus is ``tools/diffcheck.sql``.  ``-- family: NAME`` lines split it
into families, and each family runs through ``GreptimeSQL.sql`` on a fresh
``Catalog`` in its own temporary directory.  The ``userbench`` family has no
text in the corpus: it loads the TSBS toy table and runs one round of the
dashboard panels, imported read-only from ``userbench/``.

The base side is ``<rev>`` checked out with ``git worktree`` into a temporary
directory; the other side is the working tree.  Each side is one process with
its own Spark session, driven with family names over a pipe, and both read
the corpus and the panels from the working tree.  For every statement the
check keeps the column names and the row multiset (cells normalized, floats
to 10 significant digits), or the class of the error it raised.  It prints
each difference and exits 1 if there is any.

``--ab N`` then runs N timing rounds of every family, alternating which side
goes first, and prints each family's median seconds per side.

The in-process runner (``run_family``) and the differ (``diff_family``) are
importable on their own: ``tests/test_diffcheck.py`` drives them directly.
"""
from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "diffcheck.sql")
USERBENCH = "userbench"
PANEL_SEED = 7


# -- corpus -----------------------------------------------------------------

def parse_corpus(path: str = CORPUS) -> list[tuple[str, list[str]]]:
    """``[(family, [statement, ...]), ...]`` in file order.  A statement ends
    at a line ending in ``;``; other ``--`` lines are comments."""
    families: list[tuple[str, list[str]]] = []
    buf: list[str] = []
    with open(path) as f:
        for line in f:
            s = line.strip()
            if s.lower().startswith("-- family:"):
                families.append((s.split(":", 1)[1].split()[0], []))
                continue
            if not s or s.startswith("--"):
                continue
            buf.append(line.rstrip("\n"))
            if s.endswith(";"):
                families[-1][1].append("\n".join(buf).strip().rstrip(";"))
                buf = []
    return families


def userbench_panels():
    """The TSBS toy table (its load batches) and one round of dashboard
    panel texts, from a fixed seed."""
    bench = os.path.join(REPO, USERBENCH)
    if bench not in sys.path:
        sys.path.insert(0, bench)
    import tsbs
    from workloads import Panels

    data = tsbs.dashboard_data(PANEL_SEED, tsbs.TOY)
    panels = Panels(PANEL_SEED, data.hosts, data.start_ms, data.end_ms)
    cols = ["ts", *tsbs.TAGS, *tsbs.FIELDS]
    return (tsbs.TABLE, tsbs.DDL, [b[cols] for b in data.batches],
            [op.text for op in panels.round()])


# -- runner -----------------------------------------------------------------

def norm(v):
    """A JSON-able, order-stable form of one cell."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return float(f"{v:.10g}") if math.isfinite(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time, dt.timedelta)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return sorted(([norm(k), norm(x)] for k, x in v.items()),
                      key=json.dumps)
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return str(v)


def error_class(e: BaseException) -> str:
    """The exception's type, with Spark's error condition when it has one
    (messages carry paths and ids, so they are not compared)."""
    get = getattr(e, "getCondition", None)
    cond = get() if get else None
    return f"{type(e).__name__}:{cond}" if cond else type(e).__name__


def run_statement(g, text: str) -> dict:
    try:
        df = g.sql(text)
        rows = [json.dumps(norm(tuple(r)), sort_keys=True)
                for r in df.collect()]
        return {"sql": text, "cols": list(df.columns), "rows": sorted(rows)}
    except Exception as e:  # the error class is the outcome
        return {"sql": text, "error": error_class(e)}


def run_family(spark, family: str, statements: list[str],
               limit: int | None = None) -> list[dict]:
    """Run one family (its first ``limit`` statements) on a fresh Catalog in
    its own temporary directory."""
    from greptimedb_spark.catalog import Catalog
    from greptimedb_spark.sql import GreptimeSQL

    tmp = tempfile.mkdtemp(prefix=f"diffcheck-{family}-")
    try:
        g = GreptimeSQL(spark, catalog=Catalog(spark, tmp))
        statements = list(statements)
        if family == USERBENCH:
            table, ddl, batches, panels = userbench_panels()
            g.sql(ddl)
            for b in batches:
                g.catalog.insert(table, spark.createDataFrame(b))
            statements += panels
        return [run_statement(g, s) for s in statements[:limit]]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- differ -----------------------------------------------------------------

def _show(rows: list[str], limit: int = 5) -> str:
    more = f" … (+{len(rows) - limit})" if len(rows) > limit else ""
    return "; ".join(rows[:limit]) + more


def diff_family(family: str, base: list[dict], work: list[dict]) -> list[str]:
    """One line per differing statement of ``family``."""
    out = []
    if len(base) != len(work):
        out.append(f"[{family}] {len(base)} statements at base, "
                   f"{len(work)} in the working tree")
    for i, (b, w) in enumerate(zip(base, work)):
        head = f"[{family} #{i + 1}] {' '.join(b['sql'].split())[:120]}\n    "
        if "error" in b or "error" in w:
            if b.get("error") != w.get("error"):
                out.append(head + f"error base={b.get('error')} "
                           f"work={w.get('error')}")
            continue
        if b["cols"] != w["cols"]:
            out.append(head + f"columns base={b['cols']} work={w['cols']}")
            continue
        lost = list((Counter(b["rows"]) - Counter(w["rows"])).elements())
        extra = list((Counter(w["rows"]) - Counter(b["rows"])).elements())
        if lost or extra:
            out.append(head + f"rows only at base: {_show(lost)}\n    "
                       f"rows only in work: {_show(extra)}")
    return out


# -- sides --------------------------------------------------------------------

def serve(root: str) -> None:
    """Child side: import the program from ``root``, then run each family
    named on stdin and answer with one JSON line."""
    proto = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # anything else printed goes to stderr, not the protocol
    sys.path.insert(0, root)
    from greptimedb_spark.session import get_spark

    spark = get_spark("diffcheck", **{"spark.sql.shuffle.partitions": "4",
                                      "spark.driver.memory": "2g"})
    spark.sparkContext.setLogLevel("ERROR")
    corpus = dict(parse_corpus())
    for line in sys.stdin:
        family = line.strip()
        t = time.perf_counter()
        outcomes = run_family(spark, family, corpus[family])
        secs = time.perf_counter() - t
        proto.write(json.dumps({"seconds": secs, "outcomes": outcomes}) + "\n")
        proto.flush()
    spark.stop()


class Side:
    def __init__(self, name: str, root: str):
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", "2")
        # Spark's Python workers import the program too
        env["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in [env.get("PYTHONPATH")] if p])
        self.name = name
        # Spark's log goes to a file, shown only if the side dies
        self.log = tempfile.NamedTemporaryFile(
            "w+", prefix="diffcheck-", suffix=".log", delete=False)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--serve", root],
            cwd=root, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True)

    def send(self, family: str) -> None:
        self.proc.stdin.write(family + "\n")
        self.proc.stdin.flush()

    def recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{self.name} side exited (code "
                               f"{self.proc.wait()}); log: {self.log.name}")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
        self.log.close()
        if self.proc.returncode == 0:
            os.unlink(self.log.name)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", nargs="?", help="base revision (git rev-parse)")
    ap.add_argument("--ab", type=int, default=0, metavar="N",
                    help="timing rounds per family after parity holds")
    ap.add_argument("--serve", metavar="ROOT", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.serve:
        serve(args.serve)
        return 0
    if not args.rev:
        ap.error("a base revision is required")
    families = [f for f, _ in parse_corpus()]
    rev = subprocess.check_output(["git", "-C", REPO, "rev-parse", "--verify",
                                   args.rev + "^{commit}"], text=True).strip()
    tree = tempfile.mkdtemp(prefix="diffcheck-base-")
    subprocess.check_call(["git", "-C", REPO, "worktree", "add", "--detach",
                           "--quiet", tree, rev])
    sides = []
    try:
        sides = [Side(f"base {rev[:10]}", tree), Side("work", REPO)]
        diffs, n = [], 0
        for family in families:
            for s in sides:
                s.send(family)
            base, work = (s.recv()["outcomes"] for s in sides)
            n += len(work)
            diffs += diff_family(family, base, work)
        for d in diffs:
            print(d)
        print(f"diffcheck: {len(diffs)} difference(s) over {n} statements "
              f"in {len(families)} families, base {rev[:10]} vs working tree")
        if diffs or args.ab <= 0:
            return 1 if diffs else 0
        secs = {f: ([], []) for f in families}
        for r in range(args.ab):
            for i, family in enumerate(families):
                order = (0, 1) if (r + i) % 2 == 0 else (1, 0)
                for k in order:
                    sides[k].send(family)
                    secs[family][k].append(sides[k].recv()["seconds"])
        print(f"{'family':<20}{'base s':>10}{'work s':>10}{'work/base':>11}")
        for family, (b, w) in secs.items():
            mb, mw = statistics.median(b), statistics.median(w)
            print(f"{family:<20}{mb:>10.3f}{mw:>10.3f}{mw / mb:>11.2f}")
        return 0
    finally:
        for s in sides:
            s.close()
        subprocess.call(["git", "-C", REPO, "worktree", "remove", "--force",
                         tree])
        shutil.rmtree(tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
