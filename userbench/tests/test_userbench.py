"""Self-test of the user-path benchmark.

    python3 -m pytest userbench/tests -q

The input and check tests run in a second.  The end-to-end tests start Spark
once per workload and mode at toy size (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tsbs  # noqa: E402
from workloads import Panels, check_records, check_table  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _ops(seed: int, rounds: int = 3, scale=tsbs.TOY) -> list[str]:
    data = tsbs.dashboard_data(seed, scale)
    panels = Panels(seed, data.hosts, data.start_ms, data.end_ms)
    return [op.text for _ in range(rounds) for op in panels.round()]


def _payloads(seed: int, n: int = 3) -> list[bytes]:
    stream = tsbs.IngestStream(seed, tsbs.TOY)
    return [stream.next_batch()[0] for _ in range(n)]


def test_same_seed_same_inputs():
    assert _payloads(7) == _payloads(7)
    assert _payloads(7) != _payloads(8)
    assert _ops(7) == _ops(7)
    assert _ops(7) != _ops(8)
    a, b = tsbs.dashboard_data(7, tsbs.TOY), tsbs.dashboard_data(7, tsbs.TOY)
    for x, y in zip(a.batches, b.batches):
        pd.testing.assert_frame_equal(x, y)


def test_ops_draw_fresh_windows():
    # windows are drawn, so two ops may coincide by chance; most must not
    texts = _ops(7, rounds=4, scale=tsbs.FULL)
    assert len(set(texts)) >= 0.9 * len(texts)


def test_resends_make_dedup_real():
    data = tsbs.dashboard_data(3, tsbs.TOY)
    assert data.rows_written > len(data.merged)  # re-sent keys collapse
    resent = data.batches[-1]
    key = resent.iloc[0]
    row = data.merged[(data.merged["hostname"] == key["hostname"])
                      & (data.merged["ts"] == key["ts"])]
    assert row["usage_user"].item() == key["usage_user"]  # last write wins


def _response(exp) -> dict:
    """A well-formed greptimedb_v1 body carrying ``exp``'s rows."""
    names = list(exp.columns or [f"c{i}" for i in range(len(exp.rows[0]))])
    return {"output": [{"records": {
        "schema": {"column_schemas": [{"name": n, "data_type": "x"}
                                      for n in names]},
        "rows": [list(r) for r in exp.rows], "total_rows": len(exp.rows)}}],
        "execution_time_ms": 0}


@pytest.mark.parametrize("kind", Panels.KINDS)
def test_corrupted_result_fails_check(kind):
    data = tsbs.dashboard_data(5, tsbs.TOY)
    panels = Panels(5, data.hosts, data.start_ms, data.end_ms)
    op = next(o for o in panels.round() if o.kind == kind)
    exp = op.expect(data.merged)
    if not exp.rows:  # e.g. no host above the high-cpu threshold
        exp = op.expect(data.merged.assign(usage_user=95.0))
    assert exp.rows, kind
    assert check_records(_response(exp), exp) is None

    bad = _response(exp)
    row = bad["output"][0]["records"]["rows"][0]
    j = max(i for i, v in enumerate(row) if isinstance(v, float))
    row[j] += 0.5
    assert check_records(bad, exp) is not None

    short = _response(exp)
    short["output"][0]["records"]["rows"].pop()
    short["output"][0]["records"]["total_rows"] -= 1
    assert check_records(short, exp) is not None

    stale = _response(exp)  # a stale view: right schema, no rows
    stale["output"][0]["records"].update(rows=[], total_rows=0)
    assert check_records(stale, exp) is not None

    envelope = {"code": 3000, "error": "boom", "execution_time_ms": 1}
    assert check_records(envelope, exp) is not None


def test_corrupted_table_fails_read_back():
    stream = tsbs.IngestStream(4, tsbs.TOY)
    sent = [stream.next_batch()[1] for _ in range(3)]
    table = tsbs.last_write_wins(sent)
    assert check_table(table, sent) == []
    # a re-sent key holding its first value instead of its last
    resent = sent[2].iloc[-1]
    stale = table.copy()
    hit = (stale["hostname"] == resent["hostname"]) & (stale["ts"] == resent["ts"])
    first = sent[1][(sent[1]["hostname"] == resent["hostname"])
                    & (sent[1]["ts"] == resent["ts"])]
    stale.loc[hit, "usage_user"] = first["usage_user"].item()
    assert check_table(stale, sent) == [2]
    assert check_table(table.iloc[:-1], sent) != []  # a lost row
    assert check_table(pd.concat([table, table.iloc[:1]]), sent) != []


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = _run("--workload", "dashboard", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    r = _run("--workload", workload, "--seed", "3", "--seconds", "3",
             "--trace", str(trace), "--scale", "toy")
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        art = os.path.join(ROOT, ".userbench_work", "artifacts",
                           f"{workload}-seed3-trace1.json")
        with open(art) as f:
            breakdown = json.load(f)["breakdown"]
        assert breakdown
        for kind, b in breakdown.items():
            # the layers' self times add up to the op's span
            assert abs(b["residual_ms"]) < 1e-6 * max(1.0, b["span_ms"]), kind
