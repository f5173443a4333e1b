"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The unit tests need no Spark. The smoke tests run every workload at the
smoke scale (sf0.001-sized inputs, two seconds) through the real entry
point from the checkout root; they take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common as C  # noqa: E402
import gen  # noqa: E402
from w_stream import batch_files  # noqa: E402


def test_pct_interpolates():
    assert C.pct([], 50) is None
    assert C.pct([3.0], 90) == 3.0
    assert C.pct([1, 2, 3, 4], 50) == 2.5
    assert C.pct(list(range(101)), 90) == 90


def test_timing_reports_only_percentiles_with_ten_beyond():
    t = C.timing("x_s", [float(i) for i in range(100)])
    assert set(t) == {"x_s.p50", "x_s.p90"}
    assert t["x_s.p90"]["beyond"] == 10
    assert set(C.timing("x_s", [1.0, 2.0])) == {"x_s.p50"}


def test_canon_hash_ignores_row_and_column_order():
    a = C.canon_hash(["b", "a"], [(1, "x"), (2.5, None)])
    b = C.canon_hash(["a", "b"], [(None, 2.5), ("x", 1)])
    assert a == b
    assert a != C.canon_hash(["a", "b"], [(None, 2.5), ("x", 2)])


def test_generation_is_seeded(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_events(str(tmp_path / d), 0.001, seed)
    read = lambda d: (tmp_path / d / "events.parquet").read_bytes()  # noqa: E731
    assert read("a") == read("b") != read("c")
    x = gen.account_changes(np.random.default_rng(1), 1000, 500, 10, 120, 0)
    y = gen.account_changes(np.random.default_rng(1), 1000, 500, 10, 120, 0)
    assert all((x[k] == y[k]).all() for k in x)
    assert len(set(x["ledger_entry_change"].tolist())) == 500


def test_event_log_attribution(tmp_path):
    tag = lambda i: f"spark-session-u-thread-t-{C.Tracer.TAG}{i}"  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000, "Stage IDs": [0],
         "Properties": {"spark.job.tags": f"{tag(0)},{tag(1)}"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1000_500},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    jobs = C.read_event_log(str(tmp_path))
    outer = C.Span(0, "outer", "outer_s", None, 0)
    inner = C.Span(1, "inner", "inner_s", 0, 1)
    outer.t0, outer.t1 = 999.0, 1003.0
    inner.t0, inner.t1 = 1000.0, 1001.0
    layers, total = C.attribute([outer, inner], jobs)
    assert layers["inner"]["spark.jobs"] == 1 and layers["outer"]["spark.jobs"] == 0
    assert layers["inner"]["spark.driver_s"] == pytest.approx(0.5)
    assert layers["outer"]["self_s"] == pytest.approx(3.0)
    assert total["spark.task_s"] == 0.5 and total["spark.shuffle_bytes"] == 7


def test_batch_files_reads_plain_and_compact_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "3").write_text('v1\n{"path":"file:/l/a.json","batchId":3}\n')
    (log / "9.compact").write_text('v1\n{"path":"file:/l/b.json","batchId":4}\n{"path":"file:/l/c.json","batchId":5}\n')
    assert batch_files(str(tmp_path), 3) == ["file:/l/a.json"]
    assert batch_files(str(tmp_path), 5) == ["file:/l/c.json"]
    assert batch_files(str(tmp_path), 6) == []


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_refuses_to_run_without_the_program(tmp_path):
    r = _run("--workload", "batch_cycle", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.mark.parametrize("workload,trace", [
    ("batch_cycle", "0"), ("batch_cycle", "1"), ("stream_ingest", "0"), ("stream_ingest", "1"),
])
def test_smoke(workload, trace):
    r = _run("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", trace, "--smoke")
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0, r.stderr[-3000:]
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert len(report["metrics"]) >= 13
    if trace == "1":
        assert "tracing_overhead" in report and report["per_layer"]["spark.jobs"] > 0
