"""``stream_ingest``: state tables kept current while people read them,
open loop.

A generator thread drops NDJSON change files into a landing directory on
a fixed schedule; each file is named after the time it was due. A
Structured Streaming query reads them with ``stream_ndjson`` and its
``foreachBatch`` sink applies each micro-batch with ``apply_changes``.
Two reader threads, also on fixed schedules, read the live table by key,
one through ``scan_snapshot`` and one through ``format("snapshot")``.
Latencies are measured from the due time, so a stall also delays what
queues behind it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np

import common as C
import gen
from w_batch import STATE_COLS, compare_state, merge

# merges into a scratch table before the query starts: the merge path's
# first and second runs are both slower than the rest
WARM_MERGES = 2
SCHEMA_DDL = ("account_id string, balance double, sequence_number long, "
              "last_modified_ledger long, ledger_entry_change long, deleted boolean")


# Key-read probes racing the commits. A format("snapshot") read costs about
# four scan_snapshot reads; at these rates the two readers' walls add up
# to under one second per second, so a read never waits for the last one
SCAN_READS_PER_S = 1.0
FORMAT_READS_PER_S = 0.25
FILES_PER_S = 5


def scale(smoke: bool) -> dict:
    if smoke:
        return {"events_per_s": 50, "accounts": 1000, "buckets": 4, "trigger_s": 2}
    # e2e.py's window volume in real time (150k changes / 600 s), on its
    # key domain; 8 buckets as the package's CLI state merge
    return {"events_per_s": gen.WINDOW_CHANGES // gen.WINDOW_S, "accounts": gen.ACCOUNTS, "buckets": 8,
            "trigger_s": 5}


def batch_files(ckpt: str, epoch: int) -> list[str]:
    """Files the file source assigned to micro-batch ``epoch``, from its
    metadata log (plain or compacted)."""
    log = os.path.join(ckpt, "sources", "0")
    for path in (os.path.join(log, str(epoch)), *sorted(glob.glob(os.path.join(log, "*.compact")))):
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the log version
        out = [e["path"] for e in map(json.loads, lines) if e.get("batchId") == epoch]
        if out:
            return out
    return []


def run(args, tr: C.Tracer, t_start: float) -> dict:
    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.sources import snapshot_source
    from stellar_etl_airflow_spark.streaming.microbatch import stream_ndjson
    from pyspark.sql import functions as F, types as T

    sc = scale(args.smoke)
    rng = np.random.default_rng(args.seed)
    n_acc = sc["accounts"]
    per_file = sc["events_per_s"] // FILES_PER_S
    period = 1.0 / FILES_PER_S
    n_files = int(round(args.seconds * FILES_PER_S))
    # set-up runs one micro-batch of the measured shape (a trigger
    # interval's files), and the scratch merges take as many rows: a
    # smaller warm-up leaves the first measured micro-batch up to twice
    # as slow as the rest
    n_warm = sc["trigger_s"] * FILES_PER_S
    # all change rows are drawn before the clock starts
    t_gen = time.time()
    warm = [gen.account_changes(rng, n_acc, per_file * n_warm, 10 + i, 1, 0) for i in range(WARM_MERGES)]
    batches = [gen.account_changes(rng, n_acc, per_file, 1000 + i, 1, i * per_file) for i in range(n_warm + n_files)]
    read_keys = np.char.add("G", rng.integers(0, n_acc, 10_000).astype(str))
    gen_s = time.time() - t_gen

    setup0 = time.time()
    spark = C.build_session(tr, "perfbench-stream_ingest", warm_ds=True)
    landing = os.path.join(C.WORK, "landing")
    ckpt = os.path.join(C.WORK, "checkpoint")
    table = os.path.join(C.WORK, "wh", "accounts_state")
    os.makedirs(landing)
    schema = T._parse_datatype_string(SCHEMA_DDL)

    lock = threading.Lock()
    due_of: dict[str, float] = {}  # landed file name -> due time
    rows_of: dict[str, int] = {}
    # one latency per file: every file has the same row count
    lat: list[float] = []
    rows_done = [0]
    sink_walls: list[float] = []
    committed = [0]
    problems: list[str] = []
    ops = {"n": 0, "failed": 0}

    def sink(batch_df, epoch_id):
        names = [os.path.basename(p) for p in batch_files(ckpt, epoch_id)]
        try:
            with tr.span("streaming", "streaming.sink_s") as sp:
                merge(spark, tr, batch_df, table, sc["buckets"], f"stream-{epoch_id}",
                      sum(rows_of.get(n, 0) for n in names))
        except Exception as exc:  # the query would stop; count and re-raise
            with lock:
                ops["failed"] += 1
                problems.append(f"micro-batch {epoch_id}: {type(exc).__name__}: {exc}"[:300])
            raise
        with lock:
            ops["n"] += 1
            sink_walls.append(sp.wall)
            for n in names:
                if n in due_of:
                    lat.append(sp.t1 - due_of[n])
                    rows_done[0] += rows_of[n]
                    committed[0] += 1

    def land(i: int, due: float) -> None:
        name = f"{i:06d}.json"
        gen.write_ndjson(os.path.join(landing, name), batches[i])
        with lock:
            due_of[name] = due
            rows_of[name] = per_file

    warm_dir = os.path.join(C.WORK, "warmup")
    os.makedirs(warm_dir)
    for i, cols in enumerate(warm):
        path = os.path.join(warm_dir, f"{i:06d}.json")
        gen.write_ndjson(path, cols)
        merge(spark, tr, spark.read.schema(schema).json(path), os.path.join(warm_dir, "state"),
              sc["buckets"], f"warm-{i}", per_file * n_warm)

    def read_one(kind: str, key: str) -> list:
        if kind == "scan_snapshot":
            with tr.span("sinks.snapshots", "snapshots.read_s", table=table):
                return S.scan_snapshot(spark, table, [("account_id", "=", key)]).select(*STATE_COLS).collect()
        with tr.span("sources.snapshot_source", "snapshot_source.read_s", table=table):
            return (spark.read.format(snapshot_source.FORMAT_NAME).option("path", table).load()
                    .where(F.col("account_id") == key).select(*STATE_COLS).collect())

    # one micro-batch of warm-up files, run at start, pays the streaming
    # path's cold start,
    for i in range(n_warm):
        land(i, time.time())
    with tr.span("streaming", "streaming.start_s"):
        query = (stream_ndjson(spark, landing, schema).writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(processingTime=f"{sc['trigger_s']} seconds").start())
    while committed[0] < n_warm and query.isActive and time.time() - setup0 < 90:
        time.sleep(0.05)
    if committed[0] < n_warm:
        raise RuntimeError(f"streaming warm-up batch never committed: {query.exception()}")
    # and one read of each kind pays the read paths' first use
    snapshot_source.register(spark)
    for kind in ("scan_snapshot", "format_snapshot"):
        read_one(kind, str(read_keys[-1]))
    setup_s = (setup0 - t_start - gen_s) + (time.time() - setup0)
    tr.in_setup = False
    lat.clear()
    sink_walls.clear()
    rows_done[0] = 0

    stop = threading.Event()
    backlog = [0]
    late: list[float] = []
    reads: dict[str, list[float]] = {"scan_snapshot": [], "format_snapshot": []}

    def generator(t0: float) -> None:
        for i in range(n_warm, n_warm + n_files):
            due = t0 + (i - n_warm) * period
            if stop.wait(max(0.0, due - time.time())):
                return
            late.append(time.time() - due)
            land(i, due)
            with lock:
                backlog[0] = max(backlog[0], i + 1 - committed[0])

    def reader(t0: float, kind: str, per_s: float, keys) -> None:
        """Key reads due every ``1/per_s`` seconds, timed from when due."""
        i = 0
        while True:
            due = t0 + i / per_s
            if stop.wait(max(0.0, due - time.time())):
                return
            key = str(keys[i % len(keys)])
            i += 1
            try:
                rows = read_one(kind, key)
                wall = time.time() - due
                bad = len(rows) > 1 or any(r[0] != key for r in rows)
                err = f"{kind} {key}: {rows}" if bad else None
            except Exception as exc:
                wall, bad, err = time.time() - due, True, f"{kind} {key}: {type(exc).__name__}: {exc}"[:300]
            with lock:
                ops["n"] += 1
                if bad:
                    ops["failed"] += 1
                    problems.append(err)
                else:
                    reads[kind].append(wall)

    # Triggers fire on wall-clock multiples of the interval; starting the
    # schedule just after one fixes each file's wait for its micro-batch,
    # so run-to-run differences come from the engine, not the phase.
    t0 = (time.time() // sc["trigger_s"] + 1) * sc["trigger_s"] + 0.05
    threads = [threading.Thread(target=generator, args=(t0,), name="generator"),
               threading.Thread(target=reader, args=(t0, "scan_snapshot", SCAN_READS_PER_S, read_keys)),
               threading.Thread(target=reader, args=(t0 + 0.5, "format_snapshot", FORMAT_READS_PER_S,
                                                     read_keys[::-1]))]
    for t in threads:
        t.start()
    threads[0].join()
    # drain: every landed file committed (bounded wait)
    drain_end = time.time() + 40
    while committed[0] < n_warm + n_files and query.isActive and time.time() < drain_end:
        time.sleep(0.05)
    stop.set()
    wall = time.time() - t0
    for t in threads[1:]:
        t.join()
    progress = query.recentProgress
    with tr.span("streaming", "streaming.stop_s"):
        query.stop()
    if committed[0] < n_warm + n_files:
        ops["failed"] += 1
        problems.append(f"drain: {committed[0]} of {n_warm + n_files} files committed; "
                        f"{query.exception()}")

    ops["n"] += 1
    chk = compare_state(S.read_snapshot(spark, table).select(*STATE_COLS), [landing])
    if chk:
        ops["failed"] += 1
        problems.extend(chk)

    triggers = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress
                if p.get("numInputRows", 0) > 0][1:]
    rows_pb = [p["numInputRows"] for p in progress if p.get("numInputRows", 0) > 0][1:]
    amp = C.space_amp(table)
    return {
        "spark": spark,
        "scale": {**sc, "files": n_files, "files_per_s": FILES_PER_S, "events_per_file": per_file, "micro_batches": len(sink_walls)},
        "ops": ops["n"], "failed": ops["failed"], "problems": problems,
        "setup_s": setup_s, "gen_s": gen_s,
        "op_walls": lat, "read_walls": reads["scan_snapshot"] + reads["format_snapshot"],
        "ops_per_s": rows_done[0] / wall,
        "state_space_amp": amp,
        "table": table,
        "streaming": {
            "streaming.start_s": sum(tr.walls("streaming.start_s", setup=True)),
            "streaming.trigger_s.p50": C.pct(triggers, 50),
            "streaming.sink_s.p50": C.pct(sink_walls, 50),
            "streaming.rows_per_batch": C.pct(rows_pb, 50),
            "streaming.backlog_files": backlog[0],
            "streaming.stop_s": sum(tr.walls("streaming.stop_s")),
        },
        "named": {
            **C.timing("event_latency_s", lat),
            "events_per_s": {"value": rows_done[0] / wall, "unit": "1/s", "n": rows_done[0]},
            **C.timing("read_s", reads["scan_snapshot"] + reads["format_snapshot"]),
            **C.timing("scan_read_s", reads["scan_snapshot"]),
            **C.timing("format_read_s", reads["format_snapshot"]),
            "state_space_amp": {"value": amp, "unit": "ratio", "n": 1},
            "generator_late_s.max": {"value": max(late) if late else None, "unit": "s", "n": len(late)},
        },
    }
