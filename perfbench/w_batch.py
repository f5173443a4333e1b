"""``batch_cycle``: a catch-up backfill of consecutive 10-minute windows
into one warehouse, closed loop, one client.

Each window is the reference's load task: del/ins ingest of the window's
ledgers and account changes, the MVCC state merge, a state read, the
current-state view and its ordered Avro export read back. The run is
one fixed cycle: ``MAINT_EVERY`` windows, then maintenance (compaction,
vacuum, counter fold), so the work measured does not depend on how fast
the program is. Inputs are written before the clock starts.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import numpy as np

import common as C
import gen

MAINT_EVERY = 2
# the dbt marts refreshed after the catch-up
MARTS = ("q71_trade_volume_mart", "q73_liquidity_pool_value")
EXPORT_COLS = ["account_id", "balance", "sequence_number", "last_modified_ledger", "deleted", "closed_at"]
STATE_COLS = ["account_id", "balance", "sequence_number", "last_modified_ledger", "ledger_entry_change"]
T0 = datetime(2024, 1, 1, 10, 0)


# e2e.py's window volume is cut by this factor so that a run stays near a
# minute; the key domain and the bucket
# count (e2e.run's default) stay, so the state table is e2e's size
SHRINK = 5


def scale(smoke: bool) -> dict:
    if smoke:
        return {"changes_per_window": 2000, "accounts": 1000, "buckets": 4, "warmup_changes": 200,
                "mart_sf": 0.001}
    return {"changes_per_window": gen.WINDOW_CHANGES // SHRINK, "accounts": gen.ACCOUNTS, "buckets": 32,
            "warmup_changes": 1000, "mart_sf": 0.1 / SHRINK}


class Window:
    def __init__(self, i: int, run: str, root: str):
        from stellar_etl_airflow_spark.operators.batch import plan_batch

        self.w = plan_batch(f"{run}{i:03d}", T0 + timedelta(minutes=10 * i), T0 + timedelta(minutes=10 * (i + 1)))
        self.dir = os.path.join(root, f"w{i:03d}")
        self.acc = os.path.join(self.dir, "accounts")
        self.led = os.path.join(self.dir, "ledgers")
        self.rows = 0
        self.distinct = 0
        self.state_rows = 0


def make_windows(root: str, run: str, n: int, k: int, n_accounts: int, rng, state: dict | None) -> list[Window]:
    """``n`` windows of ``k`` changes each. ``state`` (key -> deleted flag
    of its latest change) is advanced to give each window's expected
    state-table row count."""
    out = []
    for i in range(n):
        win = Window(i, run, root)
        w = win.w
        os.makedirs(win.acc)
        os.makedirs(win.led)
        cols = gen.account_changes(rng, n_accounts, k, w.start_ledger, w.end_ledger - w.start_ledger + 1, i * k)
        gen.write_ndjson(os.path.join(win.acc, "part-00000.json"), cols)
        gen.ledgers_ndjson(os.path.join(win.led, "part-00000.json"), w.start_ledger, w.end_ledger, w.interval_start)
        win.rows = k
        win.distinct = len(np.unique(cols["account_id"]))
        if state is not None:
            # rows are in change order, so the last write per key wins
            state.update(zip(cols["account_id"].tolist(), cols["deleted"].tolist()))
            win.state_rows = sum(1 for d in state.values() if not d)
        out.append(win)
    return out


def run_window(spark, tr: C.Tracer, wh, win: Window, state_tbl: str, buckets: int) -> dict:
    from stellar_etl_airflow_spark.e2e import ACCOUNTS_SCHEMA, LEDGERS_SCHEMA
    from stellar_etl_airflow_spark.operators.ingest import ingest_batch
    from stellar_etl_airflow_spark.sinks import exports
    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.views import currentstate as CS

    w = win.w
    meta = ("batch_id", "batch_run_date", "batch_insert_ts")
    with tr.span("batch", "batch.window_s"):
        files0 = _data_files(wh) if tr.on else None
        with tr.span("operators.ingest", "ingest.s") as sp:
            led = ingest_batch(spark, wh, "history_ledgers", win.led, LEDGERS_SCHEMA, w, cluster_fields=("sequence",))
            acc = ingest_batch(spark, wh, "accounts", win.acc, ACCOUNTS_SCHEMA, w)
            sp.extra["rows"] = win.rows + (w.end_ledger - w.start_ledger + 1)
        if tr.on:
            sp.extra["files_written"] = len(_data_files(wh) - files0)
        chg, led = acc.drop(*meta), led.drop(*meta)
        version = merge(spark, tr, chg, state_tbl, buckets, w.batch_id, win.rows)
        with tr.span("sinks.snapshots", "snapshots.read_s", table=state_tbl):
            state_rows = S.read_snapshot(spark, state_tbl, version).count()
        with tr.span("sinks.exports", "exports.s") as sp:
            cur = CS.v_accounts_current(chg, led)
            dest = exports.avro_export_dir(os.path.join(wh.root, "_exports"), "accounts", w.interval_end)
            fmt = exports.export_slice(cur, EXPORT_COLS, "closed_at", w.interval_start, w.interval_end, dest)
            sp.extra["format"] = fmt
        with tr.span("sinks.exports", "exports.read_s") as sp:
            export_rows = exports.read_export(spark, fmt, dest).count()
            sp.extra["rows"] = export_rows
    return {"state_rows": state_rows, "export_rows": export_rows, "fmt": fmt}


def merge(spark, tr: C.Tracer, changes, table: str, buckets: int, txn_id: str, change_rows: int) -> int:
    """``apply_changes`` as an ``operators.merge`` span; traced, it also
    records the touched buckets and the rows in the files it rewrote."""
    from stellar_etl_airflow_spark.operators.merge import apply_changes

    before = _manifest_files(table) if tr.on else None
    with tr.span("operators.merge", "merge.s", table=table) as sp:
        version, touched = apply_changes(
            spark, changes, table, ("account_id",), n_buckets=buckets, txn_id=txn_id,
            stats_cols=("account_id", "last_modified_ledger"),
        )
    if tr.on:
        sp.extra.update(touched_buckets=len(touched), change_rows=change_rows,
                        rewritten_rows=_rows_in(_manifest_files(table) - before))
    return version


def maintenance(spark, tr: C.Tracer, wh, state_tbl: str) -> None:
    from stellar_etl_airflow_spark.operators.ingest import fold_ingest_counters
    from stellar_etl_airflow_spark.sinks import snapshots as S

    with tr.span("batch", "batch.maintenance_s"):
        before = _manifest_files(state_tbl) if tr.on else None
        with tr.span("sinks.snapshots", "snapshots.compact_s", table=state_tbl) as sp:
            S.compact_snapshot(spark, state_tbl)
        if tr.on:
            sp.extra["bytes_rewritten"] = sum(os.path.getsize(f) for f in _manifest_files(state_tbl) - before)
        with tr.span("sinks.snapshots", "snapshots.vacuum_s", table=state_tbl):
            S.vacuum(state_tbl, keep_versions=1)
        with tr.span("operators.ingest", "counters.fold_s"):
            fold_ingest_counters(spark, wh)


def _manifest_files(path: str) -> set:
    from stellar_etl_airflow_spark.sinks import snapshots as S

    if S.latest_version(path) is None:
        return set()
    return set(S.read_manifest(path, resolve=False).get("files") or [])


def _data_files(wh) -> set:
    out = set()
    for table in ("accounts", "history_ledgers"):
        for root, _dirs, files in os.walk(wh.path(table)):
            out.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


def _rows_in(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def final_state_check(spark, state_tbl: str, acc_dirs: list[str]) -> list[str]:
    """The state table must equal latest-per-key over every change, as
    DuckDB computes it from the NDJSON."""
    from stellar_etl_airflow_spark.sinks import snapshots as S

    return compare_state(S.read_snapshot(spark, state_tbl).select(*STATE_COLS), acc_dirs)


def compare_state(df, ndjson_dirs: list[str]) -> list[str]:
    import duckdb

    got = C.canon_hash(STATE_COLS, [tuple(r) for r in df.collect()])
    files = [os.path.join(d, f) for d in ndjson_dirs for f in sorted(os.listdir(d)) if f.endswith(".json")]
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(
            f"""
            WITH c AS (
              SELECT * FROM read_json({files!r}, format='newline_delimited', columns={{
                'account_id': 'VARCHAR', 'balance': 'DOUBLE', 'sequence_number': 'BIGINT',
                'last_modified_ledger': 'BIGINT', 'ledger_entry_change': 'BIGINT', 'deleted': 'BOOLEAN'}})
            ), l AS (
              SELECT *, row_number() OVER (PARTITION BY account_id
                ORDER BY last_modified_ledger DESC, ledger_entry_change DESC) AS rn FROM c
            )
            SELECT {", ".join(STATE_COLS)} FROM l WHERE rn = 1 AND NOT deleted
            """
        ).fetchall()
    finally:
        con.close()
    want = C.canon_hash(STATE_COLS, rows)
    return [] if got == want else [f"state mismatch: spark rows/hash {got} vs duckdb {want}"]


def run(args, tr: C.Tracer, t_start: float) -> dict:
    from stellar_etl_airflow_spark.operators.ingest import Warehouse

    sc = scale(args.smoke)
    rng = np.random.default_rng(args.seed)
    inputs = os.path.join(C.WORK, "inputs")
    # generation is outside every timed interval
    t_gen = time.time()
    warm = make_windows(os.path.join(inputs, "warmup"), "warm", 1, sc["warmup_changes"], sc["accounts"], rng, None)
    state: dict = {}
    wins = make_windows(os.path.join(inputs, "catchup"), "bc", MAINT_EVERY, sc["changes_per_window"],
                        sc["accounts"], rng, state)
    sf_dir = os.path.join(inputs, "tables")
    gen.write_events(sf_dir, sc["mart_sf"], args.seed)
    oracles = C.duck_oracles(sf_dir, MARTS)
    gen_s = time.time() - t_gen

    setup0 = time.time()
    spark = C.build_session(tr, "perfbench-batch_cycle", warm_ds=False)
    # one small window in a scratch warehouse: the cold JIT, codegen and
    # worker start-up a catch-up process pays once, charged to set-up
    wwh = Warehouse(os.path.join(C.WORK, "warmup-wh"))
    with tr.span("session", "session.warmup_s"):
        run_window(spark, tr, wwh, warm[0], wwh.path("accounts_state"), sc["buckets"])
        maintenance(spark, tr, wwh, wwh.path("accounts_state"))
    setup_s = (setup0 - t_start - gen_s) + (time.time() - setup0)
    tr.in_setup = False

    wh = Warehouse(os.path.join(C.WORK, "wh"))
    state_tbl = wh.path("accounts_state")
    ops = failed = 0
    problems: list[str] = []
    fmt = None
    c0 = time.time()
    for i, win in enumerate(wins):
        ops += 1
        try:
            r = run_window(spark, tr, wh, win, state_tbl, sc["buckets"])
            fmt = r["fmt"]
            bad = []
            if r["export_rows"] != win.distinct:
                bad.append(f"export rows {r['export_rows']} != view rows {win.distinct}")
            if r["state_rows"] != win.state_rows:
                bad.append(f"state rows {r['state_rows']} != expected {win.state_rows}")
        except Exception as exc:  # a failed window is a failed op
            bad = [f"{type(exc).__name__}: {exc}"[:300]]
        if bad:
            failed += 1
            problems.append(f"window {i}: " + "; ".join(bad))
    ops += 1
    try:
        maintenance(spark, tr, wh, state_tbl)
    except Exception as exc:
        failed += 1
        problems.append(f"maintenance: {type(exc).__name__}: {exc}"[:300])
    catchup_s = time.time() - c0
    amp = C.space_amp(state_tbl)
    rows = sum(w.rows for w in wins)

    # the mart refresh over the events table, in seed order
    mart_walls = []
    for i in rng.permutation(len(MARTS)):
        name = MARTS[i]
        ops += 1
        t = time.time()
        try:
            got = C.run_query(spark, tr, name, sf_dir)
        except Exception as exc:
            failed += 1
            problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            continue
        mart_walls.append(time.time() - t)
        if got != oracles[name]:
            failed += 1
            problems.append(f"{name}: rows/hash {got} != oracle {oracles[name]}")

    ops += 1
    chk = final_state_check(spark, state_tbl, [w.acc for w in wins])
    if chk:
        failed += 1
        problems.extend(chk)

    read_walls = tr.walls("snapshots.read_s")
    win_walls = tr.walls("batch.window_s")
    return {
        "spark": spark,
        "scale": {**sc, "windows": len(wins)},
        "ops": ops, "failed": failed, "problems": problems,
        "setup_s": setup_s,
        "gen_s": gen_s,
        "op_walls": win_walls,
        "read_walls": read_walls,
        "ops_per_s": rows / catchup_s,
        "state_space_amp": amp,
        "table": state_tbl,
        "named": {
            **C.timing("batch_s", win_walls),
            "batch_rows_per_s": {"value": rows / catchup_s, "unit": "rows/s", "n": rows},
            "state_space_amp": {"value": amp, "unit": "ratio", "n": 1},
            **C.timing("read_s", read_walls),
            **C.timing("query_s", mart_walls),
            "queries_per_min": {"value": 60 * len(mart_walls) / sum(mart_walls) if mart_walls else None,
                                "unit": "1/min", "n": len(mart_walls)},
        },
        "export_format": fmt,
    }
