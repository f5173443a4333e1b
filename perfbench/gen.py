"""Seeded input generation for the benchmark workloads.

Everything a workload feeds the engine is made here from ``--seed``: the
``events`` table the dbt marts read (same columns, types and value
domains as the repository's test tables) and the account-change streams
that the batch and streaming workloads apply. The same seed always gives
byte-identical inputs.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(start: datetime, micros: np.ndarray) -> pa.Array:
    base = int((start - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + micros.astype("int64"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_events(out_dir: str, sf: float, seed: int) -> int:
    """Write ``<out_dir>/events.parquet``: 1M rows per unit of ``sf``, as
    in the repository's test tables. Returns the row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 66)
    day = 86_400_000_000
    tab = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
    })
    pq.write_table(tab, os.path.join(out_dir, "events.parquet"))
    return tab.num_rows


# The load both change workloads derive from: the repository's end-to-end
# batch (stellar_etl_airflow_spark/e2e.py, ``prepare``) maps the sf0.1
# orders table onto one 10-minute window of account changes, 150k changes
# ("the same order of magnitude as a real 10-minute ledger window").
# Account ids are ``o_custkey``, uniform over the 15k customers of sf0.1,
# and ``o_orderkey % 97 == 0`` marks a deletion.
WINDOW_CHANGES = 150_000
WINDOW_S = 600
ACCOUNTS = 15_000
DELETE_SHARE = 1 / 97


def account_changes(
    rng: np.random.Generator,
    n_accounts: int,
    n: int,
    start_ledger: int,
    n_ledgers: int,
    seq0: int,
) -> dict[str, np.ndarray]:
    """``n`` account-change rows over ledgers ``[start_ledger,
    start_ledger + n_ledgers)``, on account ids drawn uniformly from
    ``n_accounts`` like ``o_custkey``. ``ledger_entry_change`` is the
    row's global position ``seq0 + i``, so the change order within one
    key is total and latest-per-key is unambiguous."""
    pos = np.arange(n, dtype="int64")
    return {
        "account_id": np.char.add("G", rng.integers(0, n_accounts, n).astype(str)),
        "balance": _money(rng, 0.0, 1_000_000.0, n),
        "sequence_number": rng.integers(1, 1 << 40, n),
        "last_modified_ledger": start_ledger + pos * n_ledgers // max(n, 1),
        "ledger_entry_change": seq0 + pos,
        "deleted": rng.random(n) < DELETE_SHARE,
    }


def write_ndjson(path: str, cols: dict[str, np.ndarray]) -> None:
    """One NDJSON file, written under a hidden name and renamed into place
    so a file-source stream never sees it half-written."""
    import pandas as pd

    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pd.DataFrame(cols).to_json(tmp, orient="records", lines=True, double_precision=15)
    os.rename(tmp, path)


def ledgers_ndjson(path: str, start_ledger: int, end_ledger: int, interval_start: datetime) -> None:
    """The window's ledgers: one every 5 s from ``interval_start``."""
    seq = np.arange(start_ledger, end_ledger + 1, dtype="int64")
    closed = [
        (interval_start + timedelta(seconds=5 * int(s - start_ledger))).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        for s in seq
    ]
    write_ndjson(path, {
        "sequence": seq,
        "ledger_hash": np.array([f"{int(s):064x}" for s in seq]),
        "closed_at": np.array(closed),
        "transaction_count": seq % 1000,
    })
