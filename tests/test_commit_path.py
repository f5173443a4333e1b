"""State tables and the ``_meta`` lineage table commit through one path,
the manifest publish (sinks/snapshots.py ``_publish``). These tests
inject faults at that commit point and race the table-props pin:

- a manifest link that fails after the merge adopted its files leaves
  readers on the prior version, a replay lands exactly once, and vacuum
  reclaims the orphans;
- the same fault in ``cleanup_meta`` leaves the lineage rows unchanged;
- of two first writers pinning different layouts, the loser validates
  against the winner's pin instead of silently replacing it.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.merge import apply_changes, key_bucket, load_table_props
from stellar_etl_airflow_spark.sinks import snapshots as S

KEYS = ("account_id",)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "account_id long, balance double, last_modified_ledger long, ledger_entry_change int, deleted boolean"
    )


def _state(spark, path):
    return {r["account_id"]: r["balance"] for r in S.read_snapshot(spark, path).collect()}


def _fail_manifest_link(monkeypatch):
    """Make every manifest link raise, as a crash at the commit point
    would; returns the list the adopted (staged) files are recorded in."""
    real_adopt = S.adopt_staged
    staged: list[str] = []

    def adopt(stage, path):
        out = real_adopt(stage, path)
        staged.extend(out)
        return out

    def link(target, payload):
        raise OSError(f"injected: cannot link {os.path.basename(target)}")

    monkeypatch.setattr(S, "adopt_staged", adopt)
    monkeypatch.setattr(S, "_atomic_write_exclusive", link)
    return staged


def test_apply_changes_commit_failure_then_replay_lands_once(spark, tmp_path, monkeypatch):
    tbl = str(tmp_path / "state")
    apply_changes(spark, _changes(spark, [(i, float(i), 1, 1, False) for i in range(20)]), tbl, KEYS, n_buckets=4)
    n = S.latest_version(tbl)
    before = _state(spark, tbl)
    batch = _changes(spark, [(1, 100.0, 2, 1, False), (2, 0.0, 2, 1, True), (50, 5.0, 2, 1, False)])

    staged = _fail_manifest_link(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        apply_changes(spark, batch, tbl, KEYS, txn_id="b1")
    monkeypatch.undo()
    assert staged and all(os.path.exists(f) for f in staged)  # adopted, never committed
    # readers see exactly version N
    assert S.latest_version(tbl) == n
    assert _state(spark, tbl) == before

    # the replay lands exactly once
    v, touched = apply_changes(spark, batch, tbl, KEYS, txn_id="b1")
    assert v == n + 1 and touched
    assert apply_changes(spark, batch, tbl, KEYS, txn_id="b1") == (v, [])
    assert S.latest_version(tbl) == v
    want = {**{k: b for k, b in before.items() if k != 2}, 1: 100.0, 50: 5.0}
    assert _state(spark, tbl) == want

    # vacuum reclaims the failed attempt's orphans
    deleted = S.vacuum(tbl, keep_versions=1, orphan_retention_s=0)
    assert set(staged) <= set(deleted)
    assert not [f for f in staged if os.path.exists(f)]
    assert _state(spark, tbl) == want


def test_cleanup_meta_commit_failure_keeps_lineage(spark, tmp_path, monkeypatch):
    from stellar_etl_airflow_spark.operators.batch import BatchWindow
    from stellar_etl_airflow_spark.operators.ingest import Warehouse, record_batch_stats
    from stellar_etl_airflow_spark.operators.jobs import cleanup_meta

    wh = Warehouse(str(tmp_path / "wh"))
    t0 = datetime(2024, 1, 1)
    for i, start in enumerate((datetime(2024, 1, 1), datetime(2024, 6, 1))):
        record_batch_stats(spark, wh, BatchWindow(f"b{i}", t0, t0, t0, i, i), "accounts", start)
    path = wh.meta_path()
    n = S.latest_version(path)
    rows = sorted(S.read_snapshot(spark, path).collect())
    now = datetime(2024, 6, 2)

    _fail_manifest_link(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        cleanup_meta(spark, wh, older_than_days=30, now=now)
    monkeypatch.undo()
    assert S.latest_version(path) == n
    assert sorted(S.read_snapshot(spark, path).collect()) == rows

    assert cleanup_meta(spark, wh, older_than_days=30, now=now) == 1
    assert [r["batch_id"] for r in S.read_snapshot(spark, path).collect()] == ["b1"]


def test_props_pin_race_loser_validates_against_winner(spark, tmp_path, monkeypatch):
    """Two first writers pin ``_props.json``. The rival lands its pin
    between our check and our write: our exclusive create then fails,
    and we validate against the rival's pin like any later writer —
    adopting its ``n_buckets``, refusing its different ``keys``."""
    real_replace, real_link = S._atomic_write, S._atomic_write_exclusive

    def rival_pins_first(rival: dict):
        fired = []

        def wrap(real):
            def write(target, payload):
                if target.endswith("_props.json") and not fired:
                    fired.append(target)
                    real_replace(target, json.dumps(rival))
                return real(target, payload)

            return write

        monkeypatch.setattr(S, "_atomic_write", wrap(real_replace))
        monkeypatch.setattr(S, "_atomic_write_exclusive", wrap(real_link))

    layout = {"keys": ["account_id"], "deleted_col": "deleted",
              "order_cols": ["last_modified_ledger", "ledger_entry_change"],
              "stats_cols": [], "bloom_cols": []}
    # the rival pinned another bucket count: ours adopts it
    tbl = str(tmp_path / "a")
    rival_pins_first({**layout, "n_buckets": 8})
    apply_changes(spark, _changes(spark, [(i, float(i), 1, 1, False) for i in range(20)]), tbl, KEYS, n_buckets=4)
    monkeypatch.undo()
    assert load_table_props(tbl)["n_buckets"] == 8
    assert S.read_snapshot(spark, tbl).filter(F.col("_p") != key_bucket(KEYS, 8)).count() == 0

    # the rival pinned other keys: ours refuses instead of re-pinning
    tbl = str(tmp_path / "b")
    rival_pins_first({**layout, "keys": ["balance"], "n_buckets": 4})
    with pytest.raises(ValueError, match="keys="):
        apply_changes(spark, _changes(spark, [(1, 1.0, 1, 1, False)]), tbl, KEYS, n_buckets=4)
    monkeypatch.undo()
    assert load_table_props(tbl)["keys"] == ["balance"]
