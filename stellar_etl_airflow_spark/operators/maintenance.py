"""Table maintenance: small-file compaction with optional sort clustering
for plain directory tables.

A 10-minute ingest cadence (history_tables_dag.py:43) writing per-batch
partitions produces thousands of small parquet files per month at 100 TB —
the classic lake small-file problem: scan tasks go seek-bound and the
name-node/listing cost dominates planning. BigQuery hides this behind its
managed storage; on parquet it is an explicit maintenance job (the
OPTIMIZE/compaction analog of Delta/Iceberg, which are absent in this
container by design — see README).

``compact_table`` walks the physical partition tree to its leaf
directories (e.g. ``_p=2024-01/batch_id=.../``), and rewrites each leaf
whose file count exceeds the bin-packed target, sized from the leaf's
actual bytes. Optional ``sort_cols`` applies ``sortWithinPartitions``
(z-order-lite clustering: range-correlated columns end up co-located, so
min/max row-group pruning works after compaction).

These tables have no manifest: readers list the directory, so a leaf can
only be replaced by swapping directories. Each leaf rewrite goes through
:func:`safe_overwrite` (write a sibling, then two renames), and a crash
between the renames leaves a ``.bak-`` backup that
``Warehouse.recover`` restores, so compaction never loses a partition.
Spark's dynamic partition overwrite can also rewrite a leaf it reads
from, but a process death between its commit-time delete and rename
loses the leaf with no backup to recover. Versioned tables (state
tables, ``_meta`` tables) never take this path: they compact with
``snapshots.compact_snapshot``, which commits through the manifest log.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

#: backup-directory prefix. Dot-prefixed so Spark/Hadoop path filters skip
#: it during partition discovery — a crash that leaves a backup nested deep
#: in a partition tree (e.g. mid-compaction) must not surface as a bogus
#: partition value or duplicate rows in table scans.
BACKUP_PREFIX = ".bak-"


def backup_path(path: str) -> str:
    """Sibling backup dir used by :func:`safe_overwrite` during the swap."""
    parent, name = os.path.split(os.path.abspath(path))
    return os.path.join(parent, BACKUP_PREFIX + name)


def recover_overwrite(path: str) -> bool:
    """Recover from a ``safe_overwrite`` interrupted between its two
    renames: if only the ``.bak-<name>`` sibling exists, the new directory
    never landed — rename the old data back. Returns True if a recovery
    happened. Call at startup (``Warehouse.recover`` runs it across the
    whole tree) before reading tables."""
    old = backup_path(path)
    if os.path.isdir(old) and not os.path.exists(path):
        os.rename(old, path)
        return True
    return False


def safe_overwrite(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Copy-on-write directory rewrite: write to a temp dir, then swap.
    Plain parquet cannot be read and overwritten in one job; Delta/Iceberg
    do this natively via the transaction log.

    Crash-safety: the temp dir is a SIBLING of ``path`` (same filesystem),
    so both swap steps are atomic ``os.rename`` calls — never a recursive
    copy. The only non-atomic window is between the two renames; a crash
    there leaves ``.bak-<name>`` holding the full previous directory, which
    :func:`recover_overwrite` restores on startup. The backup is deleted
    only after the new directory is in place, and its dot prefix keeps it
    invisible to Spark partition discovery even when ``path`` is a leaf
    deep inside a partition tree."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".merge-tmp-{uuid.uuid4().hex}")
    old = backup_path(path)
    try:
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(old):
            shutil.rmtree(old)  # leftover from a prior completed swap
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
    except BaseException:
        # failed before the final rename: put the previous directory back
        # and drop the partial temp output
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(old):
        shutil.rmtree(old)


def _leaf_dirs(root: str) -> list[str]:
    leaves = []
    for dirpath, _dirnames, filenames in os.walk(root):
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return sorted(leaves)


def _dir_stats(leaf: str) -> tuple[int, int]:
    files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(leaf, f)) for f in files)
    return len(files), size


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_cols: tuple[str, ...] = (),
    min_files: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact every leaf partition directory of ``path`` down to
    ``ceil(bytes / target_file_mb)`` files. Leaves with fewer than
    ``min_files`` files are left untouched. Returns
    ``{leaf: (files_before, files_after)}`` for the rewritten leaves."""
    results: dict[str, tuple[int, int]] = {}
    target = target_file_mb * 1024 * 1024
    for leaf in _leaf_dirs(path):
        n_files, size = _dir_stats(leaf)
        n_target = max(1, math.ceil(size / target))
        if n_files < min_files or n_target >= n_files:
            continue
        df = spark.read.parquet(leaf).repartition(n_target)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        safe_overwrite(spark, df, leaf)
        results[leaf] = (n_files, _dir_stats(leaf)[0])
    return results
