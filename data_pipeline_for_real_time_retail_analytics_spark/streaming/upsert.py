"""Continuous merge-upsert: a Structured Streaming sink that folds each
micro-batch of CDC events into a keyed current-state table.

This is the streaming form of the reference's declared-but-stubbed
``incremental_strategy: merge`` (reference: sample_pipeline.yaml:93-94)
— the batch operators live in operators/transform.py; here a
``foreachBatch`` body applies them per micro-batch:

    stream ──▶ micro-batch ──▶ apply_changelog(target, batch) ──▶ swap

The target is a plain parquet directory updated by write-to-new +
rename-swap (a parquet path can't be overwritten while being read).
The two renames are not jointly atomic, so every batch begins with
crash recovery: if ``target`` is missing but a ``__old_<epoch>``
sibling exists, the pre-swap state is restored before merging —
a crash between the renames can no longer silently reset the state
table to empty. Stale ``__old_*`` / ``__epoch_*`` leftovers from
crashes at other points are swept (single-writer: foreachBatch
serializes batches, so the sweep can't race another writer).

Exactly-once: checkpoint replay re-runs an uncommitted batch and
``apply_changelog`` is last-writer-wins, so re-merging is idempotent.
Readers should tolerate a brief missing-path window during the swap;
on a Delta/Iceberg-equipped cluster the body becomes a single
``MERGE INTO`` and both the swap and the window disappear; the call
signature stays.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.transform import apply_changelog
from ..sources.registry import read_reusing_schema


def _swap_siblings(target_path: str) -> tuple[list[str], list[str]]:
    """(old_dirs, epoch_dirs) left next to ``target_path`` by prior swaps."""
    parent = os.path.dirname(target_path) or "."
    base = os.path.basename(target_path)
    olds: list[str] = []
    epochs: list[str] = []
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(f"{base}__old_"):
                olds.append(os.path.join(parent, name))
            elif name.startswith(f"{base}__epoch_"):
                epochs.append(os.path.join(parent, name))
    return olds, epochs


def _epoch_of(path: str) -> int:
    try:
        return int(path.rsplit("_", 1)[-1])
    except ValueError:
        return -1


def recover_swap(target_path: str) -> None:
    """Repair the state directory after a crash mid-swap.

    - target missing + ``__old_*`` present: the crash hit between
      ``rename(target, old)`` and ``rename(tmp, target)`` — restore the
      newest pre-swap state (the interrupted batch was never committed
      to the checkpoint and will be replayed, so re-merging is safe).
    - anything else left over (``__old_*`` after a completed swap,
      ``__epoch_*`` tmp writes): stale — remove.
    """
    olds, epochs = _swap_siblings(target_path)
    if not os.path.exists(target_path) and olds:
        newest = max(olds, key=_epoch_of)
        os.rename(newest, target_path)
        olds.remove(newest)
    for stale in olds + epochs:
        shutil.rmtree(stale, ignore_errors=True)


def streaming_merge_sink(
    spark: SparkSession,
    target_path: str,
    keys: list[str],
    ts_col: str,
    op_col: str,
    tiebreak_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: merge each micro-batch into the state table at
    ``target_path``.

    The body reads the state with the schema of the frame it last
    swapped in, so only its first batch in a process infers one. A
    crash between the renames leaves that swap undone, and the schema
    is recorded only once it completes, so the state ``recover_swap``
    restores is the one the recorded schema describes."""
    written: StructType | None = None  # schema of the last state swapped in

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal written
        if not batch_df.head(1):
            return  # skip-if-no-changes (reference: operators.py:74-80)
        recover_swap(target_path)
        value_cols = [
            c for c in batch_df.columns
            if c not in set(keys) | {ts_col, op_col}
            and (tiebreak_col is None or c != tiebreak_col)
        ]
        if os.path.exists(target_path):
            base = read_reusing_schema(
                spark.read.format("parquet"), target_path, declared=written
            )
        else:
            base = batch_df.select(*keys, *value_cols).limit(0)
        merged = apply_changelog(
            base, batch_df, keys, ts_col, op_col, tiebreak_col=tiebreak_col
        )
        tmp = f"{target_path}__epoch_{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{target_path}__old_{epoch_id}"
        if os.path.exists(target_path):
            os.rename(target_path, old)
        os.rename(tmp, target_path)
        written = merged.schema
        shutil.rmtree(old, ignore_errors=True)

    return _merge
