"""Custom stateful streaming operators via ``applyInPandasWithState``.

Two operators the built-in state machinery can't express directly:

1. **TTL-suppression dedup** — the reference's ``ChangeEventDeduplicator``
   (src/ingestion/change_detection.py:93-134): the FIRST event per key is
   emitted and opens a suppression window; every later event with the
   same key inside ``ttl`` is dropped; after the window expires the next
   event is emitted again and re-opens it. This is *not*
   ``dropDuplicatesWithinWatermark`` (whose per-key state lives exactly
   one watermark delay); the reference's window restarts from the last
   *emitted* event, which needs explicit state.
2. **Running per-key totals** — monotonically increasing lifetime
   aggregates (count / sum) per key emitted every micro-batch, the
   streaming form of a slowly-updated dimension stat.

State is one tiny tuple per key in the state store (RocksDB/HDFS-backed
per shuffle partition at scale); expired keys are garbage-collected with
event-time timeouts — the Spark-native version of the reference's lazy
``_cleanup_expired_keys`` sweep (change_detection.py:119-134).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_EPOCH_US = "last_emit_us"


def ttl_dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    ttl_minutes: float = 60.0,
    watermark_delay: str = "60 minutes",
) -> DataFrame:
    """Emit the first event per key, suppress same-key events within
    ``ttl_minutes`` of the last *emitted* one (reference semantics:
    change_detection.py:100-117). Output schema == input schema.
    """
    out_schema = df.schema
    state_schema = T.StructType([T.StructField(_EPOCH_US, T.LongType())])
    ttl_us = int(ttl_minutes * 60 * 1_000_000)
    ts_field = ts_col
    cols = df.columns

    def _dedup(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # GC: suppression window long expired
            return
        last_us = state.get[0] if state.exists else None
        out = []
        batch = pd.concat(list(pdfs)).sort_values(ts_field, kind="stable")
        for _, row in batch.iterrows():
            ts_us = int(pd.Timestamp(row[ts_field]).value // 1_000)
            if last_us is None or ts_us - last_us >= ttl_us:
                out.append(row)
                last_us = ts_us
        if last_us is not None:
            state.update((last_us,))
            # drop the key's state once its window can no longer matter
            state.setTimeoutTimestamp((last_us + ttl_us) // 1_000)
        if out:
            yield pd.DataFrame(out)[cols]

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_totals_stream(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    watermark_delay: str = "60 minutes",
) -> DataFrame:
    """Per-key lifetime (count, sum) updated every micro-batch — custom
    state because built-in streaming aggregation cannot emit a running
    total per batch in append mode without window bounds."""
    out_schema = T.StructType(
        [
            *[df.schema[c] for c in key_cols],
            T.StructField("lifetime_events", T.LongType()),
            T.StructField("lifetime_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def _totals(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame([[*key, n, round(total, 2)]], columns=[*key_cols, "lifetime_events", "lifetime_value"])

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _totals,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

