"""Stateful streaming operators (SURVEY.md §2.7 upgrade path; guide:
'custom stateful operators').

``streaming_dedup``: exactly-once *semantic* dedup inside the stream —
emits only the first occurrence of each id per key, with the seen
(key, id) pairs held across micro-batches. It is Spark's native
streaming ``dropDuplicates``, which plans as
``StreamingDeduplicateExec``: the state lives in the JVM state store,
so a drain starts no Python worker and ships no Arrow batches. This is
the streaming analog of the MERGE ingest mode: where foreachBatch
dedups against the *sink*, this dedups in-flight (useful when the sink
is append-only, e.g. a message bus or immutable object store).

State growth: the seen set is unbounded by design here (exact dedup).
``dropDuplicatesWithinWatermark`` is the bounded-state option: it
expires a pair once the event-time watermark passes it, at the price
of letting a redelivery later than the watermark through.

Checkpoints: this operator's state layout differs from the
``applyInPandasWithState`` one it replaced, so a checkpoint written by
the old Python operator cannot be resumed; such a query needs a fresh
checkpoint location.

``streaming_running_totals`` stays on ``applyInPandasWithState``: a
per-key typed state (count + sum) emitted in update mode.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["streaming_dedup", "streaming_running_totals"]


def streaming_dedup(events: DataFrame, key_col: str = "user_id",
                    id_col: str = "event_id") -> DataFrame:
    """Keep the first occurrence of each ``id_col`` per ``key_col``."""
    return events.dropDuplicates([key_col, id_col])


def streaming_running_totals(events: DataFrame, key_col: str = "user_id",
                             value_col: str = "value") -> DataFrame:
    """Per-key running totals across micro-batches (typed state:
    count + sum), emitted once per batch per active key."""

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(s, 2)]}
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
