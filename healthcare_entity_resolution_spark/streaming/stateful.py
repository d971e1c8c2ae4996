"""Custom stateful streaming operator: first-seen exact dedup over a file
stream via ``applyInPandasWithState`` (the driver brief's "custom stateful
operators" surface).

Keyed by content digest, the operator keeps ``(first_id, occurrences)``
per key in managed state: the first arrival of a content hash is flagged
``is_new`` and becomes the canonical representative; every later arrival
(same batch or any later micro-batch) only bumps the occurrence count.
This is the streaming form of the batch exact-dedup pre-pass
(pipeline.py:43-56) — the state store plays the role of the committed
``reps`` snapshot, and Structured Streaming checkpointing makes it
exactly-once across restarts.

At scale the state is hash-partitioned by the grouping key across
executors (RocksDB state store on a real cluster) — no driver-side state,
no growth bound other than distinct keys.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_OUTPUT_SCHEMA = (
    "content_sha string, first_id string, occurrences bigint, is_new boolean"
)
_STATE_SCHEMA = "first_id string, occurrences bigint"


def dedup_first_seen(stream_df: DataFrame) -> DataFrame:
    """``stream_df`` is a STREAMING frame carrying ``file_id`` +
    ``content_sha``.  Emits one row per key per micro-batch in which the key appears:
    ``(key, first_id, cumulative occurrences, is_new)`` (update mode)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = 0
        min_id = None
        for pdf in pdfs:
            n += len(pdf)
            batch_min = pdf["file_id"].min()
            if min_id is None or batch_min < min_id:
                min_id = batch_min
        if state.exists:
            first_id, occ = state.get
            is_new = False
        else:
            first_id, occ, is_new = min_id, 0, True
        occ += n
        state.update((first_id, occ))
        yield pd.DataFrame(
            [{
                "content_sha": key[0],
                "first_id": first_id,
                "occurrences": occ,
                "is_new": is_new,
            }]
        )

    return (
        stream_df.select("content_sha", "file_id")
        .groupBy("content_sha")
        .applyInPandasWithState(
            update,
            FIRST_SEEN_OUTPUT_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
