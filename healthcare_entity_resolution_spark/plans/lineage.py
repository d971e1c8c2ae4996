"""Per-stage lineage + metrics (north_rule: "every stage writes per-partition
lineage rows (block id, pair count, score-batch latency) and metrics").

The reference has nothing like this (single process, in-memory); here each
stage appends small DataFrames to a lineage directory so an interrupted run
can resume (see sources/snapshots.py) and so truncation (hot-block caps) is
never silent.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class LineageLog:
    """Structured run events.  Without a ``run_dir`` they are kept in
    ``events``; with one they are appended to
    ``<run_dir>/lineage_events.jsonl`` only, so a long-lived process (the
    stream) does not grow memory with every event — ``read_events`` reads
    back the ones this log wrote."""

    run_dir: str | None = None
    events: list[dict] = field(default_factory=list)

    def __post_init__(self) -> None:
        # where this log's events start in a file earlier runs may share
        path = self._path()
        self._offset = os.path.getsize(path) if path and os.path.exists(path) else 0

    def _path(self) -> str | None:
        return os.path.join(self.run_dir, "lineage_events.jsonl") if self.run_dir else None

    def log(self, stage: str, **kv) -> None:
        row = {"stage": stage, "wall_time": time.time(), **kv}
        if not self.run_dir:
            self.events.append(row)
            return
        os.makedirs(self.run_dir, exist_ok=True)
        with open(self._path(), "a") as f:
            f.write(json.dumps(row, default=str) + "\n")

    def read_events(self) -> list[dict]:
        """Every event this log has logged, oldest first."""
        path = self._path()
        if not path:
            return list(self.events)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            f.seek(self._offset)
            return [json.loads(line) for line in f]

    def write_table(self, df: DataFrame, name: str) -> None:
        """Persist a per-partition/per-block lineage table (e.g. block sizes,
        pairs per block, score-batch latencies)."""
        if self.run_dir:
            out = os.path.join(self.run_dir, f"lineage_{name}.parquet")
            df.write.mode("overwrite").parquet(out)
            self.log("lineage_table", table=name, path=out)

    def metric(self, name: str, value) -> None:
        self.log("metric", metric=name, value=value)


class _NullLineage(LineageLog):
    """The sink for callers that pass no log: keeps and writes nothing, so a
    long-lived process that never asked for lineage does not accumulate
    events."""

    def log(self, stage: str, **kv) -> None:
        pass

    def write_table(self, df: DataFrame, name: str) -> None:
        pass


NULL_LINEAGE = _NullLineage()
