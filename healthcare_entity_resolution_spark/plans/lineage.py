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
    run_dir: str | None = None
    events: list[dict] = field(default_factory=list)

    def log(self, stage: str, **kv) -> None:
        row = {"stage": stage, "wall_time": time.time(), **kv}
        self.events.append(row)
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)
            with open(os.path.join(self.run_dir, "lineage_events.jsonl"), "a") as f:
                f.write(json.dumps(row, default=str) + "\n")

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
