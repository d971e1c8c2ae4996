"""Stage snapshots: resumable pipeline runs (north_rule).

The reference runs in one process with everything in RAM — a crash loses
all work.  Here every pipeline stage can commit its output DataFrame as an
atomic parquet snapshot under a run directory; a re-run with the same
``run_dir`` skips every stage whose snapshot already exists and resumes
from the first missing one (``SnapshotStore.stage``).  This module is
storage only and imports no operator: the resumable code-file pipeline is
``pipeline.resumable_resolve_files``, and the micro-batch stream
(streaming/incremental.py) uses the append-mode half below.

This is the Iceberg-snapshot pattern expressed over plain parquet (the only
table format in this container): write to ``_tmp_<name>``, then atomically
rename to ``<name>`` — readers never see partial output, and a killed job
leaves only a ``_tmp`` directory that the next run overwrites.  On a real
deployment each ``commit`` maps to an Iceberg table append / snapshot and
``load`` to a time-travel read; the orchestration below is unchanged.

Skip-completed-blocks (the finer-grained resume the north rule asks for) is
the same mechanism one level down: ``anti_join_completed`` drops work units
whose ids are already present in a committed output.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType


class SnapshotStore:
    """Atomic per-stage parquet snapshots under ``run_dir``."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        # the schema of every snapshot this store has read or written, so a
        # re-read skips Parquet schema inference (one Spark job per read);
        # an append-mode snapshot keeps the schema of its first delta
        self._schemas: dict[str, StructType] = {}

    def _read(self, name: str, *paths: str) -> DataFrame:
        reader = self.spark.read
        if name in self._schemas:
            reader = reader.schema(self._schemas[name])
        df = reader.parquet(*paths)
        self._schemas[name] = df.schema
        return df

    def _path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def _committed_dirs(self, name: str, prefix: str) -> dict[int, str]:
        """{id: path} of committed sub-dirs (own _SUCCESS) named
        ``<prefix>_<12-digit id>`` under the snapshot."""
        base = self._path(name)
        if not os.path.isdir(base):
            return {}
        out: dict[int, str] = {}
        for d in os.listdir(base):
            suffix = d.rsplit("_", 1)[1] if "_" in d else ""
            # non-numeric suffixes (stray dirs) are skipped, not a crash
            if (
                d.startswith(prefix + "_")
                and suffix.isdigit()
                and os.path.exists(os.path.join(base, d, "_SUCCESS"))
            ):
                out[int(suffix)] = os.path.join(base, d)
        return out

    def _deltas(self, name: str) -> list[str]:
        """Directories an append-mode read must union, in id order: the
        newest ``compact_<id>`` rewrite (if any) plus every ``delta_<i>``
        with i > id.  Older deltas/compacts are superseded — a compaction
        crash that leaves them behind cannot double-count rows."""
        deltas = self._committed_dirs(name, "delta")
        compacts = self._committed_dirs(name, "compact")
        floor = max(compacts) if compacts else -1
        paths = ([] if floor < 0 else [compacts[floor]]) + [
            p for i, p in sorted(deltas.items()) if i > floor
        ]
        return paths

    def exists(self, name: str) -> bool:
        if os.path.exists(os.path.join(self._path(name), "_SUCCESS")):
            return True
        return bool(self._deltas(name))

    def commit(self, df: DataFrame, name: str) -> DataFrame:
        """Write-then-rename commit; returns the re-read (materialized)
        frame so downstream stages read the snapshot, not the lineage."""
        final = self._path(name)
        tmp = self._path(f"_tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self._schemas[name] = df.schema
        return self._read(name, final)

    def has_delta(self, name: str, delta_id: int) -> bool:
        return os.path.exists(
            os.path.join(self._path(name), f"delta_{delta_id:012d}", "_SUCCESS")
        )

    def _max_id(self, name: str) -> int:
        ids = set(self._committed_dirs(name, "delta")) | set(
            self._committed_dirs(name, "compact")
        )
        return max(ids) if ids else -1

    def next_delta_id(self, name: str) -> int:
        return self._max_id(name) + 1

    def append(self, delta: pa.Table | DataFrame, name: str, delta_id: int) -> bool:
        """Idempotent append commit: one immutable delta directory per
        (name, delta_id) — the per-micro-batch write is O(batch), never
        O(corpus) (the Iceberg fast-append pattern over plain parquet).
        Replaying a delta_id that is already committed is a no-op; returns
        whether this call wrote.  A snapshot is either append-mode or
        whole-commit-mode — don't mix the two under one name.

        A delta is batch-sized, so the driver writes it as one Parquet file
        from Arrow, which costs no Spark job; a DataFrame delta is collected
        as Arrow first."""
        if self.has_delta(name, delta_id):
            return False
        if os.path.exists(os.path.join(self._path(name), "_SUCCESS")):
            # load() prefers a whole-commit base _SUCCESS and ignores every
            # delta, so appending into such a snapshot would silently drop
            # each newly ingested batch — refuse loudly (mirrors the epoch-
            # collision guard below)
            raise ValueError(
                f"append: snapshot {name!r} is whole-commit-mode (base "
                "_SUCCESS present); appends would be committed but never "
                "read. Use a different name or commit() the merged frame."
            )
        compacts = self._committed_dirs(name, "compact")
        if compacts and delta_id <= max(compacts):
            # reads start at the newest compaction (which covers every id
            # up to its own): a delta filed at or below it would be
            # committed but INVISIBLE — refuse loudly
            raise ValueError(
                f"append: delta id {delta_id} for {name!r} is covered by "
                f"the newest compaction ({max(compacts)}) and would never "
                "be read — use next_delta_id()"
            )
        base = self._path(name)
        os.makedirs(base, exist_ok=True)
        final = os.path.join(base, f"delta_{delta_id:012d}")
        tmp = self._path(f"_tmp_{name}_delta_{delta_id:012d}")
        if isinstance(delta, DataFrame):
            delta = delta.toArrow()
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(delta, os.path.join(tmp, "part-00000.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self._schemas.setdefault(name, from_arrow_schema(delta.schema))
        return True

    def compact(self, name: str) -> int:
        """Rewrite an append-mode snapshot's current view into a single
        ``compact_<id>`` directory so reads stop unioning per-batch deltas
        (the Delta-Lake/_last_checkpoint pattern).  Reads switch to the new
        compaction the moment its _SUCCESS lands; the superseded delta and
        compact directories are then deleted best-effort — a crash at ANY
        point leaves a readable, non-double-counting state (stragglers
        below the compaction floor are ignored by ``load``).  Returns the
        compaction id.  Single concurrent writer assumed (the foreachBatch
        driver), like every other commit here."""
        parts = self._deltas(name)
        if not parts:
            raise ValueError(f"compact: {name!r} has no committed deltas")
        # the compaction is named for the highest id it COVERS (not a fresh
        # id): the epoch sequence stays with the writer, so the next
        # micro-batch's append(new_id = covered_max + 1) never collides
        new_id = self._max_id(name)
        base = self._path(name)
        final = os.path.join(base, f"compact_{new_id:012d}")
        if [final] == parts:  # already fully compacted: no-op
            return new_id
        tmp = self._path(f"_tmp_{name}_compact_{new_id:012d}")
        self._read(name, *parts).write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            # e.g. a superseded compact whose best-effort rmtree deleted
            # _SUCCESS but not the dir — without this, every future
            # compaction's rename would raise forever
            shutil.rmtree(final)
        os.rename(tmp, final)
        for p in parts:  # superseded; unread even if deletion crashes
            shutil.rmtree(p, ignore_errors=True)
        return new_id

    def load(self, name: str) -> DataFrame:
        base = self._path(name)
        if not os.path.exists(os.path.join(base, "_SUCCESS")):
            deltas = self._deltas(name)
            if deltas:
                return self._read(name, *deltas)
        return self._read(name, base)

    def history(self, name: str) -> list[dict]:
        """Committed epochs of a snapshot, oldest first — the Iceberg
        snapshot-log analog.  Append-mode: one entry per live ``delta_<id>``
        / ``compact_<id>`` directory (a compaction entry covers every id up
        to its own, so ids below the newest compaction no longer appear:
        their history is physically gone).  Whole-commit-mode: a single
        ``commit`` entry."""
        base = self._path(name)
        if os.path.exists(os.path.join(base, "_SUCCESS")):
            return [{
                "id": 0, "kind": "commit",
                "committed_at": os.path.getmtime(os.path.join(base, "_SUCCESS")),
            }]
        entries = [
            {"id": i, "kind": "delta",
             "committed_at": os.path.getmtime(os.path.join(p, "_SUCCESS"))}
            for i, p in self._committed_dirs(name, "delta").items()
        ] + [
            {"id": i, "kind": "compact",
             "committed_at": os.path.getmtime(os.path.join(p, "_SUCCESS"))}
            for i, p in self._committed_dirs(name, "compact").items()
        ]
        return sorted(entries, key=lambda e: (e["id"], e["kind"]))

    def load_as_of(self, name: str, as_of_id: int) -> DataFrame:
        """Time travel: the append-mode snapshot's view as of epoch
        ``as_of_id`` (inclusive) — the union of the newest compaction at or
        below it plus every later delta up to it.  Raises when that history
        has been physically superseded (a newer compaction deleted the
        constituent deltas) or when an epoch in range was never committed —
        time travel never silently returns a DIFFERENT view than the one
        that existed at that epoch."""
        deltas = self._committed_dirs(name, "delta")
        compacts = self._committed_dirs(name, "compact")
        eligible = [i for i in compacts if i <= as_of_id]
        floor = max(eligible) if eligible else -1
        if not eligible and compacts:
            raise ValueError(
                f"load_as_of: epoch {as_of_id} of {name!r} predates the "
                f"oldest surviving compaction ({min(compacts)}) — its "
                "constituent deltas were compacted away"
            )
        need = [i for i in range(floor + 1, as_of_id + 1)]
        missing = [i for i in need if i not in deltas]
        if missing:
            raise ValueError(
                f"load_as_of: epoch(s) {missing} of {name!r} are not "
                "committed — cannot reconstruct the view at epoch "
                f"{as_of_id}"
            )
        paths = ([] if floor < 0 else [compacts[floor]]) + [
            deltas[i] for i in need
        ]
        if not paths:
            raise ValueError(f"load_as_of: {name!r} has no epoch {as_of_id}")
        return self._read(name, *paths)

    def stage(self, name: str, build) -> tuple[DataFrame, bool]:
        """Run ``build()`` and commit, or load the existing snapshot.
        Returns (df, resumed)."""
        if self.exists(name):
            return self.load(name), True
        return self.commit(build(), name), False


def anti_join_completed(work: DataFrame, store: SnapshotStore,
                        snapshot: str, key_cols: list[str]) -> DataFrame:
    """Drop work units already present in a committed snapshot — the
    skip-completed-blocks half of resume."""
    if not store.exists(snapshot):
        return work
    done = store.load(snapshot).select(*key_cols).distinct()
    return work.join(done, key_cols, "left_anti")
