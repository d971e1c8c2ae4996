"""Outside-in tracing of the engine's layers.

The program is measured from outside: while a traced pass runs, every
public function of each layer module is replaced by a wrapper defined here
(the library itself is unchanged).  A wrapper opens a span (layer, name,
start, end, parent), tags the Spark jobs it triggers with a job group of
its own, and materializes the DataFrame it returns (``persist`` + ``count``)
so the work a lazy layer defines is executed -- and timed -- inside that
layer's span.  When the pass ends, each span's job ids are read from
``statusTracker`` and their stage counters (tasks, executor run time,
shuffle write, output bytes) from Spark's status store.

A span's *self* time is its duration minus the time covered by its child
spans; layer totals sum self times, so the layers plus the root add up to
the traced wall time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

PKG = "healthcare_entity_resolution_spark"

# layer -> (module, public functions).  A function reached through another
# module's direct import (pruning's ``connected_components``) is patched
# there too; see ``Interposer``.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "normalize": ("operators.normalize",
                  ("normalize_files", "normalize_source", "union_sources")),
    "blocking": ("operators.blocking",
                 ("code_file_block_keys", "physician_block_keys", "candidate_pairs")),
    "scoring": ("operators.scoring", ("score_code_pairs", "score_physician_pairs")),
    "classify": ("operators.classify",
                 ("classify", "determine_match_type", "confirmed_matches")),
    "components": ("operators.components", ("connected_components",)),
    "pruning": ("operators.pruning",
                ("full_pruning", "prune_low_confidence_edges", "prune_id_conflicts",
                 "prune_oversized_clusters", "prune_weak_bridges")),
    "graph": ("operators.graph", ("build_edges",)),
    "canonicalize": ("operators.canonicalize",
                     ("canonical_entities", "source_canonical_mapping",
                      "entity_confidence", "record_confidence")),
    "network": ("operators.network",
                ("build_referral_graph", "pagerank", "referral_metrics")),
    "snapshots": ("plans.snapshots", ("SnapshotStore.append", "SnapshotStore.commit",
                                      "SnapshotStore.compact")),
    "incremental": ("streaming.incremental", ("micro_batch_resolve",)),
}

@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    checkpoint_bytes: int = 0
    # small extracts of the span's output taken while it is still cached
    # (``PROBES``); kept in memory only, not written out
    probe: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a file removed mid-walk (e.g. compaction)
                pass
    return total


class Tracer:
    """Spans kept in memory; written out by :meth:`write` when the run ends."""

    def __init__(self, spark, checkpoint_dir: str):
        self.sc = spark.sparkContext
        self.checkpoint_dir = checkpoint_dir
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # (span id, frame) of every materialized output still cached
        self._cached: list[tuple[int, DataFrame]] = []

    def open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), layer, name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench-{sp.id}", f"{layer}.{name}")
        return sp

    def close(self, sp: Span) -> None:
        """End ``sp`` and drop the caches its descendants made: spans nest,
        so every cached span id above ``sp.id`` is a closed descendant.  A
        cache must not outlive the call that made it -- a later read of a
        rewritten snapshot path would be served the stale cached rows."""
        sp.end = time.perf_counter()
        while self._cached and self._cached[-1][0] > sp.id:
            self._cached.pop()[1].unpersist(blocking=False)
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{top.id}", f"{top.layer}.{top.name}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Attach job/stage counters to every span (after the pass)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
            for jid in sp.jobs:
                job = store.job(jid)
                stage_ids = job.stageIds()
                for i in range(stage_ids.length()):
                    st = store.lastStageAttempt(stage_ids.apply(i))
                    if str(st.status()) == "SKIPPED":
                        continue
                    sp.stages += 1
                    sp.tasks += st.numCompleteTasks()
                    sp.task_s += st.executorRunTime() / 1000.0
                    sp.shuffle_write_bytes += st.shuffleWriteBytes()
                    sp.output_bytes += st.outputBytes()

    def self_s(self, sp: Span) -> float:
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.id)
        return (sp.end - sp.start) - kids

    def layer_metrics(self, cores: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            self_s = sum(self.self_s(s) for s in spans)
            task_s = sum(s.task_s for s in spans)
            out[f"{layer}.s"] = self_s
            out[f"{layer}.jobs"] = sum(len(s.jobs) for s in spans)
            out[f"{layer}.tasks"] = sum(s.tasks for s in spans)
            out[f"{layer}.task_s"] = task_s
            out[f"{layer}.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in spans) / 1e6
            out[f"{layer}.busy_share"] = task_s / (self_s * cores) if self_s > 0 else 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                row = asdict(sp)
                del row["probe"]
                row["self_s"] = self.self_s(sp)
                f.write(json.dumps(row) + "\n")


def _materialize(tracer: Tracer, sp: Span, value):
    """persist+count every DataFrame in the return value (a tuple's first
    frame gives the span's row count)."""
    if isinstance(value, tuple):
        return tuple(_materialize(tracer, sp, v) for v in value)
    if not isinstance(value, DataFrame):
        return value
    df = value.persist()
    n = df.count()
    if sp.rows is None:
        sp.rows = n
    tracer._cached.append((sp.id, df))
    return df


def _probe_scoring(sp: Span, df: DataFrame) -> None:
    rows = df.select("id_1", "id_2", "batch_ms").collect()
    sp.probe["pairs"] = [(min(a, b), max(a, b)) for a, b, _ in rows]
    sp.probe["batch_ms"] = [r[2] for r in rows]


def _probe_classify(sp: Span, df: DataFrame) -> None:
    if sp.name == "classify":
        sp.probe["decisions"] = dict(df.groupBy("decision").count().collect())


# layer -> extract taken from a span's output while it is cached; runs in
# a child span of layer "trace", so the layer's self time excludes it
PROBES = {"scoring": _probe_scoring, "classify": _probe_classify}


class Interposer:
    """Context manager that swaps each layer's public functions for traced
    wrappers and restores the originals on exit."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, name: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(layer, name)
            ck0 = dir_bytes(tracer.checkpoint_dir) if layer == "components" else 0
            try:
                out = _materialize(tracer, sp, fn(*args, **kwargs))
                if layer in PROBES and isinstance(out, DataFrame):
                    probe = tracer.open("trace", "probe")
                    try:
                        PROBES[layer](sp, out)
                    finally:
                        tracer.close(probe)
                return out
            finally:
                if layer == "components":
                    sp.checkpoint_bytes = dir_bytes(tracer.checkpoint_dir) - ck0
                tracer.close(sp)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self):
        import importlib

        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{modname}")
            for qual in names:
                owner, attr = mod, qual
                if "." in qual:
                    cls, attr = qual.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, attr)
                wrapped = self._wrap(layer, attr, orig)
                self._patch(owner, attr, wrapped)
                # direct ``from x import f`` bindings in other package modules
                for other in list(sys.modules.values()):
                    if (other is not None and other is not mod
                            and getattr(other, "__name__", "").startswith(PKG)
                            and getattr(other, attr, None) is orig):
                        self._patch(other, attr, wrapped)
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        return False
