"""The benchmark's workloads.

Each workload generates its inputs from the seed at construction (that is
part of set-up), then runs measured *units* -- one unit is the work a user
waits for: a full resolution pass, or a sequence of stream micro-batches.
Ground truth stays in the benchmark; the program only receives the raw
frames.  ``check`` verifies a unit's outputs; ``quality`` scores them.
"""

from __future__ import annotations

import inspect
import itertools
import os
import shutil
import statistics
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
from healthcare_entity_resolution_spark.corpus import generate_files_corpus
from healthcare_entity_resolution_spark.operators import network as NW
from healthcare_entity_resolution_spark.operators import normalize as N
from healthcare_entity_resolution_spark.pipeline import resolve_physicians
from healthcare_entity_resolution_spark.plans.lineage import LineageLog
from healthcare_entity_resolution_spark.plans.snapshots import SnapshotStore
from healthcare_entity_resolution_spark.streaming import incremental as INC

import gen
from spans import Tracer

FILE_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def true_pairs(groups: dict[str, list[str]]) -> set[tuple[str, str]]:
    out = set()
    for ids in groups.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            out.add((a, b))
    return out


def cluster_f1(assign: dict[str, str], truth: dict[str, str]) -> float:
    """Pairwise F1 of a clustering against ground truth (contingency form)."""
    cont = Counter((assign[i], truth[i]) for i in assign)
    pred = Counter(assign.values())
    true = Counter(truth[i] for i in assign)

    def c2(n):
        return n * (n - 1) / 2

    tp = sum(c2(n) for n in cont.values())
    pp = sum(c2(n) for n in pred.values())
    tt = sum(c2(n) for n in true.values())
    p = tp / pp if pp else 1.0
    r = tp / tt if tt else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


def f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


def decision_f1(decisions, truth: dict[str, str]) -> float:
    """Labeled-pair F1 of MATCH decisions over (id_1, id_2, decision) rows."""
    tp = fp = fn = 0
    for a, b, d in decisions:
        same = truth[a] == truth[b]
        match = d == "match"
        tp += same and match
        fp += match and not same
        fn += same and not match
    return f1(tp, fp, fn)


class Workload:
    """Base: subclasses set ``records`` and implement the hooks."""

    records: int
    # set-ups per untraced run; setup_s is their median
    SETUP_REPS = 3

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cfg = DEFAULT_CONFIG
        self.inputs = []

    def unit(self, lineage: LineageLog) -> dict:
        """Run one measured unit; returns at least ``latencies`` (seconds per
        batch) and ``assignments`` (sorted (id, component) pairs)."""
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    def quality(self, res: dict) -> tuple[float, float]:
        """(pair_f1, cluster_f1)"""
        raise NotImplementedError

    def blocking_universe(self, res: dict) -> tuple[dict[str, str], set[str]]:
        """(truth map of every id that could pair, ids new in this unit)."""
        raise NotImplementedError

    def keep(self, df):
        """Cache an input frame for the whole run (re-cached by ``release``)."""
        self.inputs.append(df)
        df.persist().count()
        return df

    def release(self, res: dict) -> None:
        """Drop everything a unit cached, keep the inputs cached."""
        self.spark.catalog.clearCache()
        for df in self.inputs:
            df.persist().count()


# ---------------------------------------------------------------------------


class CodeStream(Workload):
    """Base corpus committed through ``micro_batch_resolve`` at set-up; a unit
    is a fixed sequence of small micro-batches against a fresh copy of that
    committed state, with compaction at the stream's default cadence."""

    N_ENTITIES = 300
    BASE_SHARE = 0.85
    BATCH_FILES = 20
    BATCHES = 2
    # a set-up commits the base (~20 s cold); the run's time budget holds one
    SETUP_REPS = 1

    def __init__(self, spark, seed, work_dir):
        super().__init__(spark, seed, work_dir)
        pdf, labels = generate_files_corpus(self.N_ENTITIES, seed=seed)
        self.truth = dict(zip(labels["file_id"], labels["true_entity_id"]))
        base, waves = gen.split_stream(pdf, self.BASE_SHARE, self.BATCH_FILES, seed)
        self.waves = [self.keep(spark.createDataFrame(w[FILE_COLUMNS]))
                      for w in waves[: self.BATCHES]]
        self.wave_ids = [list(w["file_id"]) for w in waves[: self.BATCHES]]
        self.base_ids = list(base["file_id"])
        self.records = sum(len(w) for w in self.wave_ids)
        # the stream's own default cadence (incremental_resolution_stream)
        self.compact_every = inspect.signature(
            INC.incremental_resolution_stream).parameters["compact_every"].default
        # the base is committed as the epoch just before a sequence whose
        # batch BATCHES // 2 (0-based) triggers compaction, so every unit
        # compacts exactly once
        self.first_epoch = self.compact_every - 1 - self.BATCHES // 2
        self.template = os.path.join(work_dir, "stream_template")
        shutil.rmtree(self.template, ignore_errors=True)
        base_df = spark.createDataFrame(base[FILE_COLUMNS])
        stats = INC.micro_batch_resolve(
            spark, base_df, SnapshotStore(spark, self.template), self.cfg,
            batch_id=self.first_epoch - 1)
        self.base_new_files = stats["new_files"]
        self._units = 0

    def unit(self, lineage):
        self._units += 1
        run_dir = os.path.join(self.work_dir, f"stream_unit{self._units}")
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.copytree(self.template, run_dir)
        store = SnapshotStore(self.spark, run_dir)
        lat, new_files = [], []
        for i, wave in enumerate(self.waves):
            epoch = self.first_epoch + i
            t0 = time.perf_counter()
            stats = INC.micro_batch_resolve(self.spark, wave, store, self.cfg,
                                            lineage, batch_id=epoch)
            if self.compact_every and (epoch + 1) % self.compact_every == 0:
                for name in ("files", "keys", "edges"):
                    if store.exists(name):
                        store.compact(name)
            lat.append(time.perf_counter() - t0)
            new_files.append(stats["new_files"])
        assign = sorted(tuple(r) for r in store.load("assignments").collect())
        edges = [tuple(r) for r in store.load("edges").select("id_1", "id_2").collect()]
        return dict(latencies=lat, assignments=assign, new_files=new_files,
                    edges=edges, run_dir=run_dir)

    def check(self, res):
        errs = []
        if sum(res["new_files"]) != self.records:
            errs.append(f"code_stream: new_files {sum(res['new_files'])} != "
                        f"{self.records} input rows")
        if self.base_new_files != len(self.base_ids):
            errs.append("code_stream: base commit lost rows")
        ids = [i for i, _ in res["assignments"]]
        expected = set(self.base_ids).union(*map(set, self.wave_ids))
        if len(ids) != len(set(ids)) or set(ids) != expected:
            errs.append("code_stream: files not assigned exactly once")
        return errs

    def quality(self, res):
        """pair_f1 here is edge-level: committed match edges against every
        same-entity pair of the ingested files (the stream keeps no
        non-match decisions to score)."""
        assign = dict(res["assignments"])
        groups = defaultdict(list)
        for i in assign:
            groups[self.truth[i]].append(i)
        tp_set = true_pairs(groups)
        edges = {tuple(sorted(e)) for e in res["edges"]}
        tp = len(edges & tp_set)
        return (f1(tp, len(edges) - tp, len(tp_set) - tp),
                cluster_f1(assign, self.truth))

    def blocking_universe(self, res):
        new = set().union(*map(set, self.wave_ids))
        truth = {i: self.truth[i] for i in set(self.base_ids) | new}
        return truth, new

    def release(self, res):
        super().release(res)
        shutil.rmtree(res["run_dir"], ignore_errors=True)


# ---------------------------------------------------------------------------

M_CMS = dict(npi="npi", name_raw="provider_name", specialty="provider_specialty",
             facility_name="facility_name", facility_city="city",
             facility_state="state", facility_zip="zip",
             latitude="lat", longitude="lon")
M_LICENSE = dict(name_raw="physician_name", specialty="specialty",
                 facility_city="address_city", facility_state="address_state",
                 facility_zip="address_zip", latitude="lat", longitude="lon")


class PhysicianGraph(Workload):
    """cms- and license-shaped drops -> normalize -> resolve_physicians
    (referrals=None) -> committed mapping -> referral network."""

    N_PHYSICIANS = 300
    # dense enough that pagerank converges in ~6 iterations
    EVENTS_PER_PHYSICIAN = 30

    def __init__(self, spark, seed, work_dir):
        super().__init__(spark, seed, work_dir)
        cms, lic, truth = gen.generate_physicians(self.N_PHYSICIANS, seed)
        refs = gen.generate_referrals(cms, self.EVENTS_PER_PHYSICIAN * self.N_PHYSICIANS, seed)
        self.cms = self.keep(spark.createDataFrame(cms))
        self.lic = self.keep(spark.createDataFrame(lic))
        self.refs = self.keep(spark.createDataFrame(refs))
        self.records = len(cms) + len(lic)
        # truth keyed by the program's own stable record id
        ids = {}
        for src, df in (("cms", self.cms), ("license", self.lic)):
            for r in df.select(N.stable_source_id(src, "rid").alias("sid"), "rid").collect():
                ids[(src, r["rid"])] = r["sid"]
        self.truth = {ids[(s, r)]: t for s, r, t in
                      zip(truth["source"], truth["rid"], truth["true_id"])}
        self._units = 0

    def unit(self, lineage):
        self._units += 1
        store = SnapshotStore(self.spark, os.path.join(self.work_dir, f"phys_unit{self._units}"))
        t0 = time.perf_counter()
        records = N.union_sources([
            N.normalize_source(self.cms, "cms", M_CMS, ["rid"]),
            N.normalize_source(self.lic, "license", M_LICENSE, ["rid"]),
        ])
        out = resolve_physicians(self.spark, records, None, self.cfg, lineage)
        # the network layer reads the committed mapping, not its lineage
        mapping = store.commit(out["mapping"], "mapping")
        npi_map = (
            out["records"].where(F.col("npi").isNotNull())
            .join(mapping, "source_id")
            .select(F.col("npi").alias("source_key"), "canonical_id")
            .dropDuplicates(["source_key"])
        )
        graph = store.commit(NW.build_referral_graph(self.refs, npi_map), "referral_graph")
        ranks = NW.pagerank(graph, self.cfg, lineage).collect()
        NW.referral_metrics(graph).count()
        assign = sorted(tuple(r) for r in out["assignments"].collect())
        mapped = mapping.select("source_id").collect()
        wall = time.perf_counter() - t0
        return dict(latencies=[wall], assignments=assign, out=out,
                    mapped=[r[0] for r in mapped], ranks=ranks, run_dir=store.run_dir)

    def check(self, res):
        errs = []
        rec = res["out"]["records"].select("source_id", "npi").collect()
        rec_ids = {r[0] for r in rec}
        if set(self.truth) != rec_ids:
            errs.append("physician_graph: normalized records do not match the inputs")
        if len(res["mapped"]) != len(set(res["mapped"])) or set(res["mapped"]) != rec_ids:
            errs.append("physician_graph: mapping does not cover every record once")
        npi = {r[0]: r[1] for r in rec}
        per_comp = defaultdict(set)
        for i, c in res["assignments"]:
            if npi.get(i):
                per_comp[c].add(npi[i])
        multi = sum(len(v) > 1 for v in per_comp.values())
        if multi:
            errs.append(f"physician_graph: {multi} components hold >1 NPI after pruning")
        total = sum(r["pagerank"] for r in res["ranks"])
        if not res["ranks"] or abs(total - 1.0) > 1e-6:
            errs.append(f"physician_graph: pagerank sums to {total!r}")
        return errs

    def quality(self, res):
        dec = res["out"]["classified"].select("id_1", "id_2", "decision").collect()
        return (decision_f1(dec, self.truth),
                cluster_f1(dict(res["assignments"]), self.truth))

    def blocking_universe(self, res):
        return self.truth, set(self.truth)

    def release(self, res):
        super().release(res)
        shutil.rmtree(res["run_dir"], ignore_errors=True)


WORKLOADS = {
    "code_stream": CodeStream,
    "physician_graph": PhysicianGraph,
}


# ---------------------------------------------------------------------------
# Per-layer counters derived from a traced unit


def layer_counters(wl: Workload, res: dict, tracer: Tracer, lineage: LineageLog,
                   cores: int) -> dict[str, float]:
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def ancestors(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
            yield sp

    def events(stage):
        return [e for e in lineage.events if e["stage"] == stage]

    m = tracer.layer_metrics(cores)
    m["normalize.rows"] = sum(s.rows or 0 for s in spans
                              if s.name in ("normalize_files", "normalize_source"))

    # blocking: candidates are the pairs that reached scoring
    scoring = [s for s in spans if s.layer == "scoring"]
    cand = {p for s in scoring for p in s.probe["pairs"]}
    batch_ms = [x for s in scoring for x in s.probe["batch_ms"]]
    truth, new = wl.blocking_universe(res)
    groups = defaultdict(list)
    for i, t in truth.items():
        groups[t].append(i)
    all_true = true_pairs(groups)
    eligible = {p for p in all_true if p[0] in new or p[1] in new}
    m["blocking.candidate_pairs"] = len(cand)
    m["blocking.pair_completeness"] = len(cand & eligible) / len(eligible) if eligible else 1.0
    m["blocking.pairs_quality"] = len(cand & all_true) / len(cand) if cand else 0.0
    salting = events("blocking.salting")
    m["blocking.hot_blocks"] = sum(e["hot_blocks"] for e in salting)
    m["blocking.pairs_dropped"] = sum(e["pairs_dropped"] for e in salting)

    m["scoring.pairs_per_s"] = (sum(s.rows or 0 for s in scoring) / m["scoring.s"]
                                if m["scoring.s"] > 0 else 0.0)
    m["scoring.batch_ms_p50"] = statistics.median(set(batch_ms)) if batch_ms else 0.0

    dec = Counter()
    for s in spans:
        dec.update(s.probe.get("decisions", {}))
    n_dec = sum(dec.values())
    m["classify.match_share"] = dec["match"] / n_dec if n_dec else 0.0
    m["classify.uncertain_share"] = dec["uncertain"] / n_dec if n_dec else 0.0

    comps = [s for s in spans if s.layer == "components"]
    m["components.iterations"] = sum(e["iterations"] for e in lineage.events
                                     if e["stage"] in ("cc.converged", "cc.max_iterations_hit"))
    m["components.checkpoint_mb"] = sum(s.checkpoint_bytes for s in comps) / 1e6

    m["pruning.edges_removed"] = sum(e["removed"] for e in events("prune.done"))
    m["pruning.recluster_calls"] = sum(
        1 for s in comps if any(a.layer == "pruning" for a in ancestors(s)))
    m["canonicalize.entities"] = sum(s.rows or 0 for s in spans if s.name == "canonical_entities")
    m["network.pagerank_iterations"] = sum(
        e["iterations"] for e in lineage.events
        if e["stage"] in ("pagerank.converged", "pagerank.max_iterations_hit"))

    for op in ("append", "commit", "compact"):
        m[f"snapshots.{op}_s"] = sum(tracer.self_s(s) for s in spans
                                     if s.layer == "snapshots" and s.name == op)
    m["snapshots.bytes_written_mb"] = sum(s.output_bytes for s in spans
                                          if s.layer == "snapshots") / 1e6
    inc = [s for s in spans if s.layer == "incremental"]
    inc_jobs = sum(len(s.jobs) for s in spans
                   if s.layer == "incremental" or any(a.layer == "incremental" for a in ancestors(s)))
    m["incremental.jobs_per_batch"] = inc_jobs / len(inc) if inc else 0.0
    return m
