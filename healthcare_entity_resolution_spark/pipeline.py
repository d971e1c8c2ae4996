"""End-to-end resolution pipelines (SURVEY.md §3.1 lifecycle).

``resolve_files`` is the flagship: exact-dedup -> blocking -> scoring ->
classification -> connected components -> canonical entities over a
``files(repo, path, commit, lang, content)`` corpus.

The code-file stages are defined once, in ``_resolve_code_files``: files ->
representatives -> pairs -> classified -> assignments (CC plus the fan-out
from representatives to files) -> entities.  The two entry points differ
only in how a stage is materialized: ``resolve_files`` persists and counts
each stage in memory, ``resumable_resolve_files`` commits each one through
``SnapshotStore.stage`` so a rerun resumes from the first missing snapshot.
Both log the same timed per-stage events.  The micro-batch path
(streaming/incremental.py) shares the scoring kernels and
``classify_code_scores``, which it runs in the driver.

Stage boundaries that shuffle: blocking self-join, CC iterations,
survivorship groupBy.  Component ids are the minimum member file_id
(sha256 hex) — deterministic across runs and cluster sizes by construction.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, ResolutionConfig
from .operators import blocking as B
from .operators import classify as C
from .operators import components as G
from .operators import normalize as N
from .operators import scoring as S
from .plans.lineage import NULL_LINEAGE, LineageLog
from .plans.snapshots import SnapshotStore

# the code-file stages a resumable run commits, in run order
CODE_FILE_STAGES = ("files", "pairs", "classified", "assignments")


def classify_code_scores(scored: DataFrame) -> DataFrame:
    """Classify scored code-file pairs (``scoring.code_score_columns``):
    identical content (the ``sha_match`` trump, the NPI analog) is a match
    at 0.95."""
    return C.classify(scored, authoritative_col="sha_match")


def classify_code_pairs(files: DataFrame, pairs: DataFrame) -> DataFrame:
    """Score and classify code-file pairs."""
    return classify_code_scores(S.score_code_pairs(files, pairs))


def _in_memory(name: str, build) -> tuple[DataFrame, int]:
    """``resolve_files``' materialization: persist and count."""
    df = build().persist()
    return df, df.count()


def _resolve_code_files(raw_files: DataFrame, cfg: ResolutionConfig,
                        lineage: LineageLog, materialize) -> dict[str, DataFrame]:
    """The code-file stage sequence.  ``materialize(name, build)`` runs or
    restores one stage and returns ``(frame, rows)``."""
    t0 = time.perf_counter()
    files, n_files = materialize("files", lambda: N.normalize_files(raw_files))
    lineage.log("normalize", rows=n_files, sec=time.perf_counter() - t0)

    # --- exact-dedup pre-pass -------------------------------------------
    # Identical content (sha equal) is an authoritative same-entity decision
    # (score 0.95 trump — the NPI analog), so byte-identical files collapse
    # to ONE representative (min file_id) before any fuzzy work.  At 100 TB
    # exact duplicates are the biggest hot blocks (a popular license file
    # appears millions of times); resolving representatives only turns those
    # C(n,2) explosions into a hash-groupBy, and the sha join at the end
    # fans the decision back out.  A file with NULL content cannot be
    # compared, so it is its own representative: its ``_rep_key`` is its
    # file_id, never a shared NULL sha.  groupBy — not a window — so the
    # map-side partial aggregation does the heavy lifting.  Derived from
    # ``files`` in memory in both modes: it is one aggregate, not a stage
    # worth a snapshot.
    t1 = time.perf_counter()
    rep_key = F.coalesce("content_sha", F.concat(F.lit("file:"), "file_id"))
    keyed = files.withColumn("_rep_key", rep_key)
    reps = keyed.groupBy("_rep_key").agg(F.min("file_id").alias("file_id"))
    rep_files = keyed.join(reps, ["_rep_key", "file_id"]).persist()
    n_reps = rep_files.count()
    lineage.log("exact_dedup", rows=n_files, representatives=n_reps,
                exact_duplicates=n_files - n_reps, sec=time.perf_counter() - t1)

    t2 = time.perf_counter()
    pairs, n_pairs = materialize("pairs", lambda: B.candidate_pairs(
        B.code_file_block_keys(rep_files, cfg), cfg, lineage))
    lineage.log("blocking", pairs=n_pairs, sec=time.perf_counter() - t2)

    t3 = time.perf_counter()
    classified, n_scored = materialize(
        "classified", lambda: classify_code_pairs(rep_files, pairs))
    score_sec = time.perf_counter() - t3
    lineage.log("scoring", pairs=n_scored, sec=score_sec,
                pairs_per_sec=(n_scored / score_sec if score_sec > 0 else None))
    # per-partition score-batch latency -> lineage (north_rule)
    lineage.write_table(
        classified.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count("*").alias("pairs"), F.avg("batch_ms").alias("avg_batch_ms")
        ),
        "score_batches",
    )

    matches = C.confirmed_matches(classified)

    def build_assignments():
        rep_assign = G.connected_components(
            matches,
            vertices=rep_files.select(F.col("file_id").alias("id")),
            lineage=lineage,
        )
        # fan the representative decision back out: every file joins its
        # content-sha representative's component (broadcast-sized at test
        # scale; a plain shuffled equi-join on content_sha at cluster scale)
        return (
            keyed.select("file_id", "_rep_key")
            .join(rep_files.select("_rep_key", F.col("file_id").alias("rep_id")),
                  "_rep_key")
            .join(rep_assign.withColumnRenamed("id", "rep_id"), "rep_id")
            .select(F.col("file_id").alias("id"), "component_id")
        )

    t4 = time.perf_counter()
    assignments, n_nodes = materialize("assignments", build_assignments)
    lineage.log("clustering", nodes=n_nodes, sec=time.perf_counter() - t4)

    entities = (
        assignments.join(files, assignments["id"] == files["file_id"])
        .groupBy("component_id")
        .agg(
            F.count("*").alias("member_count"),
            F.min("file_id").alias("min_file_id"),
            F.collect_set("lang").alias("langs"),
            F.collect_set("repo").alias("repos"),
            F.countDistinct("content_sha").alias("distinct_contents"),
        )
        .withColumn(
            "entity_id",
            F.concat(F.lit("ENT_"), F.substring("min_file_id", 1, 16)),
        )
    )
    lineage.log("pipeline.done", sec=time.perf_counter() - t0, files=n_files,
                pairs=n_pairs, nodes=n_nodes)
    return {
        "files": files,
        "pairs": pairs,
        "classified": classified,
        "matches": matches,
        "assignments": assignments,
        "entities": entities,
    }


def resolve_files(
    spark: SparkSession,
    raw_files: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict[str, DataFrame]:
    """Full code-corpus entity resolution, every stage persisted in memory.
    Returns the stage DataFrames: files, pairs, classified, matches,
    assignments, entities."""
    return _resolve_code_files(raw_files, cfg, lineage, _in_memory)


def resumable_resolve_files(
    spark: SparkSession,
    raw_files: DataFrame,
    run_dir: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict:
    """``resolve_files`` with every stage in ``CODE_FILE_STAGES`` committed
    as a snapshot under ``run_dir``: a rerun after an interruption loads the
    committed stages (one ``resume.<stage>`` event each) and recomputes from
    the first missing one.  Also returns the ``store``."""
    store = SnapshotStore(spark, run_dir)

    def snapshot(name, build):
        df, resumed = store.stage(name, build)
        lineage.log(f"resume.{name}", resumed=resumed)
        return df, df.count()

    return {**_resolve_code_files(raw_files, cfg, lineage, snapshot),
            "store": store}


def resolve_physicians(
    spark: SparkSession,
    records: DataFrame,
    referrals: DataFrame | None = None,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict[str, DataFrame]:
    """Reference-parity flagship (§3.1, pipeline.py:23-152): normalized
    records -> blocking -> scoring -> classify -> graph+weights -> full
    pruning (G5-G9, which also returns the clustering, so no separate CC
    run) -> canonical entities + confidences -> referral network +
    PageRank -> reports.

    ``records`` is the union of normalized sources (operators/normalize.py);
    ``referrals`` (optional) has (referring_npi, receiving_npi,
    referral_date).
    """
    from .operators import canonicalize as K
    from .operators import graph as GR
    from .operators import network as NW
    from .operators import pruning as P
    from .operators import reports as R

    t0 = time.perf_counter()
    records = records.persist()
    n_rec = records.count()

    keys = B.physician_block_keys(records)
    pairs = B.candidate_pairs(keys, cfg, lineage)
    scored = S.score_physician_pairs(records, pairs)
    classified = C.classify(scored).persist()
    classified = C.determine_match_type(classified)
    matches = C.confirmed_matches(classified)
    lineage.log("phys.matching", records=n_rec, pairs=classified.count(),
                sec=time.perf_counter() - t0)

    edges = GR.build_edges(records, matches)
    node_ids = records.select(F.col("source_id").alias("id"),
                              F.col("npi").alias("auth_id"))
    pruned, assignments = P.full_pruning(edges, node_ids, cfg, lineage)
    assignments = assignments.persist()

    entities = K.canonical_entities(records, assignments)
    mapping = K.source_canonical_mapping(entities)
    e_conf = K.entity_confidence(records, pruned, assignments)
    r_conf = K.record_confidence(pruned, assignments)

    out = {
        "records": records,
        "classified": classified,
        "edges": pruned,
        "assignments": assignments,
        "entities": entities.join(e_conf, "component_id", "left").select(
            *entities.columns, "entity_confidence"),
        "mapping": mapping,
        "record_confidence": r_conf,
        "report_data_quality": R.data_quality_report(records),
        "report_match_quality": R.match_quality_report(classified),
        "report_cluster_sizes": R.cluster_size_report(assignments),
    }

    if referrals is not None:
        npi_map = (
            records.where(F.col("npi").isNotNull())
            .join(mapping, "source_id")
            .select(F.col("npi").alias("source_key"), "canonical_id")
            .dropDuplicates(["source_key"])
        )
        graph = NW.build_referral_graph(referrals, npi_map)
        out["referral_graph"] = graph
        out["influence"] = NW.pagerank(graph, cfg, lineage)
        out["referral_metrics"] = NW.referral_metrics(graph)
    lineage.log("phys.pipeline.done", sec=time.perf_counter() - t0)
    return out


def documents_as_files(documents: DataFrame) -> DataFrame:
    """Adapter: the testdata ``documents(doc_id, text, lang, source)`` table
    viewed as a files corpus (source->repo, doc_id->path, content=text)."""
    return documents.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lit("HEAD").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
