"""End-to-end resolution pipelines (SURVEY.md §3.1 lifecycle).

``resolve_files`` is the flagship: blocking -> scoring -> classification ->
connected components -> canonical entities over a
``files(repo, path, commit, lang, content)`` corpus.

Stage boundaries that shuffle: blocking self-join, CC iterations,
survivorship groupBy.  ``files`` and ``pairs`` are persisted across their
two consumers and unpersisted when the stage ends.  Component ids are the
minimum member file_id (sha256 hex) — deterministic across runs and cluster
sizes by construction.
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


def resolve_files(
    spark: SparkSession,
    raw_files: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict[str, DataFrame]:
    """Full code-corpus entity resolution.  Returns the stage DataFrames:
    files, pairs, scored, classified, matches, assignments, entities."""
    t0 = time.perf_counter()
    files = N.normalize_files(raw_files).persist()
    n_files = files.count()
    lineage.log("normalize", rows=n_files, sec=time.perf_counter() - t0)

    # --- exact-dedup pre-pass -------------------------------------------
    # Identical content (sha equal) is an authoritative same-entity decision
    # (score 0.95 trump — the NPI analog), so byte-identical files collapse
    # to ONE representative (min file_id) before any fuzzy work.  At 100 TB
    # exact duplicates are the biggest hot blocks (a popular license file
    # appears millions of times); resolving representatives only turns those
    # C(n,2) explosions into a hash-groupBy, and the sha join at the end
    # fans the decision back out.  groupBy(content_sha) — not a window — so
    # the map-side partial aggregation does the heavy lifting.
    reps = files.groupBy("content_sha").agg(F.min("file_id").alias("file_id"))
    rep_files = files.join(reps, ["content_sha", "file_id"]).persist()
    n_reps = rep_files.count()
    lineage.log("exact_dedup", rows=n_files, representatives=n_reps,
                exact_duplicates=n_files - n_reps)

    t1 = time.perf_counter()
    keys = B.code_file_block_keys(rep_files, cfg)
    # candidate_pairs returns an eagerly checkpointed frame (materialized,
    # lineage truncated) — no extra persist layer needed
    pairs = B.candidate_pairs(keys, cfg, lineage)
    n_pairs = pairs.count()
    lineage.log("blocking", pairs=n_pairs, sec=time.perf_counter() - t1)

    t2 = time.perf_counter()
    scored = S.score_code_pairs(rep_files, pairs, cfg)
    # authoritative trump column: content sha equality (NPI analog; equal ->
    # same entity at 0.95; inequality is NOT a conflict, unlike NPI)
    scored = scored.withColumn(
        "auth", F.when(F.col("sha_equal"), F.lit(1.0)).otherwise(F.lit(None).cast("double"))
    )
    classified = C.classify(scored, cfg, authoritative_col="auth").persist()
    n_scored = classified.count()
    score_sec = time.perf_counter() - t2
    lineage.log("scoring", pairs=n_scored, sec=score_sec,
                pairs_per_sec=(n_scored / score_sec if score_sec > 0 else None))
    # per-partition score-batch latency -> lineage (north_rule)
    lineage.write_table(
        classified.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count("*").alias("pairs"), F.avg("batch_ms").alias("avg_batch_ms")
        ),
        "score_batches",
    )

    t3 = time.perf_counter()
    matches = C.confirmed_matches(classified, cfg)
    rep_assign = G.connected_components(
        matches,
        vertices=rep_files.select(F.col("file_id").alias("id")),
        cfg=cfg,
        lineage=lineage,
    )
    # fan the representative decision back out: every file joins its
    # content-sha representative's component (broadcast-sized at test scale;
    # a plain shuffled equi-join on content_sha at cluster scale)
    assignments = (
        files.select("file_id", "content_sha")
        .join(reps.withColumnRenamed("file_id", "rep_id"), "content_sha")
        .join(rep_assign.withColumnRenamed("id", "rep_id"), "rep_id")
        .select(F.col("file_id").alias("id"), "component_id")
        .persist()
    )
    n_nodes = assignments.count()
    lineage.log("clustering", nodes=n_nodes, sec=time.perf_counter() - t3)

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


def resolve_physicians(
    spark: SparkSession,
    records: DataFrame,
    referrals: DataFrame | None = None,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict[str, DataFrame]:
    """Reference-parity flagship (§3.1, pipeline.py:23-152): normalized
    records -> blocking -> scoring -> classify -> graph+weights -> full
    pruning (G5-G9) -> CC -> canonical entities + confidences -> referral
    network + PageRank -> reports.

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

    keys = B.physician_block_keys(records, cfg)
    pairs = B.candidate_pairs(keys, cfg, lineage)
    scored = S.score_physician_pairs(records, pairs, cfg)
    classified = C.classify(scored, cfg).persist()
    classified = C.determine_match_type(classified)
    matches = C.confirmed_matches(classified, cfg)
    lineage.log("phys.matching", records=n_rec, pairs=classified.count(),
                sec=time.perf_counter() - t0)

    edges = GR.build_edges(records, matches, cfg)
    node_ids = records.select(F.col("source_id").alias("id"),
                              F.col("npi").alias("auth_id"))
    pruned = P.full_pruning(edges, node_ids, cfg, lineage)
    assignments = G.connected_components(
        pruned.select("id_1", "id_2"),
        vertices=records.select(F.col("source_id").alias("id")),
        cfg=cfg, lineage=lineage,
    ).persist()

    entities = K.canonical_entities(records, assignments, cfg)
    mapping = K.source_canonical_mapping(entities)
    e_conf = K.entity_confidence(records, pruned, assignments, cfg)
    r_conf = K.record_confidence(pruned, assignments, cfg)

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
