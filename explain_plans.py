#!/usr/bin/env python3
"""Physical-plan audit: prints `.explain("formatted")` for the load-bearing
queries and summarizes the node-level properties that matter at 100 TB —
pushed filters, pruned scan schemas, broadcast joins, codegen coverage,
shuffle counts.  Output is committed to PLANS.md for review.

    python explain_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
from collections import Counter

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def grab(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str) -> Counter:
    """Exact physical-node census from the formatted details section."""
    return Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.M))


def codegen_nodes(plan: str) -> int:
    """Nodes inside whole-stage codegen (marked `[codegen id : N]`)."""
    return len(re.findall(r"\[codegen id : \d+\]", plan))


def summarize(plan: str) -> str:
    c = nodes(plan)
    shuffles = c.get("Exchange", 0)
    reused = c.get("ReusedExchange", 0)
    joins = {k: v for k, v in c.items() if "Join" in k}
    return (f"- physical nodes: {dict(c)}\n"
            f"- shuffles (Exchange): **{shuffles}** (+{reused} reused)\n"
            f"- joins: **{joins or 'none'}**\n"
            f"- codegen-covered nodes: **{codegen_nodes(plan)}**\n")


def main() -> None:
    from healthcare_entity_resolution_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="plans", cores=8)
    qs = E.queries()

    print("# PLANS — physical-plan audit (auto-generated by explain_plans.py)\n")

    print("## 1. Scan pushdown & column pruning (s1)\n")
    plan = grab(qs["s1_scan_project_filter"](spark, SF))
    print("```\n" + plan + "```\n")
    ok_push = "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    ok_schema = "text" not in plan.split("ReadSchema")[-1]
    print(f"- filter pushed to parquet scan: **{ok_push}**")
    print(f"- ReadSchema pruned (no `text` column read): **{ok_schema}**")
    print(summarize(plan))

    print("## 2. Lookup join (j2: fact x dim) — must broadcast\n")
    plan = grab(qs["j2_lookup_join"](spark, SF))
    print(summarize(plan))
    print(f"- BroadcastHashJoin chosen: **{'BroadcastHashJoin' in plan}**\n")

    print("## 3. Blocking-count (b5) via inclusion-exclusion — no pair explosion\n")
    plan = grab(qs["b5_multi_strategy_pair_count"](spark, SF))
    print(summarize(plan))

    print("## 4. Survivorship (k3) — windowed picks share the "
          "partitionBy(component_id) exchange\n")
    plan = grab(qs["k3_survivorship"](spark, SF))
    print(summarize(plan))
    c4 = nodes(plan)
    print(f"- field picks as windows sharing ONE hash Exchange: "
          f"**Exchange={c4.get('Exchange', 0)}, Window={c4.get('Window', 0)}** "
          "(round 1 had six F.broadcast(pick) joins, each O(#components) — "
          "an OOM hazard; the only remaining broadcast is the records x "
          "assignments decorate join, AQE-chosen from input stats, "
          f"BroadcastHashJoin={c4.get('BroadcastHashJoin', 0)})\n")

    print("## 4b. G10 cluster labels — two-phase rank, no global window\n")
    plan = grab(qs["g10_cluster_labels"](spark, SF))
    print(summarize(plan))
    print(f"- SinglePartition Exchange present: "
          f"**{'SinglePartition' in plan}** (must be False — rank = "
          "per-range-partition row_number + driver offsets)\n")

    print("## 5. ER pipeline classified stage (blocking+scoring lineage)\n")
    from healthcare_entity_resolution_spark.pipeline import (
        documents_as_files, resolve_files,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = resolve_files(spark, documents_as_files(docs))
    plan = grab(out["classified"])
    c = nodes(plan)
    print(f"- physical nodes: {dict(c)}")
    print(f"- Arrow stages (MapInPandas/ArrowEvalPython): "
          f"**{c.get('MapInPandas', 0) + c.get('ArrowEvalPython', 0)}**")
    print(f"- InMemoryTableScan (persisted stage reuse): "
          f"**{c.get('InMemoryTableScan', 0)}**\n")

    print("## 6. Connected components assignments — plan stays flat "
          "post-checkpoint\n")
    plan = grab(out["assignments"])
    print(summarize(plan))
    print(f"- plan length (chars): **{len(plan)}** — bounded regardless of "
          "CC iteration count (checkpoint() truncates lineage)\n")

    print("## 7. MinHash-LSH dedup (two-tier verify) — document text is "
          "read ONCE\n")
    plan = grab(qs["dedup_minhash_lsh"](spark, SF))
    c7 = nodes(plan)
    n_text_scans = plan.count("ReadSchema: struct<doc_id:bigint,text:string>")
    print(summarize(plan))
    print(f"- parquet scans reading the text column: **{n_text_scans}** "
          "(the round-2 flag was full text joined onto BOTH sides of every "
          "candidate pair; now the single text scan feeds one persisted "
          "MapInPandas state pass — surfacing here as InMemoryTableScan "
          f"x{c7.get('InMemoryTableScan', 0)} — and the pair joins ship "
          "only ids, fixed-width signatures, and shingle-hash arrays)\n")

    print("## 8. PageRank (n2, 20 fixed iterations) — one edge collection, "
          "in-driver power iteration\n")
    plan = grab(qs["n2_pagerank"](spark, SF))
    print(summarize(plan))
    print(f"- ranks served from a local relation: "
          f"**{'LocalTableScan' in plan}** — building the frame ran ONE job "
          "(the `(src, dst, w)` edge list collected as Arrow); the power "
          "iteration ran in numpy in the driver, so the plan has no scan of "
          "the source tables, no per-iteration joins and no checkpoint, and "
          f"its length (**{len(plan)}** chars) does not depend on the "
          "iteration count\n")

    print("## 9. n-gram Jaccard (round 4: salted id-only candidates)\n")
    plan = grab(qs["dedup_ngram_jaccard"](spark, SF))
    c9 = nodes(plan)
    print(summarize(plan))
    print("- candidates come from the checkpointed id-only pair frame "
          f"(Scan ExistingRDD x{c9.get('Scan', 0)}): "
          f"**{'ExistingRDD' in plan}** — the blocking self-join (with "
          "hot-block salting + exact drop lineage) ran before the "
          "checkpoint; this plan only joins the gram arrays back per side "
          "and evaluates the size-ratio prefilter + array_intersect in "
          "codegen\n")

    print("## 10. ANN all-pairs near-duplicates (round 4: salted sign "
          "buckets)\n")
    from healthcare_entity_resolution_spark.operators import ann
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = grab(ann.all_pairs_near_duplicates(emb, threshold=0.9))
    print(summarize(plan))
    print("- same shape as §9: the within-bucket self-join (auto-sized "
          "2^n_planes buckets, salted above max_block_size) is "
          "checkpointed as id-only pairs "
          f"(**{'ExistingRDD' in plan}**); the embedding vectors ride "
          "only the two post-pair join-backs, never the blocking "
          "shuffle\n")

    print("## 11. Benchmark decontamination (round 5 driver key) — "
          "broadcast index, corpus text never shuffles\n")
    # contamination_report checkpoints its output (flat post-checkpoint
    # plan), so audit the PRE-checkpoint hit-join shape the operator builds
    # (same derivation as tests/test_decontaminate_redact.py's assertion)
    from healthcare_entity_resolution_spark.operators import decontaminate as DC
    bench_idx = DC.benchmark_shingle_index(
        docs.where("doc_id % 41 = 0"), "doc_id", "text", k=8
    )
    state = DC.shingle_state(docs, "doc_id", "text", k=8)
    from pyspark.sql import functions as F11
    hitjoin = (
        state.select("id", F11.explode("_shn").alias("sh"))
        .join(F11.broadcast(bench_idx.select("sh").distinct()), "sh", "left_semi")
        .groupBy("id").agg(F11.count("*").alias("n_hits"))
    )
    plan = grab(hitjoin)
    c11 = nodes(plan)
    print(summarize(plan))
    print(f"- eval-set shingle index joins via BroadcastHashJoin "
          f"(**{c11.get('BroadcastHashJoin', 0)}** broadcast, LeftSemi on "
          "the exploded shingles): the corpus side is one MapInPandas "
          "shingling pass + groupBy over MATCHING shingles only — document "
          "text crosses no Exchange; the shipped operator leaves the join "
          "to AQE, which picks this broadcast at run time for an index under "
          "the broadcast threshold (its own post-checkpoint plan is flat by "
          "design)\n")

    print("## 12. Credit-card redaction split (round 5) — candidate-free "
          "branch is pure codegen\n")
    from healthcare_entity_resolution_spark.operators import redact as R
    from pyspark.sql import functions as F
    docs11 = docs.select("doc_id", "text")
    both = R.redact_credit_cards(docs11, "text")
    plan = grab(both)
    c12 = nodes(plan)
    print(summarize(plan))
    clean_plan = grab(
        docs11.where(
            F.coalesce(
                F.regexp_count(F.col("text"), F.lit(R.CC_CANDIDATE)), F.lit(0)
            ) == 0
        )
    )
    cclean = nodes(clean_plan)
    print(f"- union of the two branches carries exactly ONE Python stage "
          f"(MapInPandas={c12.get('MapInPandas', 0)}) — the Luhn check on "
          "the flagged minority; the candidate-free branch alone has "
          f"**{cclean.get('MapInPandas', 0) + cclean.get('ArrowEvalPython', 0)}** "
          "Python nodes (regexp_count prefilter evaluates inside the scan "
          "stage's codegen)\n")


    print("## 13. Corpus shaping (round 5): boilerplate-line removal + "
          "token-budget stratified sampling\n")
    from healthcare_entity_resolution_spark.operators import corpus_ops as CO
    plan = grab(CO.remove_boilerplate_lines(docs11, "doc_id", "text", min_docs=5))
    c13 = nodes(plan)
    print(summarize(plan))
    print(f"- boilerplate removal: Python stages = "
          f"**{c13.get('MapInPandas', 0) + c13.get('ArrowEvalPython', 0) + c13.get('BatchEvalPython', 0)}** "
          f"(must be 0 — split/explode/agg built-ins only); Exchanges = "
          f"**{c13.get('Exchange', 0)}**, all linear in corpus lines "
          "(distinct + count index build, line-vs-index join, "
          "order-preserving groupBy(id) rebuild)\n")
    sampled = CO.stratified_token_sample(
        # real (non-literal) stratum column: a lit() would constant-fold
        # the eqNullSafe join keys away and degrade the audit to a
        # BroadcastNestedLoopJoin that the shipped operator never plans
        docs11.withColumn(
            "lang", F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string"))
        ).withColumn("n_tokens", F.length("text")),
        "doc_id", ["lang"], "n_tokens", max_tokens_per_stratum=10_000,
    )["sampled"]
    plan = grab(sampled)
    c13b = nodes(plan)
    print(summarize(plan))
    print(f"- stratified sample: rates join is BroadcastHashJoin = "
          f"**{c13b.get('BroadcastHashJoin', 0)}** (O(strata) rows, "
          "explicit hint) and the corpus side crosses no Exchange — the "
          "inclusion predicate (sha256 hex-prefix vs rate) evaluates in "
          "the scan stage's codegen\n")


    print("## 14. Incremental crawl-dedup index probe (round 5) — "
          "partition-pruned band read\n")
    import tempfile as _tf
    import shutil as _sh

    from healthcare_entity_resolution_spark.operators import dedup_index as DIX
    docs_s = docs.selectExpr("cast(doc_id as string) doc_id", "text")
    idx_dir = _tf.mkdtemp(prefix="plans_dedup_idx_")
    try:
        DIX.build_dedup_index(docs_s.where("doc_id % 3 != 0"), idx_dir)
        probe = DIX.query_dedup_index(
            docs_s.where("doc_id % 3 = 0"), idx_dir, checkpoint=False
        )
        plan = grab(probe)
        c14 = nodes(plan)
        print(summarize(plan))
        print(f"- band probe read carries PartitionFilters on the shard "
              f"column: **{'PartitionFilters: [' in plan and 'shard#' in plan}** "
              "— a batch touches only the shard directories its own band "
              "keys land in, O(batch) of a corpus-sized index; the two-tier "
              "verify joins ship fixed-width signatures first, shingle "
              f"arrays only for tier-1 survivors (SortMergeJoin/"
              f"BroadcastHashJoin mix: {c14.get('SortMergeJoin', 0)}/"
              f"{c14.get('BroadcastHashJoin', 0)})\n")
    finally:
        _sh.rmtree(idx_dir, ignore_errors=True)

    print("## 15. SemDeDup semantic dedup + sequence packing (round 5) — "
          "one Arrow kernel each, no pair explosion\n")
    from healthcare_entity_resolution_spark.operators import semdedup as SD
    plan = grab(SD.semantic_dedup(emb, threshold=0.95))
    c15 = nodes(plan)
    print(summarize(plan))
    print(f"- semantic dedup: centroid assignment is one ArrowEvalPython "
          f"(**{c15.get('ArrowEvalPython', 0)}**) broadcast-matmul stage; "
          "the quadratic similarity pass is ONE FlatMapGroupsInPandas "
          f"(**{c15.get('FlatMapGroupsInPandas', 0)}**) per-cluster gram "
          "kernel behind a single groupBy Exchange "
          f"(Exchange={c15.get('Exchange', 0)}) — candidate pairs never "
          "materialize Spark-side\n")
    plan = grab(CO.pack_sequences(docs11, "doc_id", "text", max_tokens=2048))
    c15b = nodes(plan)
    print(summarize(plan))
    print(f"- sequence packing: token counting stays in codegen "
          "(regexp_extract_all + size); the FFD kernel is ONE "
          f"FlatMapGroupsInPandas (**{c15b.get('FlatMapGroupsInPandas', 0)}**) "
          f"behind the group-hash Exchange (Exchange={c15b.get('Exchange', 0)}) "
          "— packing group membership is a pure id-hash, so the shuffle "
          "volume is (id, n_tokens) pairs only\n")

    print("## 16. Repetition quality gates (round 5 driver key) — "
          "explode + two-level agg, map-side combined\n")
    from healthcare_entity_resolution_spark.operators import textstats as TS
    plan = grab(TS.repetition_features(docs11, "doc_id", "text"))
    c16 = nodes(plan)
    n_py16 = (c16.get("MapInPandas", 0) + c16.get("ArrowEvalPython", 0)
              + c16.get("BatchEvalPython", 0) + c16.get("FlatMapGroupsInPandas", 0))
    partial16 = len(re.findall(r"Functions \[\d+\]: \[partial_", plan))
    print(summarize(plan))
    print(f"- Python stages = **{n_py16}** (must be 0 — split/explode/"
          "groupBy built-ins only, the whole op is SQL-replayable); "
          f"Exchanges = **{c16.get('Exchange', 0)}** "
          f"(+{c16.get('ReusedExchange', 0)} reused), every one keyed on "
          "(doc, line) / (doc, bigram) / doc — linear in exploded tokens, "
          "never quadratic in document length; partial HashAggregates "
          f"before the shuffles: **{partial16}** (map-side combine means "
          "a document whose lines repeat heavily shrinks BEFORE it "
          "crosses the wire — the skew-friendly property at 100 TB)\n")


if __name__ == "__main__":
    main()
