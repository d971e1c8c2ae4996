"""Corpus curation pipeline — the end-to-end training-data flow a user of
this engine runs over a raw document table (no analog in the reference
repo, which resolves entities; this is the LLM-data extension surface
composed into one operator).

Stage order matters and mirrors what each stage costs at 100 TB:

1. **exact dedup** first — byte-identical copies collapse in one
   O(distinct) hash-groupBy before anything fuzzy or quadratic runs;
   optionally followed by **cross-snapshot dedup** against a persisted
   crawl-dedup index (partition-pruned probe, operators/dedup_index.py);
2. **near dedup** (MinHash/LSH, salted id-only candidates) on the
   survivors — keeps one representative (min id) per transitive group;
   optionally followed by **SemDeDup semantic dedup** when an embedding
   table is supplied (per-cluster gram pass, see operators/semdedup.py);
3. **language / quality gates** — pure-codegen column predicates over
   textstats features, cheapest possible filters once volume is down;
4. **PII redaction** — pure-codegen rewrite; documents above the PII cap
   are dropped rather than shipped scrubbed-but-suspect;
5. **decontamination** last — the broadcast semi-join against the eval
   index only shingles what survived everything else.

Every stage's removal count lands in lineage (non-silent, same
discipline as blocking drops), and the returned frame carries the
original columns with ``text`` redacted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..plans.lineage import NULL_LINEAGE, LineageLog
from . import corpus_ops as CO
from . import decontaminate as DC
from . import dedup as D
from . import redact as R
from . import textstats as TS


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
    languages: list[str] | None = None,
    min_quality: float = 0.5,
    max_top_bigram_frac: float | None = None,
    max_pii: int | None = 10,
    near_dup_threshold: float = 0.85,
    dedup_index_path: str | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    boilerplate_min_docs: int | None = None,
    bench_index: DataFrame | None = None,
    contamination_threshold: float = 0.1,
    contamination_k: int = 8,
    credit_cards: bool = False,
) -> dict[str, object]:
    """Returns ``{"curated": DataFrame, "counts": dict, "timings": dict}``;
    ``counts`` holds the per-stage survivor numbers (also lineage-logged per
    stage) and ``timings`` the per-stage wall seconds (the checkpoint makes
    each stage's work land inside its own measurement window).
    ``embeddings`` is a ``(vec_id, embedding)`` table keyed by document id."""
    import time

    from ._ckpt import checkpoint as _checkpoint

    t_start = time.perf_counter()
    counts: dict[str, int] = {"input": docs.count()}
    timings: dict[str, float] = {"input_count": round(
        time.perf_counter() - t_start, 3
    )}
    t_prev = time.perf_counter()

    def log(stage: str, df: DataFrame) -> DataFrame:
        # checkpoint BEFORE counting: each stage's count action must not
        # re-execute every prior (lazy) stage — without this the per-stage
        # accounting is O(stages^2) recompute at corpus scale
        nonlocal t_prev
        df = _checkpoint(df)
        counts[stage] = df.count()
        timings[stage] = round(time.perf_counter() - t_prev, 3)
        t_prev = time.perf_counter()
        lineage.log(f"curate.{stage}", survivors=counts[stage],
                    seconds=timings[stage])
        return df

    # 1. exact dedup
    cur = log("exact_dedup", D.distinct_by_content(docs, id_col, text_col))

    # 1b. optional cross-doc boilerplate-line removal (CCNet/RefinedWeb):
    # runs BEFORE near dedup because shared chrome inflates shingle
    # similarity between unrelated pages — a linear rebuild that makes the
    # quadratic-ish stage more honest.  Opt-in: it rewrites text.
    if boilerplate_min_docs is not None:
        cur = log(
            "boilerplate",
            CO.remove_boilerplate_lines(
                cur, id_col, text_col,
                min_docs=boilerplate_min_docs, lineage=lineage,
            ).drop("boilerplate_lines_removed"),
        )

    # 1c. optional cross-snapshot dedup: drop docs near-duplicating a
    # PREVIOUSLY ACCEPTED corpus (operators/dedup_index.py) before the
    # in-batch quadratic-ish stage — the index probe is a partition-pruned
    # read, cheaper than in-batch pairing, so it goes first.  (A crawl
    # ingest loop that also APPENDS survivors should use
    # dedup_index.incremental_dedup_step, which shares one MinHash pass
    # across probe, intra-dedup, and append.)
    if dedup_index_path is not None:
        from . import dedup_index as DIX

        idx_matches = DIX.query_dedup_index(
            cur, dedup_index_path, id_col, text_col, cfg,
            jaccard_threshold=near_dup_threshold, lineage=lineage,
        )
        idx_drop = idx_matches.select(
            F.col("query_id").alias("__idx_drop")
        ).distinct()
        cur = log(
            "index_dedup",
            cur.join(
                idx_drop,
                cur[id_col].cast("string") == idx_drop["__idx_drop"],
                "left_anti",
            ),
        )

    # 2. near dedup: drop every non-representative (non-min-id) member of
    # each transitive near-dup group
    pairs = D.minhash_near_duplicates(
        cur, id_col, text_col, cfg, jaccard_threshold=near_dup_threshold,
        lineage=lineage,
    )
    groups = D.near_duplicate_groups(pairs)
    drop = groups.where(F.col("id") != F.col("group_id")).select(
        F.col("id").alias("__drop_id")
    )
    cur = log(
        "near_dedup",
        cur.join(
            drop, cur[id_col].cast("string") == drop["__drop_id"], "left_anti"
        ),
    )

    # 2b. optional SemDeDup semantic dedup (paraphrase-level duplicates the
    # byte-shingle stage can't see).  Runs AFTER near dedup: the survivor
    # semi-join shrinks the embedding set before the per-cluster quadratic
    # pass.  Docs with no embedding row are kept (never silently dropped).
    if embeddings is not None:
        from . import semdedup as SD

        surv_ids = cur.select(F.col(id_col).cast("string").alias("__surv"))
        surv_emb = embeddings.join(
            surv_ids, F.col("vec_id").cast("string") == F.col("__surv"), "left_semi"
        )
        sem_drop = (
            SD.semantic_dedup(surv_emb, threshold=semantic_threshold, lineage=lineage)
            .where(~F.col("keep"))
            .select(F.col("id").alias("__sem_drop"))
        )
        cur = log(
            "semantic_dedup",
            cur.join(
                sem_drop,
                cur[id_col].cast("string") == sem_drop["__sem_drop"],
                "left_anti",
            ),
        )

    # 3. language + quality gates (one joined pass, pure codegen features)
    feats = TS.quality_features(cur, id_col, text_col).select(
        id_col, "quality_score"
    )
    lang = TS.identify_language(cur, id_col, text_col).select(id_col, "lang_pred")
    gated = cur.join(feats, id_col).join(lang, id_col)
    if languages:
        gated = gated.where(F.col("lang_pred").isin(languages))
    gated = gated.where(F.col("quality_score") >= F.lit(min_quality))
    if max_top_bigram_frac is not None:
        # Gopher-style repetition gate (textstats.repetition_features:
        # explode+agg, O(lines+bigrams) shuffle) joins into the same pass
        rep = TS.repetition_features(cur, id_col, text_col).select(
            id_col, "top_bigram_frac"
        )
        gated = gated.join(rep, id_col).where(
            F.col("top_bigram_frac") <= F.lit(max_top_bigram_frac)
        ).drop("top_bigram_frac")
    cur = log("quality_gate", gated.drop("quality_score", "lang_pred"))

    # 4. PII: redact in place, drop the pathological tail.  credit_cards=True
    # adds the Luhn-checked pass — opt-in because it's the one redaction
    # with a Python stage (still minority-only via the regex prefilter split)
    red = R.redact_pii(cur, text_col)
    if credit_cards:
        red = R.redact_credit_cards(red, text_col)
    if max_pii is not None:
        pii_sum = F.col("pii_total") + (
            F.col("pii_credit_card") if credit_cards else F.lit(0)
        )
        red = red.where(pii_sum <= F.lit(max_pii))
    cur = log("pii", red.drop(*[c for c in red.columns if c.startswith("pii_")]))

    # 5. decontamination against the held-out index
    if bench_index is not None:
        cur = log(
            "decontaminated",
            DC.decontaminate(
                cur, bench_index, id_col, text_col,
                k=contamination_k,
                threshold=contamination_threshold,
            ),
        )

    counts["output"] = counts[list(counts)[-1]]
    timings["total"] = round(time.perf_counter() - t_start, 3)
    lineage.log("curate.done", **{k: v for k, v in counts.items()})
    return {"curated": cur, "counts": counts, "timings": timings}
