"""Cross-document corpus shaping: boilerplate-line removal and
deterministic token-budget sampling (training-data pipeline surface; no
analog in the reference repo, which resolves entities — this extends the
LLM-data side the same way dedup.py / decontaminate.py / redact.py do).

- **Boilerplate-line removal** (CCNet / RefinedWeb style): a line whose
  normalized form appears in >= ``min_docs`` DISTINCT documents is
  navigation chrome / legal footer / cookie-banner noise, not content —
  strip it from every document and rebuild the text.
- **Token-budget stratified sampling**: cap every stratum (language,
  source, quality bucket, ...) at a token budget by hash-gated inclusion —
  the corpus-flattening step before training-mix assembly.  Deterministic
  (sha256 of the id, no RNG): the same input always yields the same
  sample, so reruns and incremental appends agree.

Both are pure built-in column ops — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import NULL_LINEAGE, LineageLog

# 16^15 — inclusion compares the first 15 sha256 hex chars (60 bits) as an
# integer against rate * HASH_SPACE; 60 bits keeps conv() inside BIGINT
_HASH_SPACE = float(16 ** 15)


def _lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, line, norm) — one row per physical line, order-preserving.

    ``norm`` is the matching key (trim+lower); ``line`` keeps the original
    bytes for reconstruction.  NULL texts produce no rows (handled by the
    caller's left join)."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
        )
        .withColumn("norm", F.trim(F.lower(F.col("line"))))
    )


def boilerplate_lines(
    docs: DataFrame, id_col: str, text_col: str, min_docs: int = 5
) -> DataFrame:
    """Normalized lines appearing in >= min_docs distinct documents:
    (norm, n_docs).

    100 TB shape: the distinct (doc, line) pre-pass and the per-line count
    both shuffle only (hash-sized norm, id) pairs with map-side partial
    aggregation — O(distinct lines) volume, never O(total line bytes);
    blank lines never enter the index."""
    per_doc = (
        _lines(docs, id_col, text_col)
        .where(F.col("norm") != "")
        .select("id", "norm")
        .distinct()
    )
    return (
        per_doc.groupBy("norm")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(min_docs))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 5,
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """Strip cross-document boilerplate lines (CCNet/RefinedWeb discipline)
    and rebuild each document's text in original line order.

    Returns the input columns with ``text_col`` rewritten plus
    ``boilerplate_lines_removed`` (int).  Blank/whitespace-only lines are
    formatting, not content — they are never counted and never removed.
    NULL texts pass through unchanged (removed = 0).  A document whose
    every non-blank line is boilerplate comes back with only its blank
    lines (possibly the empty string) — it is then the quality gate's job
    to drop it, not this operator's.

    100 TB shape: 3 linear shuffles — the distinct+count index build
    (hash-sized rows), the line-vs-index join (the index is the small side
    by construction: lines repeated across >= min_docs docs; AQE broadcasts
    it when it fits, and the join key is the line's normalized form so a
    shuffle join still never carries more than one copy of each line's
    bytes per occurrence), and the order-preserving groupBy(id) rebuild,
    which is the same O(corpus bytes) shuffle any per-document
    reconstruction needs.  No Python anywhere."""
    boiler = boilerplate_lines(docs, id_col, text_col, min_docs).select(
        "norm", F.lit(True).alias("_boiler")
    )
    lines = _lines(docs, id_col, text_col)
    kept = (
        lines.join(boiler, "norm", "left")
        .where(F.col("_boiler").isNull() | (F.col("norm") == ""))
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__new_text"),
        F.count("*").alias("__n_kept"),
    ).withColumnRenamed("id", "__rid")
    n_lines = (
        lines.groupBy("id").agg(F.count("*").alias("__n_lines"))
        .withColumnRenamed("id", "__nid")
    )

    out = (
        docs.join(rebuilt, docs[id_col] == F.col("__rid"), "left")
        .drop("__rid")
        .join(n_lines, docs[id_col] == F.col("__nid"), "left")
        .drop("__nid")
        .select(
            *[
                F.when(
                    F.col(text_col).isNotNull(),
                    F.coalesce(F.col("__new_text"), F.lit("")),
                ).alias(text_col)
                if c == text_col
                else F.col(c)
                for c in docs.columns
            ],
            (
                F.coalesce(F.col("__n_lines"), F.lit(0))
                - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).cast("int").alias("boilerplate_lines_removed"),
        )
    )
    lineage.log(
        "corpus.remove_boilerplate_lines", min_docs=min_docs,
        note="line index built on distinct (doc, normalized-line) pairs",
    )
    return out


def _inclusion_hash(id_col: str) -> F.Column:
    """Deterministic uniform [0, 16^15) draw per document id: the first 15
    sha256 hex chars as an integer.  sha256 (not xxhash64) so the draw is
    reproducible OUTSIDE Spark too — the DuckDB parity test replays it with
    ``CAST(concat('0x', substr(sha256(id), 1, 15)) AS BIGINT)``.

    Comparison contract: the 60-bit draw is cast to double (53-bit
    mantissa) before it is compared with ``sample_rate * 16^15``, so a
    draw within one double step of a threshold (up to 2^8 near 16^15) may
    round onto it.  DuckDB promotes a BIGINT-vs-DOUBLE comparison the same
    way, which is why the two engines keep the same documents; a replay
    that compared exact integers could differ at the boundary."""
    return F.conv(
        F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 15), 16, 10
    ).cast("bigint")


def stratum_sampling_rates(
    docs: DataFrame,
    strata_cols: list[str],
    token_col: str,
    max_tokens_per_stratum: int,
) -> DataFrame:
    """(strata..., stratum_tokens, sample_rate): rate = min(1, cap/total).

    One tiny aggregate — O(strata) rows out, map-side partial sums in."""
    return (
        docs.groupBy(*strata_cols)
        .agg(F.sum(token_col).alias("stratum_tokens"))
        .withColumn(
            "sample_rate",
            F.least(
                F.lit(1.0),
                F.lit(float(max_tokens_per_stratum))
                / F.col("stratum_tokens").cast("double"),
            ),
        )
    )


def stratified_token_sample(
    docs: DataFrame,
    id_col: str,
    strata_cols: list[str],
    token_col: str,
    max_tokens_per_stratum: int,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict[str, DataFrame]:
    """Cap every stratum at ~``max_tokens_per_stratum`` tokens by
    deterministic hash-gated sampling (the corpus-flattening step before
    assembling a training mix — over-represented languages/sources are
    down-sampled, small strata kept whole).

    A document is kept iff ``hash(id) < rate * 16^15`` where rate is its
    stratum's ``min(1, cap / stratum_tokens)``.  Expected kept tokens per
    stratum == the cap (binomial, not exact — documents are atomic);
    inclusion is a pure function of (id, stratum totals), so reruns and
    incremental appends make identical decisions for unchanged strata.

    Returns ``{"sampled": DataFrame, "rates": DataFrame}``.

    100 TB shape: one O(strata)-row aggregate, one broadcast join of the
    rates onto the corpus (strata counts are tiny by definition), one
    codegen filter — the corpus is scanned once and never shuffled."""
    rates = stratum_sampling_rates(
        docs, strata_cols, token_col, max_tokens_per_stratum
    )
    # null-safe join keys: a NULL stratum (unknown language) is itself a
    # stratum and must be budgeted, not silently dropped by `==` semantics
    r = F.broadcast(
        rates.select(
            *[F.col(c).alias(f"__r_{c}") for c in strata_cols], "sample_rate"
        )
    )
    cond = None
    for c in strata_cols:
        piece = docs[c].eqNullSafe(F.col(f"__r_{c}"))
        cond = piece if cond is None else cond & piece
    sampled = (
        docs.join(r, cond)
        .where(
            _inclusion_hash(id_col).cast("double")
            < F.col("sample_rate") * F.lit(_HASH_SPACE)
        )
        .select(*[docs[c] for c in docs.columns])
    )
    lineage.log(
        "corpus.stratified_token_sample",
        strata=",".join(strata_cols),
        max_tokens_per_stratum=max_tokens_per_stratum,
    )
    return {"sampled": sampled, "rates": rates}


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

PACK_SCHEMA = (
    "id string, n_tokens long, pack_id string, pack_pos int, "
    "over_budget boolean"
)


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_tokens: int = 2048,
    token_col: str | None = None,
    n_groups: int = 256,
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """Assign every document to a fixed-token-budget training pack
    (first-fit-decreasing bin packing) — the batch-assembly step between
    curation and the training dataloader.

    Returns (id, n_tokens, pack_id, pack_pos, over_budget): ``pack_id`` is
    globally unique, ``pack_pos`` orders members within a pack (by
    descending token count, ties by id), and a document LONGER than the
    budget gets a singleton pack flagged ``over_budget`` (callers truncate
    or split downstream — packing never silently drops tokens).

    Determinism and scale shape: documents are hash-bucketed into
    ``n_groups`` independent packing groups (pmod(xxhash64(id))), each
    packed by ONE applyInPandas FFD kernel — the only Python in this
    module, because greedy bin packing is inherently sequential and not
    SQL-expressible.  Group membership and the in-group scan order are
    pure functions of (id, n_tokens), so the output is identical across
    reruns and physical partitionings.  Packing quality is per-group (a
    pack never spans groups — raise ``n_groups`` at corpus scale so each
    group's doc list fits one task comfortably; FFD guarantees <= 11/9 OPT
    + 1 bins per group).  Tokens default to the BPE-ish pretoken count
    from textstats; pass ``token_col`` to reuse precomputed counts."""
    import numpy as np
    import pandas as pd

    if token_col is None:
        from . import textstats as TS

        counts = TS.token_counts(docs, id_col, text_col).select(
            F.col(id_col).cast("string").alias("id"),
            # NULL/absent text packs as 0 tokens, never NaN in the kernel
            F.greatest(
                F.coalesce(F.col("n_bpe_tokens").cast("long"), F.lit(0)),
                F.lit(0),
            ).alias("n_tokens"),
        )
    else:
        counts = docs.select(
            F.col(id_col).cast("string").alias("id"),
            F.greatest(
                F.coalesce(F.col(token_col).cast("long"), F.lit(0)),
                F.lit(0),
            ).alias("n_tokens"),
        )
    base = counts.withColumn(
        "_grp", F.pmod(F.xxhash64("id"), F.lit(n_groups)).cast("int")
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["_grp"].iloc[0])
        order = sorted(
            range(len(pdf)),
            key=lambda i: (-int(pdf["n_tokens"].iloc[i]), pdf["id"].iloc[i]),
        )
        rem = np.empty(len(pdf), dtype=np.int64)  # remaining cap per bin
        n_bins = 0
        bin_of = np.empty(len(pdf), dtype=np.int64)
        pos_in = np.empty(len(pdf), dtype=np.int64)
        bin_fill = np.zeros(len(pdf), dtype=np.int64)  # members per bin
        over = np.zeros(len(pdf), dtype=bool)
        for i in order:
            need = int(pdf["n_tokens"].iloc[i])
            if need > max_tokens:
                b = n_bins
                rem[b] = 0
                n_bins += 1
                over[i] = True
            else:
                fits = np.nonzero(rem[:n_bins] >= need)[0]
                if fits.size:
                    b = int(fits[0])  # first fit
                else:
                    b = n_bins
                    rem[b] = max_tokens
                    n_bins += 1
                rem[b] -= need
            bin_of[i] = b
            pos_in[i] = bin_fill[b]
            bin_fill[b] += 1
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "n_tokens": pdf["n_tokens"],
                "pack_id": [f"{g}:{b}" for b in bin_of],
                "pack_pos": pos_in.astype("int32"),
                "over_budget": over,
            }
        )

    out = base.groupBy("_grp").applyInPandas(pack_group, schema=PACK_SCHEMA)
    lineage.log(
        "corpus.pack_sequences", max_tokens=max_tokens, n_groups=n_groups
    )
    return out


def pack_stats(packed: DataFrame, max_tokens: int) -> DataFrame:
    """One-row accounting for a :func:`pack_sequences` result: pack count,
    token totals, and fill rate over the non-over-budget packs."""
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.max(F.col("over_budget").cast("int")).alias("over"),
    )
    return per_pack.agg(
        F.count("*").alias("n_packs"),
        F.sum("pack_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("over") == 0, F.col("pack_tokens"))).alias(
            "in_budget_tokens"
        ),
        F.sum(F.when(F.col("over") == 0, 1).otherwise(0)).alias(
            "in_budget_packs"
        ),
        (
            F.sum(F.when(F.col("over") == 0, F.col("pack_tokens")))
            / (
                F.sum(F.when(F.col("over") == 0, 1).otherwise(0))
                * F.lit(float(max_tokens))
            )
        ).alias("fill_rate"),
    )
