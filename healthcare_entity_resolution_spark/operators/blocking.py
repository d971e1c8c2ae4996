"""Blocking & candidate-pair generation (SURVEY.md §2.3, B1–B5).

Reference semantics (behavior studied at
/root/reference/src/physician_resolution/matching/blocking.py:13-150):
group records by one or more keys, keep groups with >=2 members, enumerate
within-group pairs in canonical order (id1 < id2), dedup across strategies.

Spark-first design: every blocking strategy is "derive a key column ->
self equi-join within key".  The >=2 filter is implicit in the join.
Catalyst plans the join (sort-merge / shuffled-hash, AQE skew-aware); we add
what Catalyst can't know (north_rule):

- **Hot-block salting**: blocks larger than ``max_block_size`` are split into
  ``ceil(n/max_block_size)`` deterministic salt sub-blocks
  (``xxhash64(id) % n_salts``).  Pairs are generated within a salt only;
  the dropped cross-salt pair count is computed exactly and written to
  lineage — truncation is never silent.
- **MinHash/LSH band keys** over content shingles as a recall-oriented
  strategy: :func:`band_block_keys` turns per-document LSH band keys into
  ``mh:`` block keys.  It is the only place that key is built; the
  code-file blocking (:func:`minhash_band_keys`), the in-corpus near-dup
  path and the crawl-dedup index's intra-batch step all go through it.

Every key builder returns ``(_id, _bk)``; :func:`candidate_pairs` takes the
union of such frames.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..functions import text as textfn
from ..plans.lineage import NULL_LINEAGE, LineageLog

PAIR_SCHEMA = ["id_1", "id_2"]
# char-shingle width of the MinHash tokens (:func:`minhash_bands`, the
# near-dup doc state and the SimHash of dedup.py, the dedup index's _meta)
MINHASH_SHINGLE_K = 5


def exact_block_keys(df: DataFrame, id_col: str, key_expr) -> DataFrame:
    """B1/B2/B4-shaped strategy: one key column per record, NULL keys dropped."""
    return (
        df.select(F.col(id_col).alias("_id"), key_expr.alias("_bk"))
        .where(F.col("_bk").isNotNull())
    )


def band_key(band: Column) -> Column:
    """The ``mh:`` block key of one LSH band key (a long)."""
    return F.concat(F.lit("mh:"), band.cast("string")).alias("_bk")


def band_block_keys(state: DataFrame) -> DataFrame:
    """``(id, _bands)`` -> ``(_id, _bk = "mh:<band key>")``, one row per LSH
    band: documents that agree on a whole band share a block."""
    return state.select(
        F.col("id").alias("_id"), F.explode("_bands").alias("_b")
    ).select("_id", band_key(F.col("_b")))


def minhash_bands(texts: pd.Series, cfg: ResolutionConfig = DEFAULT_CONFIG) -> pd.Series:
    """Each text's LSH band keys (a list of ``cfg.lsh_bands`` longs; an empty
    list for NULL text).  The body of :func:`minhash_band_keys`' pandas UDF,
    also called directly by the micro-batch, which keys its rows in the
    driver."""
    out = []
    for t in texts:
        if t is None:
            out.append([])
            continue
        sig = textfn.minhash_signature(
            textfn.shingle_hashes(t, k=MINHASH_SHINGLE_K),
            num_perm=cfg.minhash_permutations,
        )
        out.append(textfn.lsh_band_keys(sig, bands=cfg.lsh_bands))
    return pd.Series(out)


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """LSH banding over char-shingle MinHash signatures -> (id, band_key)
    rows (north_star: "MinHash/LSH bands over content shingles").

    Char shingles, not word tokens: on low-entropy corpora word-token
    Jaccard between unrelated documents is high (measured ~0.6 on the
    driver testdata), which floods blocking with false candidates; k=5 char
    shingles push unrelated-pair Jaccard under ~0.3 while near-duplicates
    stay high — the band collision probability (1-(1-J^4)^16) then separates
    cleanly.

    The UDF returns band keys only: signatures and shingle arrays never
    leave the Python worker (the near-dup path, which verifies pairs, keeps
    them in ``dedup.minhash_doc_state``)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(texts: pd.Series) -> pd.Series:
        return minhash_bands(texts, cfg)

    return band_block_keys(
        df.select(F.col(id_col).alias("id"), band_keys(F.col(text_col)).alias("_bands"))
    )


def _salted(keyed: DataFrame, cfg: ResolutionConfig, lineage: LineageLog) -> DataFrame:
    """Split hot blocks into deterministic salt sub-blocks; log exact drops."""
    counts = keyed.groupBy("_bk").agg(F.count("*").alias("_n"))
    hot = counts.where(F.col("_n") > cfg.max_block_size)
    n_hot = hot.limit(1).count()
    if n_hot == 0:
        return keyed.withColumn("_salt", F.lit(0))

    keyed2 = (
        keyed.join(F.broadcast(hot.select("_bk", "_n")), "_bk", "left")
        .withColumn(
            "_nsalt",
            F.when(F.col("_n").isNull(), F.lit(1)).otherwise(
                F.ceil(F.col("_n") / F.lit(cfg.max_block_size)).cast("int")
            ),
        )
        .withColumn("_salt", F.pmod(F.xxhash64("_id"), F.col("_nsalt")).cast("int"))
        .drop("_n", "_nsalt")
    )
    # exact dropped-pair accounting: C(n,2) - sum_s C(n_s,2) per hot block
    drop_stats = (
        keyed2.join(F.broadcast(hot.select("_bk")), "_bk", "left_semi")
        .groupBy("_bk", "_salt").agg(F.count("*").alias("ns"))
        .groupBy("_bk").agg(
            F.sum("ns").alias("n"),
            F.sum(F.expr("ns * (ns - 1) / 2")).alias("pairs_kept"),
        )
        .withColumn("pairs_dropped", F.expr("n * (n - 1) / 2 - pairs_kept"))
    )
    stats = drop_stats.agg(
        F.count("*").alias("hot_blocks"),
        F.sum("pairs_dropped").alias("pairs_dropped"),
        F.sum("pairs_kept").alias("pairs_kept"),
    ).collect()[0]
    lineage.log(
        "blocking.salting",
        hot_blocks=int(stats["hot_blocks"] or 0),
        pairs_dropped=int(stats["pairs_dropped"] or 0),
        pairs_kept=int(stats["pairs_kept"] or 0),
        max_block_size=cfg.max_block_size,
    )
    return keyed2


def candidate_pairs(
    keyed_union: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """B5: within-block self-join across all strategies, canonical order,
    global dedup.  Input: union of (_id, _bk) frames.

    The keyed frame is persisted before the self-join: its lineage includes
    the MinHash pandas UDF, which would otherwise be recomputed for the
    salting statistics AND for each side of the join (4x the Arrow+Python
    cost at scale).  The deduped pair frame is checkpointed (eager) so the
    cached block state can be unpersisted before returning — repeated calls
    in one session no longer accumulate cached blocks."""
    from ._ckpt import checkpoint as _checkpoint

    base = keyed_union.select("_id", "_bk").persist()
    keyed = _salted(base, cfg, lineage).persist()
    keyed.count()  # materialize once; frees the UDF lineage for re-use
    base.unpersist()
    left = keyed.select(F.col("_bk"), F.col("_salt"), F.col("_id").alias("id_1"))
    right = keyed.select(F.col("_bk"), F.col("_salt"), F.col("_id").alias("id_2"))
    pairs = (
        left.join(right, on=["_bk", "_salt"])
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
    )
    out = _checkpoint(pairs.dropDuplicates(["id_1", "id_2"]))
    keyed.unpersist(blocking=False)
    return out


# ---------------------------------------------------------------------------
# Domain key builders
# ---------------------------------------------------------------------------

def physician_block_keys(records: DataFrame) -> DataFrame:
    """Reference strategies B1–B3 on a normalized records frame with columns
    (source_id, npi, name_last, facility_state): NPI, (last name, state) and
    (soundex of last name, state)."""
    by_npi = exact_block_keys(
        records, "source_id",
        F.when(F.col("npi").isNotNull(), F.concat(F.lit("npi:"), F.col("npi"))),
    )
    by_last_state = exact_block_keys(
        records, "source_id",
        F.when(
            F.col("name_last").isNotNull(),
            F.concat_ws("|", F.lit("ls:"), F.upper("name_last"),
                        F.coalesce(F.upper("facility_state"), F.lit("XX"))),
        ),
    )
    by_soundex = exact_block_keys(
        records.where(F.col("name_last").isNotNull()), "source_id",
        F.concat_ws("|", F.lit("sx:"), F.soundex(F.upper("name_last")),
                    F.coalesce(F.upper("facility_state"), F.lit("XX"))),
    )
    return by_npi.unionByName(by_last_state).unionByName(by_soundex)


def path_stem_block_keys(files: DataFrame) -> DataFrame:
    """(lang, path-stem token) key over files(file_id, path_norm, lang)."""
    stem = F.regexp_extract(F.col("path_norm"), r"([^/]+)$", 1)
    stem_key = F.concat_ws("|", F.lit("ps:"), F.col("lang"),
                           F.array_join(F.array_sort(F.split(stem, r"[^a-z0-9]+")), "_"))
    return exact_block_keys(files, "file_id", stem_key)


def code_file_block_keys(
    files: DataFrame, cfg: ResolutionConfig = DEFAULT_CONFIG
) -> DataFrame:
    """north_star strategies over files(file_id, path_norm, lang, content):
    (lang, path-stem token key) + MinHash/LSH bands over content."""
    by_minhash = minhash_band_keys(files, "file_id", "content", cfg)
    return path_stem_block_keys(files).unionByName(by_minhash)
