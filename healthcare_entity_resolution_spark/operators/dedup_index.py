"""Persisted incremental MinHash-LSH document near-dup index.

The training-data primitive the in-corpus path (`dedup.minhash_near_duplicates`)
cannot express: dedupe each NEW crawl batch against everything already
accepted into the corpus WITHOUT rescanning the corpus.  The index lives on
disk as two parquet trees:

  <path>/bands/  (id, bk)      partitioned by shard = pmod(bk, N_SHARDS)
  <path>/state/  (id, _sig, _shn)
  <path>/_meta/  one row: (num_perm, bands, shingle_k, n_shards)

Documents are read as ``(doc_id, text)``; only :func:`query_dedup_index`,
which `curate.curate_corpus` calls with its own columns, takes others.

Scale shape (the whole point):
  * A batch probe reads ONLY the band shards its own band keys land in —
    `shard IN (...)` is a PartitionFilter (plan-asserted in tests), so a
    small batch touches a few dozen of the index's shard directories.
  * Append is ``mode('append') + partitionBy('shard')`` — O(batch), never
    O(index), same contract as `ann.append_lsh_index`.
  * The candidate join ships ids only; verification is `dedup._tier_verify`
    (signature estimate first, shingle-hash arrays only for tier-1
    survivors), the same function the in-corpus path runs.  The intra-batch
    step is `dedup.near_duplicate_pairs` itself: one band-key frame
    (`blocking.band_block_keys`), one salted self-join, one verify.
  * Hot index bands (boilerplate documents that collapse into one band
    bucket) are capped at ``max_band_fanout`` candidates per band and the
    drop is lineage-logged with exact counts — never silent.

Replay safety (at-least-once streaming appends): both query-time state and
band reads dedup on id, and a replayed batch's own ids are excluded from
their self-matches, so a crash-replayed `foreachBatch` append costs bytes,
not correctness — identical contract to `ann.append_lsh_index`.

Reference parity: the reference has no incremental surface at all (its
pipeline is a single-process batch, /root/reference/src/physician_resolution/
pipeline.py); this operator is part of the 100 TB training-data extension
mandated by the driver brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..plans.lineage import NULL_LINEAGE, LineageLog
from ._ckpt import checkpoint as _checkpoint
from .blocking import MINHASH_SHINGLE_K
from .components import connected_components
from .dedup import _tier_verify, minhash_doc_state, near_duplicate_pairs

N_SHARDS = 256  # band-key shards of a built index (kept in its _meta)
ID, TEXT = "doc_id", "text"


# ---------------------------------------------------------------------------
# build / append
# ---------------------------------------------------------------------------


def _band_rows(state: DataFrame, n_shards: int) -> DataFrame:
    return (
        state.select(F.col("id"), F.explode("_bands").alias("bk"))
        .withColumn("shard", F.pmod(F.col("bk"), F.lit(n_shards)).cast("int"))
    )


def build_dedup_index(
    df: DataFrame,
    path: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
) -> None:
    """Materialize the corpus's MinHash state as a shard-partitioned index."""
    state = minhash_doc_state(df, ID, TEXT, cfg).persist()
    _band_rows(state, N_SHARDS).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(f"{path}/bands")
    state.select("id", "_sig", "_shn").write.mode("overwrite").parquet(
        f"{path}/state"
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(cfg.minhash_permutations, cfg.lsh_bands, MINHASH_SHINGLE_K, N_SHARDS)],
        "num_perm int, bands int, shingle_k int, n_shards int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")
    state.unpersist(blocking=False)


def read_index_meta(spark, path: str) -> dict:
    row = spark.read.parquet(f"{path}/_meta").first()
    return {k: int(row[k]) for k in ("num_perm", "bands", "shingle_k", "n_shards")}


def append_dedup_index(
    new_df: DataFrame,
    path: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    state: DataFrame | None = None,
) -> None:
    """O(batch) append: only the shard directories the new documents' band
    keys land in are written.  ``cfg`` must match the build-time meta
    (checked); pass ``state`` to reuse an already-computed
    :func:`minhash_doc_state` frame and skip the Arrow pass."""
    meta = read_index_meta(new_df.sparkSession, path)
    _check_meta(meta, cfg)
    if state is None:
        state = minhash_doc_state(new_df, ID, TEXT, cfg)
    state = state.persist()
    _band_rows(state, meta["n_shards"]).write.mode("append").partitionBy(
        "shard"
    ).parquet(f"{path}/bands")
    state.select("id", "_sig", "_shn").write.mode("append").parquet(
        f"{path}/state"
    )
    state.unpersist(blocking=False)


def _check_meta(meta: dict, cfg: ResolutionConfig) -> None:
    got = (cfg.minhash_permutations, cfg.lsh_bands, MINHASH_SHINGLE_K)
    want = (meta["num_perm"], meta["bands"], meta["shingle_k"])
    if got != want:
        raise ValueError(
            f"dedup_index: config (num_perm, bands, shingle_k)={got} does not "
            f"match the index meta {want} — mixing parameter sets silently "
            "destroys recall, refusing"
        )


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


def query_dedup_index(
    new_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    jaccard_threshold: float = 0.7,
    max_band_fanout: int | None = None,
    lineage: LineageLog = NULL_LINEAGE,
    state: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Near-dup matches of a new batch against the persisted index.

    Returns (query_id, index_id, jaccard) with exact shingle Jaccard >=
    threshold.  Self-matches (a replayed batch probing its own appended
    rows) are excluded by id equality.  ``max_band_fanout`` (default
    ``cfg.max_block_size``) caps how many index documents a single band
    bucket may contribute; capped bands are dropped whole and the exact
    candidate loss is lineage-logged (stage ``dedup_index.hot_bands``)."""
    spark = new_df.sparkSession
    meta = read_index_meta(spark, path)
    _check_meta(meta, cfg)
    if max_band_fanout is None:
        max_band_fanout = cfg.max_block_size

    own_state = state is None
    if state is None:
        state = minhash_doc_state(new_df, id_col, text_col, cfg)
    state = state.persist()

    qbands = _band_rows(state, meta["n_shards"]).select(
        F.col("id").alias("query_id"), "bk", "shard"
    )
    shards = sorted(
        r["shard"] for r in qbands.select("shard").distinct().collect()
    )
    idx_bands = (
        spark.read.parquet(f"{path}/bands")
        .where(F.col("shard").isin(shards))  # PartitionFilter — plan-asserted
        .select(F.col("id").alias("index_id"), "bk", "shard")
        .dropDuplicates(["index_id", "bk"])  # replayed appends are harmless
    )
    # hot-band cap with exact, non-silent accounting
    fanout = idx_bands.groupBy("bk").agg(F.count("*").alias("_fan"))
    hot = fanout.where(F.col("_fan") > max_band_fanout)
    n_hot = hot.limit(1).count()
    if n_hot > 0:
        stats = hot.agg(
            F.count("*").alias("bands"), F.sum("_fan").alias("candidates")
        ).collect()[0]
        lineage.log(
            "dedup_index.hot_bands",
            bands_dropped=int(stats["bands"]),
            index_rows_in_dropped_bands=int(stats["candidates"]),
            max_band_fanout=max_band_fanout,
        )
        idx_bands = idx_bands.join(
            F.broadcast(hot.select("bk")), "bk", "left_anti"
        )

    cand = (
        qbands.join(idx_bands, ["shard", "bk"])
        .where(F.col("query_id") != F.col("index_id"))
        .select("query_id", "index_id")
        .dropDuplicates(["query_id", "index_id"])
    )
    istate = spark.read.parquet(f"{path}/state").dropDuplicates(["id"])
    out = _tier_verify(
        cand.select(
            F.col("query_id").alias("id_1"), F.col("index_id").alias("id_2")
        ),
        state,
        istate,
        meta["num_perm"],
        jaccard_threshold,
    ).select(
        F.col("id_1").alias("query_id"),
        F.col("id_2").alias("index_id"),
        "jaccard",
    )
    if checkpoint:  # tests pass False to plan-assert the pruned probe read
        out = _checkpoint(out)
    if own_state:
        state.unpersist(blocking=False)
    return out


# ---------------------------------------------------------------------------
# the incremental-crawl step
# ---------------------------------------------------------------------------


def incremental_dedup_step(
    new_df: DataFrame,
    path: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    jaccard_threshold: float = 0.7,
    append: bool = True,
    lineage: LineageLog = NULL_LINEAGE,
) -> dict:
    """One crawl-ingest round: drop batch docs near-duplicating the corpus
    index, dedup the remainder within the batch (transitive min-id keep),
    then append the survivors' state to the index.

    Returns ``{"kept": DataFrame, "index_matches": DataFrame,
    "intra_matches": DataFrame}``.  ``kept`` preserves the input columns.

    The Arrow MinHash pass over the batch text runs EXACTLY ONCE — the same
    state frame feeds the index probe, the intra-batch self-join, and the
    index append.  Deterministic: replaying the same batch (even after a
    crash mid-append) converges to the same kept set because index
    self-matches are id-excluded and query-side reads dedup on id."""
    state = minhash_doc_state(new_df, ID, TEXT, cfg).persist()

    index_matches = query_dedup_index(
        new_df, path, ID, TEXT, cfg, jaccard_threshold,
        lineage=lineage, state=state,
    ).persist()
    dropped_vs_index = index_matches.select(
        F.col("query_id").alias("id")
    ).distinct()

    # intra-batch near-dups among docs that survived the index probe
    surv_state = state.join(dropped_vs_index, "id", "left_anti").persist()
    intra = near_duplicate_pairs(surv_state, cfg, jaccard_threshold, lineage).persist()
    # transitive min-id keep: only each duplicate group's minimum id survives
    groups = connected_components(intra.select("id_1", "id_2"))
    losers = (
        groups.where(F.col("id") != F.col("component_id")).select("id")
    )
    kept_ids = (
        surv_state.select("id")
        .join(losers, "id", "left_anti")
    )
    # eager checkpoint: callers act on `kept` after the state caches below
    # are released — without this every downstream action re-runs the Arrow
    # MinHash pass (same discipline as minhash_near_duplicates)
    kept = _checkpoint(
        new_df.join(
            kept_ids.select(F.col("id").alias(ID)).dropDuplicates([ID]),
            ID,
            "left_semi",
        )
    )

    if append:
        kept_state = state.join(kept_ids, "id", "left_semi")
        append_dedup_index(kept, path, cfg, state=kept_state)
    lineage.log(
        "dedup_index.step",
        batch_rows=new_df.count(),
        dropped_vs_index=dropped_vs_index.count(),
        kept=kept.count(),
        appended=bool(append),
    )
    state.unpersist(blocking=False)
    surv_state.unpersist(blocking=False)
    return {"kept": kept, "index_matches": index_matches, "intra_matches": intra}


def dedup_index_stream(
    spark,
    input_dir: str,
    index_path: str,
    output_dir: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    jaccard_threshold: float = 0.7,
    checkpoint_dir: str | None = None,
):
    """Streaming crawl dedup: readStream(parquet dir of ``doc_id string,
    text string`` drops, every file available now) -> foreachBatch
    (:func:`incremental_dedup_step`) -> append kept docs to ``output_dir``.

    At-least-once like every foreachBatch sink here: a crash-replayed batch
    re-probes the index it already appended to — its own ids self-exclude,
    its duplicate ids re-drop, and the only cost is duplicate band/state
    rows that the query side's id-dedup neutralizes (rebuild to compact)."""

    stream = spark.readStream.schema(f"{ID} string, {TEXT} string").parquet(input_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        res = incremental_dedup_step(batch_df, index_path, cfg, jaccard_threshold)
        res["kept"].write.mode("append").parquet(output_dir)

    return stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation",
        checkpoint_dir or f"{index_path}/_stream_checkpoint",
    ).trigger(availableNow=True).start()
