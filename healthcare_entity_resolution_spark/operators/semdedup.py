"""Semantic (embedding-space) deduplication, SemDeDup-style.

Public method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster the
embeddings with k centroids, then inside each cluster drop every example
whose cosine similarity to an already-kept example exceeds a threshold —
near-duplicate *meaning*, not just near-duplicate bytes, which MinHash
(`dedup.minhash_near_duplicates`) cannot see.

Spark shape:
  * Centroid assignment is ONE broadcast matmul per Arrow batch (reuses
    `ann._ivf_centroids` / `ann._ivf_assign_udf` — the same centroids the
    IVF index uses, so a corpus can share one clustering for search AND
    dedup).
  * The O(m^2) similarity pass runs per cluster inside `applyInPandas` as a
    single numpy gram matrix — never a Spark-side pair explosion.  Total
    cost is sum(m_i^2), bounded by ``max_cluster_rows``.
  * Clusters bigger than ``max_cluster_rows`` are subdivided by a
    deterministic id-hash before the quadratic pass.  Pairs that straddle
    sub-clusters are NOT compared — the standard recall trade of capped
    quadratic work — and the exact row counts affected are lineage-logged
    (stage ``semdedup.oversized``), never silent.

Keep policies (both deterministic):
  * ``"min_id"`` (default): scan in ascending id order; canonical and
    stable under re-runs and appends.
  * ``"far_from_centroid"``: scan ordered by ascending centroid similarity
    (ties by id) — SemDeDup's published rule of keeping, within each
    duplicate neighborhood, the example least typical of its cluster
    (§3 of the paper), which preserves more diversity at equal budget.

The reference repo has no embedding surface at all; this operator belongs
to the 100 TB training-data extension mandated by the driver brief.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..plans.lineage import NULL_LINEAGE, LineageLog
from .ann import _as_double, _ivf_assign_udf, _ivf_centroids

OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("list_id", T.IntegerType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("dup_of", T.StringType()),
    ]
)


def _greedy_kernel(threshold: float, policy: str):
    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vectors: sim 0 to everything, kept
        mn = m / norms
        if policy == "far_from_centroid":
            # centroid of the (sub)cluster in normalized space; least-typical
            # examples scanned (and therefore kept) first
            c = mn.mean(axis=0)
            cn = np.linalg.norm(c)
            csim = mn @ (c / cn) if cn > 0 else np.zeros(len(mn))
            _ids = pdf["id"].to_numpy()
            order = sorted(range(len(_ids)), key=lambda i: (csim[i], _ids[i]))
        else:
            _ids = pdf["id"].to_numpy()
            order = sorted(range(len(_ids)), key=lambda i: _ids[i])
        g = mn @ mn.T
        ids = pdf["id"].to_numpy()
        keep = np.zeros(len(ids), dtype=bool)
        dup_of = np.full(len(ids), None, dtype=object)
        kept_rows: list[int] = []
        for i in order:
            if kept_rows:
                sims = g[i, kept_rows]
                hit = np.nonzero(sims > threshold)[0]
                if hit.size:
                    keep[i] = False
                    dup_of[i] = ids[kept_rows[int(hit[0])]]  # first kept hit
                    continue
            keep[i] = True
            kept_rows.append(int(i))
        return pd.DataFrame(
            {
                "id": ids,
                "list_id": pdf["list_id"].to_numpy(),
                "keep": keep,
                "dup_of": dup_of,
            }
        )

    return dedup_cluster


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_lists: int | None = None,
    seed: int = 42,
    max_cluster_rows: int = 4096,
    policy: str = "min_id",
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """Returns (id, list_id, keep, dup_of) for every ``(vec_id, embedding)``
    input row, ``id`` being ``vec_id`` as a string; filter ``keep`` for the
    deduplicated corpus.  ``dup_of`` names the kept row
    that suppressed a dropped one (same cluster, cosine > threshold)."""
    if policy not in ("min_id", "far_from_centroid"):
        raise ValueError(f"semantic_dedup: unknown keep policy {policy!r}")
    e = embeddings.select(
        F.col("vec_id").cast("string").alias("id"),
        _as_double(F.col("embedding")).alias("v"),
    )
    cents = _ivf_centroids(e, n_lists, seed, "id")
    assigned = e.withColumn("list_id", _ivf_assign_udf(cents)(F.col("v")))

    sizes = assigned.groupBy("list_id").agg(F.count("*").alias("_m"))
    over = sizes.where(F.col("_m") > max_cluster_rows)
    n_over = over.limit(1).count()
    if n_over > 0:
        stats = over.agg(
            F.count("*").alias("clusters"), F.sum("_m").alias("rows")
        ).collect()[0]
        lineage.log(
            "semdedup.oversized",
            clusters_subdivided=int(stats["clusters"]),
            rows_in_subdivided=int(stats["rows"]),
            max_cluster_rows=max_cluster_rows,
        )
        assigned = (
            assigned.join(F.broadcast(over.select("list_id", "_m")), "list_id", "left")
            .withColumn(
                "_nsub",
                F.when(F.col("_m").isNull(), F.lit(1)).otherwise(
                    F.ceil(F.col("_m") / F.lit(max_cluster_rows)).cast("int")
                ),
            )
            .withColumn("_sub", F.pmod(F.xxhash64("id"), F.col("_nsub")).cast("int"))
            .drop("_m", "_nsub")
        )
    else:
        assigned = assigned.withColumn("_sub", F.lit(0))

    return (
        assigned.groupBy("list_id", "_sub")
        .applyInPandas(_greedy_kernel(threshold, policy), schema=OUT_SCHEMA)
    )


def semantic_dedup_survivors(
    embeddings: DataFrame,
    threshold: float = 0.95,
    **kw,
) -> DataFrame:
    """Convenience: the input rows whose ``embedding`` survived
    :func:`semantic_dedup` (semi join on ``vec_id`` — input columns
    preserved)."""
    kept = semantic_dedup(embeddings, threshold, **kw).where("keep")
    return embeddings.join(
        kept.select(F.col("id").cast("string").alias("_kid")),
        F.col("vec_id").cast("string") == F.col("_kid"),
        "left_semi",
    )
