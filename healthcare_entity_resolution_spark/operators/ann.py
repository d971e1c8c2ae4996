"""Similarity search over embedding columns (`array<float>`).

- brute_force_topk: exact cosine top-k — the correctness baseline.  Dot
  products via `F.zip_with`+`F.aggregate` (JVM, codegen) for oracle parity.
- sign_lsh_topk: the scale path — multi-table random-hyperplane LSH.
  Probes the query's bucket plus all 1-bit-flip neighbor buckets, so
  moderate boundary effects don't cost recall; exact re-rank inside the
  probed set.
- ivf_topk: inverted-file variant — coarse centroids from a deterministic
  sample, `nprobe` nearest lists probed, exact re-rank inside.

At 100 TB the bucketed variants turn an all-rows scan into a partition-
pruned probe: bucket id is a computed column you can partition/Z-ORDER the
table by, so the scan only reads the probed buckets.

Every function reads ids from ``vec_id`` and vectors from ``embedding``.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)

ID = "vec_id"
VEC = "embedding"
# expected rows per sign-LSH bucket (auto_n_planes)
_TARGET_BUCKET_ROWS = 4096
# base seed of the multi-table hyperplanes; table t uses _LSH_SEED + 1000 * t
_LSH_SEED = 13


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0).cast("double"), lambda a, x: a + x * x))


def _as_double(c):
    return F.transform(c, lambda x: x.cast("double"))


def _vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v) with the vector as array<double>."""
    return embeddings.select(F.col(ID), _as_double(F.col(VEC)).alias("v"))


def _top_k(df: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """Exact cosine of ``v`` against the query, rounded to 6 places; the
    k best by (cosine desc, id)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = _dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q))
    return (
        df.select(ID, F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(ID))
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector (JVM-side)."""
    return _top_k(_vectors(embeddings), query_vec, k)


def sign_bucket(vec_col, n_planes: int = 4):
    """Axis-aligned sign-LSH bucket id: bit i = sign(vec[i]).  The blocking
    key of :func:`all_pairs_near_duplicates`; the multi-table
    :func:`random_hyperplanes` index is the top-k path (axis signs depend
    entirely on the distribution of the first dims)."""
    bits = [
        F.when(F.element_at(vec_col, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def random_hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Seeded Gaussian random projections (Charikar sign-LSH): (n_planes,
    dim), unit rows, deterministic for a given (dim, n_planes, seed)."""
    rng = np.random.default_rng(seed)
    p = rng.standard_normal((n_planes, dim))
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def clamp_sign_planes(n_planes: int, dim: int) -> int:
    """:func:`sign_bucket` derives bit i from ``vec[i]``; a bit past the
    embedding dimension reads NULL and collapses to 0, silently saturating
    the bucket count at ``2^dim`` (expected occupancy then stays far above
    target and the salting cap drops pairs).  Clamp auto-sized plane counts
    to the dimension and log when it happens — past ``dim`` axis bits,
    :func:`random_hyperplanes` is the right tool."""
    if n_planes > dim:
        _LOG.warning(
            "sign-LSH: clamping n_planes %d to embedding dim %d "
            "(use random_hyperplanes for more bits)",
            n_planes,
            dim,
        )
        return max(1, dim)
    return n_planes


def auto_n_planes(n_rows: int) -> int:
    """Bucket-count sizing: 2^n_planes ~ corpus/target so expected bucket
    occupancy stays ~target regardless of corpus size (fixes the round-1
    toy default of 16 buckets at any scale)."""
    import math

    if n_rows <= _TARGET_BUCKET_ROWS:
        return 4
    return max(4, math.ceil(math.log2(n_rows / _TARGET_BUCKET_ROWS)))


def table_buckets(vec_col, planes_per_table: list[np.ndarray]):
    """One bucket id per hash table, tagged ``table_idx << 32 | bucket`` —
    a single Arrow-batched matmul over the stacked plane matrix."""
    stacked = np.vstack([p.astype(np.float64) for p in planes_per_table])
    sizes = [p.shape[0] for p in planes_per_table]
    offsets = np.cumsum([0] + sizes[:-1])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype(np.float64)
        bits = (m @ stacked.T) >= 0
        # vectorized packing: per table, bits[:, off:off+b] @ 2^arange(b)
        # tagged with the table index — no per-row Python loop
        cols = [
            (bits[:, off:off + b] @ (1 << np.arange(b, dtype=np.int64)))
            .astype(np.int64) | (t << 32)
            for t, (off, b) in enumerate(zip(offsets, sizes))
        ]
        packed = np.stack(cols, axis=1)  # (rows, n_tables)
        return pd.Series(list(packed))

    return buckets(vec_col)


def _query_probe_set(query_vec, planes_per_table: list[np.ndarray]) -> list[int]:
    """Per table: the query's bucket plus every 1-bit-flip neighbor."""
    qv = np.asarray(query_vec, dtype=np.float64)
    probes = []
    for t, p in enumerate(planes_per_table):
        b = p.shape[0]
        bits = (p @ qv) >= 0
        qb = int(bits @ (1 << np.arange(b)))
        for cand in [qb] + [qb ^ (1 << i) for i in range(b)]:
            probes.append((t << 32) | cand)
    return probes


def sign_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: ``n_tables``
    independent seeded plane sets; per table the query probes its bucket
    plus every 1-bit neighbor; the candidate union is exact-cosine
    re-ranked.  Multiple tables are the published recall lever — capture
    is ``1-(1-p_table)^L`` — while per-table buckets stay partition-
    prunable (bucket id is a plain long to partition / Z-ORDER by; the
    probe filter is an IN-list the scan can push down).

    ``n_planes=None`` derives bits-per-table from the corpus size (one
    count job).
    """
    e = _vectors(embeddings)
    if n_planes is None:
        n_planes = auto_n_planes(e.count())
    planes_per_table = [
        random_hyperplanes(len(query_vec), n_planes, _LSH_SEED + 1000 * t)
        for t in range(n_tables)
    ]
    probes = _query_probe_set(query_vec, planes_per_table)
    idx = e.select(
        F.col(ID),
        F.explode(table_buckets(F.col("v"), planes_per_table)).alias("tb"),
    )
    cand = idx.where(F.col("tb").isin(probes)).select(ID).distinct()
    return _top_k(e.join(cand, ID, "left_semi"), query_vec, k)


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int | None = None,
    nprobe: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat: deterministic-sample centroids, assign each vector to its
    nearest list (one broadcast of n_lists centroids), probe the nprobe
    lists nearest the query, exact re-rank inside them.

    ``n_lists=None`` derives the FAISS-style sqrt(N) list count from the
    corpus size (capped so the centroid collect stays a driver-trivial
    broadcast); ``nprobe=None`` probes ~1/8 of the lists (min 4)."""
    e = _vectors(embeddings)
    cents = _ivf_centroids(e, n_lists, seed, ID)
    if nprobe is None:
        nprobe = max(4, len(cents) // 8)
    probe_lists = _ivf_probe_lists(cents, query_vec, nprobe)
    assigned = e.withColumn("list_id", _ivf_assign_udf(cents)(F.col("v")))
    return _top_k(assigned.where(F.col("list_id").isin(probe_lists)), query_vec, k)


def _ivf_centroids(e, n_lists, seed, id_col):
    """Deterministic-sample centroids: first n_lists rows by hash order
    (cheap, reproducible; k-means would converge better but needs
    iterations).  Returns the row-normalized (n_lists, dim) matrix."""
    import math

    if n_lists is None:
        n_lists = int(min(65536, max(16, math.isqrt(max(e.count(), 1)))))
    cent_rows = (
        e.withColumn("_r", F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .orderBy("_r")
        .limit(n_lists)
        .collect()
    )
    cents = np.array([r["v"] for r in cent_rows], dtype=np.float64)
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def _ivf_assign_udf(cents: np.ndarray):
    """Arrow-batched nearest-centroid assignment: one matmul per batch."""

    @F.pandas_udf(T.IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int32))

    return assign


def _ivf_probe_lists(cents: np.ndarray, query_vec, nprobe: int) -> list[int]:
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = qv / np.linalg.norm(qv)
    return [int(x) for x in np.argsort(-(cents @ qn))[:nprobe]]


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int | None = None,
    seed: int = 42,
) -> np.ndarray:
    """Materialize the IVF assignment ONCE as parquet PARTITIONED BY
    ``list_id`` (plus the centroid matrix under ``<path>/_centroids``), so
    repeated queries are partition-pruned reads instead of re-assigning
    every vector per query (the ad-hoc :func:`ivf_topk` cost).  Mirrors
    :func:`build_lsh_index`'s on-disk contract; returns the centroids."""
    e = _vectors(embeddings)
    cents = _ivf_centroids(e, n_lists, seed, ID)
    assigned = e.withColumn("list_id", _ivf_assign_udf(cents)(F.col("v")))
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/data"
    )
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    return cents


def _read_centroids(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/_centroids").collect()
    return np.array(
        [r["centroid"] for r in sorted(rows, key=lambda r: r["list_id"])],
        dtype=np.float64,
    )


def query_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Top-k against a :func:`build_ivf_index` layout.  The ``list_id IN
    (...)`` predicate is a PartitionFilter — only the probed list
    directories are scanned.  Pass ``centroids`` to skip the (tiny)
    centroid read on hot paths."""
    if centroids is None:
        centroids = _read_centroids(spark, path)
    if nprobe is None:
        nprobe = max(4, len(centroids) // 8)
    probes = _ivf_probe_lists(centroids, query_vec, nprobe)
    # id dedup makes at-least-once appends (append_ivf_index under crash
    # replay) harmless at query time
    cand = (
        spark.read.parquet(f"{path}/data")
        .where(F.col("list_id").isin(probes))
        .select(ID, "v")
        .dropDuplicates([ID])
    )
    return _top_k(cand, query_vec, k)


def build_lsh_index(
    embeddings: DataFrame,
    path: str,
    n_planes: int | None = None,
    n_tables: int = 4,
) -> list[np.ndarray]:
    """Materialize the multi-table sign-LSH index as parquet PARTITIONED BY
    the bucket id — the on-disk layout that makes ANN a partition-pruned
    read at 100 TB: a query touches ``n_tables x (bits+1)`` directories out
    of ``n_tables x 2^bits``, and the scan's PartitionFilters prove it
    (asserted in tests).  Returns the plane matrices (regenerate them
    anywhere with the same (dim, n_planes) and the module's seeds)."""
    e = _vectors(embeddings)
    if n_planes is None:
        n_planes = auto_n_planes(e.count())
    first = e.select("v").first()
    if first is None or first["v"] is None:
        raise ValueError(
            "build_lsh_index: embeddings frame is empty (or first vector is "
            "null) — cannot infer the embedding dimension"
        )
    dim = len(first["v"])
    planes = [random_hyperplanes(dim, n_planes, _LSH_SEED + 1000 * t)
              for t in range(n_tables)]
    idx = e.select(
        F.col(ID), F.col("v"),
        F.explode(table_buckets(F.col("v"), planes)).alias("tb"),
    )
    idx.write.mode("overwrite").partitionBy("tb").parquet(path)
    return planes


def append_lsh_index(
    new_embeddings: DataFrame,
    path: str,
    planes_per_table: list[np.ndarray],
) -> None:
    """Incrementally add vectors to a :func:`build_lsh_index` layout —
    ``mode('append') + partitionBy`` writes ONLY the bucket directories the
    new vectors land in; existing partitions are untouched, so maintenance
    cost is O(batch), not O(index).  ``planes_per_table`` must be the
    matrices the original build returned (or
    :func:`random_hyperplanes` regenerated with the same (dim, n_planes,
    seed)); mixing plane sets silently corrupts recall.

    Replay-safe by the query side: :func:`query_lsh_index` dedups on
    ``vec_id``, so a crash-replayed micro-batch appending the same ids
    twice costs bytes, not correctness (compact by rebuilding when the
    duplicate fraction grows)."""
    idx = _vectors(new_embeddings).select(
        F.col(ID), F.col("v"),
        F.explode(table_buckets(F.col("v"), planes_per_table)).alias("tb"),
    )
    idx.write.mode("append").partitionBy("tb").parquet(path)


def append_ivf_index(
    new_embeddings: DataFrame,
    path: str,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Incrementally add vectors to a :func:`build_ivf_index` layout: new
    vectors are assigned to the EXISTING centroids (read from
    ``<path>/_centroids`` unless passed) and appended to their list
    partitions only.  Centroids deliberately don't move — queries stay
    consistent and old lists don't need re-writing; rebuild when drift
    between data and centroids degrades recall.  Returns the centroids so
    hot paths can cache them."""
    if centroids is None:
        centroids = _read_centroids(new_embeddings.sparkSession, path)
    assigned = _vectors(new_embeddings).withColumn(
        "list_id", _ivf_assign_udf(centroids)(F.col("v")))
    assigned.write.mode("append").partitionBy("list_id").parquet(f"{path}/data")
    return centroids


def ann_index_stream(
    spark,
    input_dir: str,
    index_path: str,
    planes_per_table: list[np.ndarray],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Streaming ANN index maintenance: readStream(parquet dir) ->
    foreachBatch(:func:`append_lsh_index`) over ``vec_id long, embedding
    array<float>`` drops.  Each micro-batch writes only
    its touched bucket partitions; queries against ``index_path`` see new
    vectors as soon as the batch commits, still partition-pruned.  Same
    foreachBatch discipline as streaming/incremental.py — the checkpoint
    dir gives at-least-once appends, and the query-side id dedup makes
    replays harmless."""

    stream = spark.readStream.schema(
        f"{ID} long, {VEC} array<float>").parquet(input_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_lsh_index(batch_df, index_path, planes_per_table)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation",
        checkpoint_dir or f"{index_path}/_stream_checkpoint",
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def query_lsh_index(
    spark,
    path: str,
    query_vec: list[float],
    planes_per_table: list[np.ndarray],
    k: int = 10,
) -> DataFrame:
    """Top-k against a :func:`build_lsh_index` layout: the ``tb IN (...)``
    filter is a partition filter, so only the probed bucket directories are
    read; exact cosine re-rank inside the candidate union."""
    probes = _query_probe_set(query_vec, planes_per_table)
    cand = (
        spark.read.parquet(path)
        .where(F.col("tb").isin(probes))
        .select(ID, "v")
        .dropDuplicates([ID])
    )
    return _top_k(cand, query_vec, k)


def all_pairs_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    cfg=None,
    lineage=None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: block by sign bucket, exact cosine
    within buckets (boundary pairs in adjacent buckets are missed — the
    standard LSH recall trade).

    Scale discipline: the plane count is :func:`auto_n_planes` of the
    corpus count (clamped to the embedding dimension), so bucket count
    grows with the corpus instead of staying at 16 forever, and the within-bucket self-join
    goes through :func:`blocking.candidate_pairs` — the same hot-block
    salting/cap with exact dropped-pair lineage the record-linkage path
    uses, with vectors joined back onto id-only pairs afterwards (fat
    arrays never ride the blocking shuffle)."""
    from ..config import DEFAULT_CONFIG
    from ..plans.lineage import NULL_LINEAGE
    from . import blocking as B

    cfg = cfg or DEFAULT_CONFIG
    lineage = lineage or NULL_LINEAGE
    e = _vectors(embeddings).withColumnRenamed(ID, "id")
    n_planes = auto_n_planes(e.count())
    first = e.select(F.size("v").alias("d")).first()
    if first is not None and first["d"] is not None and first["d"] > 0:
        n_planes = clamp_sign_planes(n_planes, int(first["d"]))
    bucket = sign_bucket(F.col("v"), n_planes)
    keyed = e.select(
        F.col("id").alias("_id"),
        F.concat(F.lit("ann:"), bucket.cast("string")).alias("_bk"),
    )
    pairs = B.candidate_pairs(keyed, cfg, lineage)
    pairs = pairs.join(
        e.select(F.col("id").alias("id_1"), F.col("v").alias("v1")), "id_1"
    ).join(e.select(F.col("id").alias("id_2"), F.col("v").alias("v2")), "id_2")
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    return pairs.select(
        "id_1", "id_2", F.round(cos, 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)
