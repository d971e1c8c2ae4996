"""Transitive clustering: connected components (SURVEY.md G4).

Replaces the reference's ``networkx.connected_components``
(/root/reference/src/physician_resolution/graph/clustering.py:10-34) with the
**alternating large-star / small-star** algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) expressed as DataFrame
joins + groupBy min-aggregations:

- large-star: every node connects its strictly-larger neighbors to its
  minimum neighbor — contracts high-degree (skewed) nodes.
- small-star: every node connects its smaller-or-equal neighbors to the
  minimum — builds stars pointing at component minima.

Both phases are shuffle-on-node-id aggregations; AQE handles residual skew.
Each iteration is ``checkpoint()``-ed (north_rule) so the logical plan does
not grow with iteration count and an interrupted run resumes from the last
materialized edge set.  Converges in O(log^2 n) rounds; component id is the
minimum member id (deterministic).

Works over any orderable id type; the pipeline feeds LongType ids for
shuffle efficiency at scale.

:func:`driver_connected_components` is the same semantics as an in-driver
numpy kernel over an Arrow edge list, for graphs whose size a caller has
already bounded (the micro-batch's contracted graph): it costs no Spark job.
Unbounded graphs stay on the distributed version.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import checkpoint as _checkpoint
from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..plans.lineage import NULL_LINEAGE, LineageLog


def _large_star(edges: DataFrame) -> DataFrame:
    nbr = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbr.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.withColumn("m", F.least(F.col("mn"), F.col("u"))).select("u", "m")
    return (
        nbr.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    from_nbrs = (
        oriented.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    from_self = m.select(F.col("u"), F.col("m").alias("v"))
    return from_nbrs.union(from_self).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """Edges ``(id_1, id_2)`` in; returns assignments ``(id, component_id)``,
    component_id = min member.

    ``vertices`` (optional, single column ``id``) adds isolated nodes as
    singleton components — matching the reference graph, whose nodes are all
    records, edges only confirmed matches (graph/builder.py:28-68).
    """
    e = edges.select(F.col("id_1").alias("u"), F.col("id_2").alias("v")).where(
        F.col("u") != F.col("v")
    ).distinct()

    prev_sig: tuple | None = None
    cur = _checkpoint(e)
    for it in range(cfg.cc_max_iterations):
        nxt = _checkpoint(_small_star(_large_star(cur)))
        # convergence = stable edge set, detected with ONE aggregation:
        # (count, order-independent hash-sum) — replaces the earlier
        # count + anti-join pair of jobs per iteration
        row = nxt.agg(
            F.count("*").alias("n"),
            # decimal(38) accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode.  Two independent-seed hash-sums in the SAME
            # aggregation put false convergence at ~2^-128 instead of ~2^-64
            # at no extra job cost.
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            F.sum(F.xxhash64("u", "v", F.lit(1)).cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        sig = (row["n"], row["h"], row["h2"])
        cur = nxt
        if sig == prev_sig:
            lineage.log("cc.converged", iterations=it + 1, star_edges=sig[0])
            break
        prev_sig = sig
    else:
        lineage.log("cc.max_iterations_hit", iterations=cfg.cc_max_iterations)

    assign = cur.select(F.col("u").alias("id"), F.col("v").alias("component_id"))
    # roots (and edge-endpoints that appear only as targets) map to themselves
    endpoints = e.select(F.col("u").alias("id")).union(e.select(F.col("v").alias("id"))).distinct()
    base = vertices.select("id").distinct() if vertices is not None else endpoints
    return base.join(assign, "id", "left").select(
        "id", F.coalesce("component_id", "id").alias("component_id"))


def driver_connected_components(
    edges: pa.Table, lineage: LineageLog = NULL_LINEAGE
) -> pa.Table:
    """:func:`connected_components` (no ``vertices``) as a numpy kernel in
    the driver: Arrow ``(id_1, id_2)`` edges in, an Arrow table
    ``(id, component_id)`` over their endpoints out, component id = minimum
    member id.  Self-loops and rows with a NULL endpoint add nothing, as in
    the distributed version.

    Ids are sorted (pyarrow ``sort_indices``: byte order for strings, as
    Spark compares them; numeric order for integers) and replaced by their
    rank, so the minimum code is the minimum id.  The labels are a min-label
    union-find: each round hooks every edge's two roots to the smaller one
    (``np.minimum.at``) and pointer-jumps every vertex to its root, until
    both ends of every edge share a root.  ``cc.converged`` logs the rounds
    and ``star_edges`` = non-root vertices, the edge count the distributed
    run converges to.

    Memory is O(E) and the caller bounds E: the micro-batch's contracted
    graph has at most as many edges as the batch's new match edges, and at
    most two vertices per edge plus the new files.  Envelope (Spark
    ``toArrow()`` collect + this kernel, one core of a shared 4-core x86
    host): 1M edges over 714k 64-character string ids collect as a 136 MB
    Arrow table in ~1.0 s; the kernel takes ~1.2 s (5 rounds), peaks at
    434 MB of Arrow memory (collect included) plus 73 MB of numpy arrays,
    and returns a 97 MB table; the driver's Python process peaked at
    685 MB RSS.
    """
    keep = pc.fill_null(pc.not_equal(edges["id_1"], edges["id_2"]), False)
    e = edges.filter(keep)
    m = e.num_rows
    ends = pa.chunked_array(
        e["id_1"].chunks + e["id_2"].chunks, type=edges.schema.field("id_1").type
    ).combine_chunks().dictionary_encode()
    order = pc.sort_indices(ends.dictionary).to_numpy()
    n = len(order)
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    codes = rank[ends.indices.to_numpy()]
    s, d = codes[:m], codes[m:]

    lab = np.arange(n)
    rounds = 0
    while True:
        rounds += 1
        ls, ld = lab[s], lab[d]
        if np.array_equal(ls, ld):
            break
        low = np.minimum(ls, ld)
        np.minimum.at(lab, ls, low)
        np.minimum.at(lab, ld, low)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
    lineage.log("cc.converged", iterations=rounds,
                star_edges=int(np.count_nonzero(lab != np.arange(n))))
    ids = ends.dictionary.take(order)
    return pa.table({"id": ids, "component_id": ids.take(lab)})


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    return assignments.groupBy("component_id").agg(F.count("*").alias("size"))


def assign_cluster_labels(assignments: DataFrame) -> DataFrame:
    """G10 (clustering.py:73-87): ``CLUSTER_{rank:05d}`` by size desc,
    deterministic tiebreak on component_id.

    Two-phase global rank: ``repartitionByRange`` on the sort key, then a
    per-range-partition ``row_number`` plus driver-computed partition offsets
    (one tiny collect of per-partition counts).  No single-partition window —
    the round-1 ``W.orderBy(...)`` with no partitionBy funneled every
    component through one task, a bottleneck at 10^8+ components.  The global
    rank is deterministic for ANY range boundaries because (size desc,
    component_id) is a total order.
    """
    from pyspark.sql import Window as W

    sizes = cluster_sizes(assignments)
    spark = assignments.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (TypeError, ValueError):  # e.g. "auto" on some runtimes
        n_parts = sizes.rdd.getNumPartitions()
    parted = sizes.repartitionByRange(
        n_parts, F.col("size").desc(), F.col("component_id")
    ).withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["n"] for r in
              parted.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # tiny (_pid, offset) broadcast join: O(1) expression depth regardless
    # of partition count (a when-chain here bloats codegen at thousands of
    # shuffle partitions)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    local = W.partitionBy("_pid").orderBy(F.col("size").desc(), F.col("component_id"))
    labeled = _checkpoint(
        parted.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            "cluster_label",
            F.format_string(
                "CLUSTER_%05d",
                (F.row_number().over(local) - 1
                 + F.coalesce("_off", F.lit(0))).cast("int"),
            ),
        ).select("component_id", "cluster_label", "size")
    )  # materialized before unpersist so offsets can't shift under recompute
    parted.unpersist(blocking=False)
    return assignments.join(labeled, "component_id").select(
        "id", "component_id", "cluster_label", "size"
    )
