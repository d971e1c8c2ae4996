"""Referral-network analytics (SURVEY.md §2.10, N1–N6 + A10–A11).

Reference behavior (studied at /root/reference/src/physician_resolution/
network/{referrals.py:13-150, influence.py:14-220}): a networkx DiGraph of
canonical-entity referrals, nx.pagerank influence, degree metrics, colleague
detection, ego networks.  Here the graph IS an edges DataFrame
``(src, dst, referral_count, last_referral_date)`` and every op but
PageRank is joins/groupBy.  PageRank collects the edge list once (one Arrow
job) and runs the power iteration as a numpy kernel in the driver: the
graph is over canonical entities, not records, so its O(E) edge list fits
(envelope in :func:`pagerank`'s docstring), and an in-driver loop costs no
Spark job per iteration.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..plans.lineage import NULL_LINEAGE, LineageLog

# PageRank damping factor and per-node L1 convergence tolerance (networkx's
# defaults, influence.py:14-50)
PAGERANK_ALPHA = 0.85
PAGERANK_TOL = 1.0e-6
# largest facility whose members are paired as colleagues
MAX_FACILITY_SIZE = 100


def build_referral_graph(referrals: DataFrame, mapping: DataFrame) -> DataFrame:
    """N1/A10 (referrals.py:13-85 + J3): map raw referral endpoints
    (``referring_npi`` -> ``receiving_npi`` on ``referral_date``) through
    the source->canonical mapping (two broadcast joins, inner = drop
    unresolved), drop self-loops, aggregate count + max(date) per edge."""
    m_src = mapping.select(
        F.col("source_key").alias("referring_npi"), F.col("canonical_id").alias("src")
    )
    m_dst = mapping.select(
        F.col("source_key").alias("receiving_npi"), F.col("canonical_id").alias("dst")
    )
    return (
        referrals.join(F.broadcast(m_src), "referring_npi")
        .join(F.broadcast(m_dst), "receiving_npi")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.count("*").alias("referral_count"),
            F.max("referral_date").alias("last_referral_date"),
        )
    )


def pagerank(
    edges: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
    fixed_iter: int | None = None,
) -> DataFrame:
    """N2 (influence.py:14-50): PageRank alpha=0.85 over the referral graph.

    The edge list ``(src, dst, w = referral_count)`` is collected ONCE with
    ``toArrow()`` (one Spark job), ids are mapped to dense int32 codes by a
    pyarrow ``dictionary_encode`` over ``src`` and ``dst`` concatenated
    (string and bigint ids alike, no per-edge Python objects), and the power
    iteration runs in numpy::

        out_w = bincount(s, w)
        rank' = (1-alpha)/n + alpha*dangling/n + alpha*bincount(d, p*rank[s])

    with ``p = w / out_w[s]``.  A node whose out-edge weights sum to 0 is
    dangling (networkx semantics), so no division by zero reaches the
    kernel.  Nodes are distinct ``src`` ∪ ``dst`` (ids must be non-NULL and
    of one type); a NULL weight counts as 0.  Convergence is networkx's: L1
    delta ``< tol * n``, dangling mass taken from the previous ranks.

    ``fixed_iter`` runs exactly that many power iterations with no
    convergence check — the deterministic mode the DuckDB recursive-CTE
    oracle replays.

    The graph is over canonical entities, not records, so the edge list
    fits the driver: memory is O(E).  Envelope (the Arrow + numpy part
    alone, one core of a shared 4-core x86 host): 5M edges over 500k string
    ids hold ~200 MB as an Arrow table, encode in ~2.2 s and run 20
    iterations in ~2.2 s.  The result is a local relation
    ``(id <type of src>, pagerank double)`` with no upstream lineage.
    """
    alpha, tol = PAGERANK_ALPHA, PAGERANK_TOL
    spark = edges.sparkSession
    schema = StructType([
        StructField("id", edges.schema["src"].dataType),
        StructField("pagerank", DoubleType()),
    ])
    tbl = edges.select(
        "src", "dst",
        F.coalesce(F.col("referral_count").cast("double"), F.lit(0.0)).alias("w"),
    ).toArrow()
    m = tbl.num_rows
    if m == 0:
        return spark.createDataFrame([], schema)
    ids = pa.chunked_array(
        tbl.column("src").chunks + tbl.column("dst").chunks,
        type=tbl.schema.field("src").type,
    ).combine_chunks().dictionary_encode()
    codes = ids.indices.to_numpy()
    s, d = codes[:m], codes[m:]
    wv = tbl.column("w").to_numpy()
    n = len(ids.dictionary)

    out_w = np.bincount(s, weights=wv, minlength=n)
    dangling = out_w == 0
    p = np.divide(wv, out_w[s], out=np.zeros(m), where=~dangling[s])

    rank = np.full(n, 1.0 / n)
    n_iter = fixed_iter if fixed_iter is not None else cfg.pagerank_max_iter
    for it in range(n_iter):
        base = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n
        new = base + alpha * np.bincount(d, weights=p * rank[s], minlength=n)
        delta = np.abs(new - rank).sum()
        rank = new
        if fixed_iter is None and delta < tol * n:
            lineage.log("pagerank.converged", iterations=it + 1, delta=float(delta))
            break
    else:
        lineage.log("pagerank.fixed_iterations" if fixed_iter is not None
                    else "pagerank.max_iterations_hit", iterations=n_iter)

    return spark.createDataFrame(
        pa.table({"id": ids.dictionary, "pagerank": rank}), schema
    )


def referral_metrics(edges: DataFrame) -> DataFrame:
    """N3/A11 (influence.py:62-87): per-node in/out degree and volume."""
    outs = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree"), F.sum("referral_count").alias("out_volume")
    )
    ins = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree"), F.sum("referral_count").alias("in_volume")
    )
    return (
        outs.join(ins, "id", "full")
        .fillna(0, ["out_degree", "out_volume", "in_degree", "in_volume"])
    )


def colleague_pairs(entities: DataFrame, lineage: LineageLog = NULL_LINEAGE) -> DataFrame:
    """N4 (influence.py:90-135): same-facility pairs of ``canonical_id``s
    sharing a ``primary_facility``; facilities of more than
    ``MAX_FACILITY_SIZE`` members are skipped (the reference's
    `continue` at influence.py:113), and ``network.colleagues_skipped``
    logs how many and their members (one aggregation job)."""
    fac = entities.where(F.col("primary_facility").isNotNull()).select(
        F.col("primary_facility").alias("facility"), F.col("canonical_id").alias("id")
    )
    sizes = fac.groupBy("facility").agg(F.count("*").alias("n"))
    over = sizes.where(F.col("n") > MAX_FACILITY_SIZE).agg(
        F.count("*").alias("facilities"), F.sum("n").alias("members")).collect()[0]
    lineage.log("network.colleagues_skipped", facilities=over["facilities"],
                members=over["members"] or 0, max_facility_size=MAX_FACILITY_SIZE)
    keep = sizes.where((F.col("n") >= 2) & (F.col("n") <= MAX_FACILITY_SIZE))
    fac = fac.join(F.broadcast(keep.select("facility")), "facility", "left_semi")
    a = fac.select("facility", F.col("id").alias("id_1"))
    b = fac.select("facility", F.col("id").alias("id_2"))
    return (
        a.join(b, "facility")
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "facility",
                F.lit("same_facility").alias("relation_type"),
                F.lit(0.5).alias("strength"))
    )


def merge_colleague_edges(pairs: DataFrame) -> DataFrame:
    """N5 (influence.py:138-163): max strength + union of relation types."""
    return pairs.groupBy("id_1", "id_2").agg(
        F.max("strength").alias("strength"),
        F.sort_array(F.collect_set("relation_type")).alias("relation_types"),
    )


def ego_network(
    edges: DataFrame,
    colleague_edges: DataFrame | None,
    node_id: str,
) -> dict[str, DataFrame]:
    """N6 (influence.py:166-220): 1-hop predecessors / successors /
    colleagues of a node, as three small DataFrames."""
    refers_to = edges.where(F.col("src") == node_id).select(
        F.col("dst").alias("id"), "referral_count"
    )
    referred_by = edges.where(F.col("dst") == node_id).select(
        F.col("src").alias("id"), "referral_count"
    )
    out = {"refers_to": refers_to, "referred_by": referred_by}
    if colleague_edges is not None:
        out["colleagues"] = (
            colleague_edges.where(
                (F.col("id_1") == node_id) | (F.col("id_2") == node_id)
            ).select(
                F.when(F.col("id_1") == node_id, F.col("id_2"))
                .otherwise(F.col("id_1")).alias("id"),
                "strength",
            )
        )
    return out

