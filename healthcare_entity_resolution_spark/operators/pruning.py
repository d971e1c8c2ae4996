"""Graph pruning (SURVEY.md G5–G9).

Reference behavior (studied at /root/reference/src/physician_resolution/
graph/pruning.py:11-210, single-node networkx, sequential edge removal):

- G5 ``prune_low_confidence_edges``: drop edges below a weight threshold
  (called with ``min_edge_weight * 0.75`` by the full pipeline).
- G6 ``prune_npi_conflicts``: while a component holds >1 distinct
  authoritative id (NPI), remove the weakest edge that either crosses two id
  groups or bridges an id-bearing node to a non-id node, then re-cluster.
- G7 ``prune_oversized_clusters``: while a component exceeds ``max_size``,
  remove its weakest edge (safety cap 1000 iterations).
- G8 ``prune_weak_bridges``: remove bridge edges (whose removal disconnects
  the component) weighing less than ``min_edge_weight``.
- G9 ``full_pruning_pipeline``: G5 -> G6 -> G7 -> G8 in order.

Spark-first re-expression.  The reference removes ONE edge globally then
restarts; here one edge is removed **per affected component per round** —
parallel safe, provably reaches the same fixpoint condition (no conflicted /
oversized components), exact removed-edge set may differ (accepted per
SURVEY.md §7 "Hard parts").  Every G6/G7/G8 decision depends only on the
component an edge sits in, so components can be pruned independently.

G8 has one implementation, the per-component ``applyInPandas`` kernel
(:func:`_component_kernel`): optionally G6 replayed in memory, then G8's
weak bridges with networkx on each piece, and a label for every surviving
edge — the minimum member id of its piece after pruning, the id
:func:`connected_components` would give it.  :func:`prune_weak_bridges` is
one connected-components run plus that kernel.

:func:`full_pruning` runs ONE corpus-wide connected components over the
G5-filtered edges and splits the components by size:

- components of at most ``max_cluster_size`` nodes (bounded; on physician
  data, all of them) go through the kernel with G6 on — one Spark stage,
  however many rounds or edges a component needs.  G7 has nothing to do
  there: G6 only splits components, so none outgrows the cap.
- larger components (unbounded, so not safe to pull into one Python
  worker) keep the distributed loops on their own edges: each
  ``prune_id_conflicts`` / ``prune_oversized_clusters`` round is joins + a
  per-component window ``row_number() = 1`` pick of the weakest qualifying
  edge, an anti-join removal, and a connected-components re-run over ONLY
  the components that lost an edge.  G7 leaves every component within the
  cap, so G8 then runs the same kernel (G6 off) over G7's components.
  This path is skipped when no component is that large (a count observed
  on the checkpoint of the tagged edges, no job of its own).

The kernel's labels give the final clustering (G4) without a second
connected-components run.  Components shrink monotonically, the
distributed loops checkpoint through :func:`connected_components`, and
every removal count is written to lineage (never silent).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ._ckpt import checkpoint as _checkpoint
from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..plans.lineage import NULL_LINEAGE, LineageLog
from .components import connected_components

_EDGE_COLS = ["id_1", "id_2", "weight"]
# G6's round cap, shared by the distributed and the in-memory replay
_ID_CONFLICT_ITERATIONS = 50
# G7's round cap (one weakest edge per oversized component per round)
_OVERSIZED_ITERATIONS = 1000


def prune_low_confidence_edges(edges: DataFrame, threshold: float) -> DataFrame:
    """G5: plain filter — may split clusters, which is often correct."""
    return edges.where(F.col("weight") >= threshold)


def _weakest_edge_per_component(edges_in_comp: DataFrame) -> DataFrame:
    """One weakest edge per component, deterministic tiebreak on ids.
    Keeps ``component_id`` so callers know which components were touched."""
    w = W.partitionBy("component_id").orderBy(
        F.col("weight").asc(), F.col("id_1"), F.col("id_2")
    )
    return (
        edges_in_comp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component_id", "id_1", "id_2")
    )


def _localized_recluster(
    cur: DataFrame,
    assign: DataFrame,
    touched: DataFrame,
    lineage: LineageLog,
) -> DataFrame:
    """Re-run connected components ONLY over the components in ``touched``
    (single column ``component_id``) and splice the new sub-assignments into
    ``assign``.

    Edge removal can only SPLIT a component, never merge two, and
    component_id = min member id in both the global and the sub-graph run —
    so untouched components keep their assignment verbatim and the spliced
    result is identical to a full re-run.  At scale this is the difference
    between O(affected) and O(corpus) work per pruning iteration.
    """
    sub_nodes = assign.join(touched, "component_id", "left_semi").select("id")
    sub_edges = cur.join(
        sub_nodes.withColumnRenamed("id", "id_1"), "id_1", "left_semi"
    ).select("id_1", "id_2")
    sub_assign = connected_components(sub_edges, vertices=sub_nodes, lineage=lineage)
    # the USING join moves component_id to the front — select explicitly so
    # the union cannot silently swap (id, component_id)
    untouched = assign.join(touched, "component_id", "left_anti").select(
        "id", "component_id"
    )
    return _checkpoint(
        untouched.unionByName(sub_assign.select("id", "component_id"))
    )


def prune_id_conflicts(
    edges: DataFrame,
    node_ids: DataFrame,
    lineage: LineageLog = NULL_LINEAGE,
    max_iterations: int = _ID_CONFLICT_ITERATIONS,
) -> DataFrame:
    """G6: resolve authoritative-id conflicts (NPI analog: content digest).

    ``node_ids`` is ``(id, auth_id)`` with NULL meaning "no authoritative
    id".  Qualifying removable edges mirror pruning.py:67-96: endpoints with
    two different ids, or exactly one endpoint carrying an id.
    """
    cur = edges.select(*_EDGE_COLS)
    # one full CC up front; every later iteration re-clusters ONLY the
    # components an edge was removed from (untouched components keep their
    # assignment — O(affected) not O(corpus) per iteration)
    assign = connected_components(cur.select("id_1", "id_2"), lineage=lineage)
    removed_total = 0
    for it in range(max_iterations):
        node = assign.join(node_ids, "id", "left")
        conflicted = (
            node.where(F.col("auth_id").isNotNull())
            .groupBy("component_id")
            .agg(F.countDistinct("auth_id").alias("n_ids"))
            .where(F.col("n_ids") > 1)
            .select("component_id")
        )
        if conflicted.limit(1).count() == 0:
            lineage.log("prune.id_conflicts", iterations=it, edges_removed=removed_total)
            return cur

        a1 = node.select(F.col("id").alias("id_1"), F.col("auth_id").alias("aid_1"),
                         "component_id")
        a2 = node.select(F.col("id").alias("id_2"), F.col("auth_id").alias("aid_2"))
        qual = (
            cur.join(a1, "id_1")
            .join(a2, "id_2")
            .join(conflicted, "component_id", "left_semi")
            .where(
                (F.col("aid_1").isNotNull() & F.col("aid_2").isNotNull()
                 & (F.col("aid_1") != F.col("aid_2")))
                | (F.col("aid_1").isNotNull() != F.col("aid_2").isNotNull())
            )
        )
        to_remove = _checkpoint(_weakest_edge_per_component(qual))
        n_removed = to_remove.count()
        if n_removed == 0:
            # conflicted components held together only by id-less edges;
            # nothing qualifying to cut (reference would loop forever here —
            # its `weakest_edge` can be None too, pruning.py:51-56)
            lineage.log("prune.id_conflicts", iterations=it + 1,
                        edges_removed=removed_total, unresolvable=True)
            return cur
        removed_total += n_removed
        cur = _checkpoint(
            cur.join(to_remove.select("id_1", "id_2"), ["id_1", "id_2"], "left_anti")
        )
        touched = to_remove.select("component_id").distinct()
        lineage.log("prune.recluster", scope="id_conflicts",
                    components_touched=n_removed)
        assign = _localized_recluster(cur, assign, touched, lineage)
    lineage.log("prune.id_conflicts", iterations=max_iterations,
                edges_removed=removed_total, max_iterations_hit=True)
    return cur


def prune_oversized_clusters(
    edges: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
    return_assignments: bool = False,
):
    """G7: split components larger than ``cfg.max_cluster_size`` by removing
    the weakest edge per oversized component per iteration (at most
    ``_OVERSIZED_ITERATIONS``).

    With ``return_assignments=True`` returns ``(edges, assignments)`` so the
    caller (full_pruning) can hand the final component map to G8 instead of
    paying a second corpus-wide connected-components run."""
    cur = edges.select(*_EDGE_COLS)
    # full CC once; afterwards only the components that lost an edge are
    # re-clustered (see _localized_recluster)
    assign = connected_components(cur.select("id_1", "id_2"), lineage=lineage)
    removed_total = 0
    for it in range(_OVERSIZED_ITERATIONS):
        oversized = (
            assign.groupBy("component_id").agg(F.count("*").alias("n"))
            .where(F.col("n") > cfg.max_cluster_size)
            .select("component_id")
        )
        if oversized.limit(1).count() == 0:
            lineage.log("prune.oversized", iterations=it, edges_removed=removed_total)
            return (cur, assign) if return_assignments else cur
        in_comp = cur.join(
            assign.withColumnRenamed("id", "id_1"), "id_1"
        ).join(oversized, "component_id", "left_semi")
        to_remove = _checkpoint(_weakest_edge_per_component(in_comp))
        n_removed = to_remove.count()
        if n_removed == 0:  # oversized but edgeless cannot happen; safety
            lineage.log("prune.oversized", iterations=it + 1,
                        edges_removed=removed_total, unresolvable=True)
            return (cur, assign) if return_assignments else cur
        removed_total += n_removed
        cur = _checkpoint(
            cur.join(to_remove.select("id_1", "id_2"), ["id_1", "id_2"], "left_anti")
        )
        touched = to_remove.select("component_id").distinct()
        lineage.log("prune.recluster", scope="oversized",
                    components_touched=n_removed)
        assign = _localized_recluster(cur, assign, touched, lineage)
    lineage.log("prune.oversized", iterations=_OVERSIZED_ITERATIONS,
                edges_removed=removed_total, max_iterations_hit=True)
    return (cur, assign) if return_assignments else cur


def prune_weak_bridges(
    edges: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> DataFrame:
    """G8: drop bridge edges with weight < ``cfg.min_edge_weight``
    (pruning.py:139-169).

    One connected-components run groups the edges by component; each group
    goes through :func:`_component_kernel` (networkx bridges inside
    ``applyInPandas``).  Components must be bounded (≤ max_cluster_size
    after G7), so each group is a tiny in-memory graph; the stage
    parallelizes across components.  Returns the surviving
    ``(id_1, id_2, weight)`` rows.
    """
    e = edges.select(*_EDGE_COLS)
    assign = connected_components(e.select("id_1", "id_2"), lineage=lineage)
    lineage.log("prune.weak_bridges", reused_assignments=False)
    return _prune_components(_by_component(e, assign),
                             _component_kernel(cfg.min_edge_weight)).select(*_EDGE_COLS)


def _replay_id_conflicts(pdf: pd.DataFrame, max_iterations: int) -> pd.DataFrame:
    """G6 on ONE component's edge rows (``id_1, id_2, weight, aid_1,
    aid_2``), replaying :func:`prune_id_conflicts` round for round: each
    round, every conflicted sub-component loses its weakest qualifying edge
    (weight, then id_1, then id_2); a sub-component stops when it holds no
    conflict or no qualifying edge.  Returns the surviving rows."""
    import networkx as nx

    aid = {}
    for ids, aids in ((pdf["id_1"], pdf["aid_1"]), (pdf["id_2"], pdf["aid_2"])):
        for n, a in zip(ids, aids):
            aid[n] = None if pd.isna(a) else a
    if len(set(aid.values()) - {None}) < 2:
        return pdf
    has1, has2 = pdf["aid_1"].notna(), pdf["aid_2"].notna()
    qualifying = (has1 & has2 & (pdf["aid_1"] != pdf["aid_2"])) | (has1 != has2)
    weakest_first = pdf[qualifying].sort_values(["weight", "id_1", "id_2"])
    candidates = list(zip(weakest_first["id_1"], weakest_first["id_2"]))
    pairs = list(zip(pdf["id_1"], pdf["id_2"]))
    removed: set[tuple] = set()
    for _ in range(max_iterations):
        g = nx.Graph()
        g.add_nodes_from(aid)
        g.add_edges_from(p for p in pairs if p not in removed)
        comp, conflicted = {}, set()
        for i, members in enumerate(nx.connected_components(g)):
            comp.update(dict.fromkeys(members, i))
            if len({aid[n] for n in members} - {None}) > 1:
                conflicted.add(i)
        if not conflicted:
            break
        cut: dict[int, tuple] = {}
        for u, v in candidates:
            c = comp[u]
            if c in conflicted and c not in cut and (u, v) not in removed:
                cut[c] = (u, v)
        if not cut:
            break
        removed.update(cut.values())
    return pdf[[p not in removed for p in pairs]]


def _component_kernel(threshold: float, id_conflict_rounds: int = 0):
    """``applyInPandas`` body for one component of at most
    ``max_cluster_size`` nodes: G6 in up to ``id_conflict_rounds`` rounds
    (0 = no G6, as in the distributed loop; the rows then need no
    ``aid_1, aid_2``), then G8 on each piece G6 left: its bridges weighing
    less than ``threshold``, matched to rows as ``(id_1, id_2)`` with
    ``id_1 < id_2``.  G7 never fires here (G6 only splits).  Returns the
    surviving edges, each labelled with the ``component_id`` of its piece
    after pruning: its minimum member id, as :func:`connected_components`
    labels it."""
    import networkx as nx

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        kept = _replay_id_conflicts(pdf, id_conflict_rounds) if id_conflict_rounds else pdf
        pairs = list(zip(kept["id_1"], kept["id_2"]))
        g = nx.Graph()
        for (u, v), w in zip(pairs, kept["weight"]):
            g.add_edge(u, v, weight=w)
        piece = {n: i for i, c in enumerate(nx.connected_components(g)) for n in c}
        rows = Counter(piece[u] for u, _ in pairs)
        # bridges are per piece; the reference skips clusters of <=2 NODES
        # (pruning.py:147), and for a connected piece <=1 edge <=> <=2
        # nodes, so the row-count guard is exactly equivalent
        weak = {(min(u, v), max(u, v)) for u, v in nx.bridges(g)
                if g[u][v]["weight"] < threshold and rows[piece[u]] > 1}
        out = [(u, v, w) for (u, v), w in zip(pairs, kept["weight"]) if (u, v) not in weak]
        survivors = nx.Graph()
        survivors.add_edges_from((u, v) for u, v, _ in out)
        label = {n: min(c) for c in nx.connected_components(survivors) for n in c}
        return pd.DataFrame([(*row, label[row[0]]) for row in out],
                            columns=[*_EDGE_COLS, "component_id"])

    return prune


def _by_component(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """Tag each edge with its id_1's ``component_id``.  A node whose only
    edges are self-loops has no component; its self-loops form a group of
    their own (and are never cut)."""
    return edges.join(assign.withColumnRenamed("id", "id_1"), "id_1", "left").withColumn(
        "component_id", F.coalesce("component_id", "id_1"))


def _prune_components(tagged: DataFrame, kernel) -> DataFrame:
    """Run ``kernel`` over each ``component_id`` group of ``tagged``.  The
    output schema is derived from the input, so ids keep their type."""
    schema = tagged.select(*_EDGE_COLS, "component_id").schema
    return tagged.groupBy("component_id").applyInPandas(kernel, schema=schema)


def full_pruning(
    edges: DataFrame,
    node_ids: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
) -> tuple[DataFrame, DataFrame]:
    """G9 (pruning.py:172-210): G5 at 0.75·min_edge_weight -> G6 -> G7 -> G8
    at min_edge_weight, then G4.  ``node_ids`` holds one ``(id, auth_id)``
    row per node.  Returns ``(edges, assignments)``: the pruned edge set
    and ``(id, component_id)`` for every ``node_ids`` id, equal to
    ``connected_components(edges, vertices=node_ids.select("id"))``.

    One connected-components run over the G5 edges splits the work:
    components of at most ``max_cluster_size`` nodes are pruned in memory by
    one grouped pandas pass; larger ones run the distributed G6 -> G7 loops
    on their own edges, and then the same pass (G8 only) over G7's
    components.  Components are pruned independently, so the result equals
    running the distributed loops over every edge, and the pass labels the
    pieces that survive, so no second connected-components run is needed.
    """
    # the prune.done counts ride on the checkpoints: no job of their own
    n_in, n_large, n_out = Observation(), Observation(), Observation()
    e = _checkpoint(prune_low_confidence_edges(
        edges.observe(n_in, F.count(F.lit(1)).alias("n")), cfg.min_edge_weight * 0.75,
    ).select(*_EDGE_COLS))
    assign = connected_components(e.select("id_1", "id_2"), lineage=lineage)
    sizes = assign.groupBy("component_id").agg(F.count("*").alias("_n"))
    aid = node_ids.select("id", "auth_id")
    bounded = F.coalesce("_n", F.lit(0)) <= cfg.max_cluster_size
    tagged = _checkpoint(
        _by_component(e, assign)
        .join(sizes, "component_id", "left")
        .join(aid.toDF("id_1", "aid_1"), "id_1", "left")
        .join(aid.toDF("id_2", "aid_2"), "id_2", "left")
        .observe(n_large, F.count(F.when(~bounded, 1)).alias("n"))
    )
    out = _prune_components(tagged.where(bounded), _component_kernel(
        cfg.min_edge_weight, _ID_CONFLICT_ITERATIONS))
    lineage.log("prune.weak_bridges", reused_assignments=True)

    has_large = n_large.get["n"] > 0
    if has_large:
        big = prune_id_conflicts(tagged.where(~bounded).select(*_EDGE_COLS),
                                 node_ids, lineage, _ID_CONFLICT_ITERATIONS)
        big, big_assign = prune_oversized_clusters(big, cfg, lineage, return_assignments=True)
        out = out.unionByName(_prune_components(
            _by_component(big, big_assign), _component_kernel(cfg.min_edge_weight)))
    out = _checkpoint(out.observe(n_out, F.count(F.lit(1)).alias("n")))
    n0, n1 = n_in.get["n"], n_out.get["n"]
    lineage.log("prune.done", edges_before=n0, edges_after=n1, removed=n0 - n1,
                large_components=has_large)
    ends = out.select(F.col("id_1").alias("id"), "component_id").union(
        out.select(F.col("id_2").alias("id"), "component_id")).distinct()
    assignments = node_ids.select("id").distinct().join(ends, "id", "left").select(
        "id", F.coalesce("component_id", "id").alias("component_id"))
    return out.select(*_EDGE_COLS), assignments
