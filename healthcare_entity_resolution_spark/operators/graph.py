"""Identity-graph construction & quality (SURVEY.md G1–G3, G11–G13).

The reference keeps an in-memory ``networkx.Graph``
(/root/reference/src/physician_resolution/graph/builder.py:11-137).  Here the
graph IS two DataFrames — ``vertices`` (the records) and ``edges`` — and
every graph op below is a join/groupBy.  Per-component *algorithmic*
diagnostics (bridges, articulation points) run networkx **inside**
``applyInPandas`` — component-local, bounded by max_cluster_size, embarrassingly
parallel (SURVEY §2.13).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ResolutionConfig

# edge-weight reliability per source (reference graph/builder.py:95-137)
SOURCE_RELIABILITY = {"cms": 1.0, "license": 0.9, "hospital": 0.8, "publication": 0.6}


def _reliability_expr(col):
    expr = F.lit(0.5)
    for src, rel in SOURCE_RELIABILITY.items():
        expr = F.when(col == src, F.lit(rel)).otherwise(expr)
    return expr


def build_edges(records: DataFrame, matches: DataFrame) -> DataFrame:
    """G1–G3: decorate confirmed matches (id_1, id_2, overall_score) with
    edge type (builder.py:71-92), source pair, and reliability-adjusted
    weight (builder.py:95-137): w = score * avg(rel) * 1.1^cross, cap 0.99."""
    a = records.select(
        F.col("source_id").alias("id_1"),
        F.col("npi").alias("npi_1"),
        F.col("source").alias("source_1"),
    )
    b = records.select(
        F.col("source_id").alias("id_2"),
        F.col("npi").alias("npi_2"),
        F.col("source").alias("source_2"),
    )
    e = matches.join(a, "id_1").join(b, "id_2")
    edge_type = (
        F.when(
            F.col("npi_1").isNotNull()
            & F.col("npi_2").isNotNull()
            & (F.col("npi_1") == F.col("npi_2")),
            "npi_exact",
        )
        .when(F.col("overall_score") >= 0.85, "name_strong")
        .when(F.col("overall_score") >= 0.6, "name_moderate")
        .otherwise("weak")
    )
    rel1 = _reliability_expr(F.col("source_1"))
    rel2 = _reliability_expr(F.col("source_2"))
    cross = F.when(F.col("source_1") != F.col("source_2"), 1.1).otherwise(1.0)
    weight = F.least(F.lit(0.99), F.col("overall_score") * ((rel1 + rel2) / 2) * cross)
    return e.select(
        "id_1", "id_2",
        weight.alias("weight"),
        edge_type.alias("match_type"),
        F.concat_ws("|", "source_1", "source_2").alias("sources"),
    )


def cluster_quality(
    records: DataFrame,
    edges: DataFrame,
    assignments: DataFrame,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """G13 (graph/quality.py semantics): per-cluster size, avg/min edge
    weight, density, distinct-NPI count, conflict flag, warnings array, and
    a penalty-product quality score (NPI conflict -> x0.1)."""
    rec = records.join(
        assignments.withColumnRenamed("id", "source_id"), "source_id"
    )
    node_stats = rec.groupBy("component_id").agg(
        F.count("*").alias("size"),
        F.countDistinct("npi").alias("npi_count"),
        F.countDistinct("facility_state").alias("state_count"),
        F.countDistinct("source").alias("source_count"),
    )
    e = edges.join(
        assignments.select(F.col("id").alias("id_1"), F.col("component_id")), "id_1"
    )
    edge_stats = e.groupBy("component_id").agg(
        F.count("*").alias("n_edges"),
        F.round(F.avg("weight"), 6).alias("avg_weight"),
        F.round(F.min("weight"), 6).alias("min_weight"),
    )
    q = node_stats.join(edge_stats, "component_id", "left").fillna(
        {"n_edges": 0}
    )
    density = F.when(
        F.col("size") > 1,
        F.col("n_edges") / (F.col("size") * (F.col("size") - 1) / 2),
    ).otherwise(F.lit(1.0))
    npi_conflict = F.col("npi_count") > 1
    quality = (
        F.coalesce(F.col("avg_weight"), F.lit(0.5))
        * F.when(npi_conflict, 0.1).otherwise(1.0)
        * F.when(F.col("size") > cfg.max_cluster_size / 2, 0.5).otherwise(1.0)
    )
    warnings = F.array_compact(
        F.array(
            F.when(npi_conflict, F.lit("npi_conflict")),
            F.when(F.col("size") > cfg.max_cluster_size / 2, F.lit("large_cluster")),
            F.when(F.col("state_count") > 3, F.lit("many_states")),
            F.when(F.coalesce(F.col("min_weight"), F.lit(1.0)) < cfg.min_edge_weight,
                   F.lit("weak_edge")),
        )
    )
    return q.select(
        "component_id", "size", "n_edges", "avg_weight", "min_weight",
        F.round(density, 6).alias("density"),
        "npi_count", "state_count", "source_count",
        npi_conflict.alias("npi_conflict"),
        F.round(quality, 6).alias("quality_score"),
        warnings.alias("warnings"),
    )


# Specialty pairs with different training paths — a cluster containing both
# sides of a pair is likely overmatched (overmatching.py:77-88).
INCOMPATIBLE_SPECIALTY_GROUPS: list[tuple[str, str]] = [
    ("PEDIATRICS", "GERIATRICS"),
    ("OBSTETRICS", "UROLOGY"),
    ("DERMATOLOGY", "CARDIOLOGY"),
    ("PSYCHIATRY", "ORTHOPEDIC SURGERY"),
    ("OPHTHALMOLOGY", "GASTROENTEROLOGY"),
]


def specialty_conflicts(records: DataFrame, assignments: DataFrame) -> DataFrame:
    """G11 specialty check (overmatching.py:74-97): per component, true iff
    two records' specialties hit DIFFERENT sides of an incompatible group.

    Distributed form of the reference's pairwise substring scan: each record
    gets a per-group membership mask (1 = contains term A only, 2 = term B
    only, 3 = both); a component conflicts on a group iff it holds >1
    distinct non-zero mask — exactly the reference's ``matches1 and matches2
    and matches1 != matches2`` for a two-term group, with no pair explosion.
    """
    rec = records.join(
        assignments.withColumnRenamed("id", "source_id"), "source_id"
    ).where(F.col("specialty").isNotNull()).withColumn(
        "_s", F.upper(F.trim("specialty"))
    )
    aggs = []
    for i, (a, b) in enumerate(INCOMPATIBLE_SPECIALTY_GROUPS):
        mask = (
            F.col("_s").contains(a).cast("int")
            + F.col("_s").contains(b).cast("int") * 2
        )
        rec = rec.withColumn(f"_m{i}", mask)
        aggs.append(
            F.countDistinct(
                F.when(F.col(f"_m{i}") > 0, F.col(f"_m{i}"))
            ).alias(f"_g{i}")
        )
    agg = rec.groupBy("component_id").agg(*aggs)
    conflict = F.lit(False)
    for i in range(len(INCOMPATIBLE_SPECIALTY_GROUPS)):
        conflict = conflict | (F.col(f"_g{i}") > 1)
    return agg.select("component_id", conflict.alias("specialty_conflict"))


def detect_overmatching(
    quality: DataFrame,
    records: DataFrame | None = None,
    assignments: DataFrame | None = None,
    edges: DataFrame | None = None,
    diagnostics: DataFrame | None = None,
) -> DataFrame:
    """G11 (graph/overmatching.py:10-97): heuristic flags per cluster.
    Pass ``records`` + ``assignments`` to enable the incompatible-specialty
    check (the reference's check #3); pass ``edges`` too to enable the
    weak-bridge check (#5, overmatching.py:64-70: the cluster hangs on one
    or more bridge edges with weight < 0.5).  If the caller already ran
    :func:`component_graph_diagnostics` (the G12 surface), pass its output
    as ``diagnostics`` so the per-component networkx pass — the most
    expensive Python stage here — is not run a second time."""
    if records is not None and assignments is not None:
        sc = specialty_conflicts(records, assignments)
        quality = quality.join(sc, "component_id", "left").withColumn(
            "specialty_conflict", F.coalesce("specialty_conflict", F.lit(False))
        )
    else:
        quality = quality.withColumn("specialty_conflict", F.lit(False))
    if diagnostics is not None or (edges is not None and assignments is not None):
        if diagnostics is None:
            diagnostics = component_graph_diagnostics(edges, assignments)
        wb = diagnostics.select("component_id", "n_weak_bridges")
        quality = quality.join(wb, "component_id", "left").withColumn(
            "n_weak_bridges", F.coalesce("n_weak_bridges", F.lit(0))
        )
    else:
        quality = quality.withColumn("n_weak_bridges", F.lit(0))
    flags = F.array_compact(
        F.array(
            F.when(F.col("npi_conflict"), F.lit("npi_conflict")),
            # reference uses if/elif: >50 emits only very_large
            F.when(F.col("size") > 50, F.lit("very_large")),
            F.when((F.col("size") > 20) & (F.col("size") <= 50), F.lit("large")),
            F.when(F.col("specialty_conflict"), F.lit("specialty_conflict")),
            F.when(F.col("state_count") > 3, F.lit("geographic_spread")),
            F.when(F.col("n_weak_bridges") > 0, F.lit("weak_bridge")),
        )
    )
    return quality.select(
        "component_id", "size", flags.alias("overmatch_flags")
    ).where(F.size(flags) > 0)


GRAPH_DIAG_SCHEMA = (
    "component_id string, n_nodes int, n_bridges int, n_weak_bridges int, "
    "n_articulation int, cohesion double"
)


def component_graph_diagnostics(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """G8-helper/G12: per-component bridges / weak bridges (weight below
    0.5, reference overmatching.py:100-123) / articulation
    points / cohesion via networkx inside applyInPandas (components bounded
    by G7)."""
    e = edges.join(
        assignments.select(F.col("id").alias("id_1"), "component_id"), "id_1"
    ).select("component_id", "id_1", "id_2", "weight")

    def diag(pdf: pd.DataFrame) -> pd.DataFrame:
        import networkx as nx

        g = nx.Graph()
        for r in pdf.itertuples():
            g.add_edge(r.id_1, r.id_2, weight=r.weight)
        n = g.number_of_nodes()
        bridges = list(nx.bridges(g)) if n > 2 else []
        weak = [(u, v) for u, v in bridges
                if g[u][v].get("weight", 0.5) < 0.5]
        arts = list(nx.articulation_points(g)) if n > 2 else []
        # reference cohesion (overmatching.py:164-186):
        # 0.6 * avg edge weight + 0.4 * density; singletons -> 1.0
        if n <= 1:
            cohesion = 1.0
        else:
            ws = [d.get("weight", 0.5) for _, _, d in g.edges(data=True)]
            max_e = n * (n - 1) / 2
            density = len(ws) / max_e if max_e else 0.0
            cohesion = ((sum(ws) / len(ws)) * 0.6 + density * 0.4) if ws else 0.0
        return pd.DataFrame(
            [{
                "component_id": pdf["component_id"].iloc[0],
                "n_nodes": n,
                "n_bridges": len(bridges),
                "n_weak_bridges": len(weak),
                "n_articulation": len(arts),
                "cohesion": cohesion,
            }]
        )

    return e.groupBy("component_id").applyInPandas(diag, schema=GRAPH_DIAG_SCHEMA)


def component_stats(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """G12, SQL-expressible half (reference overmatching.py:164-186 feeds on
    these counts): per-component node/edge counts and density as a pure
    DataFrame aggregation — no networkx, fully oracle-checkable.  The
    bridge/articulation half stays in :func:`component_graph_diagnostics`
    (not SQL-expressible, rows-only check by design).

    Micro-unit floor quantization (not round) keeps the density comparable
    across engines."""
    e = edges.join(
        assignments.select(F.col("id").alias("id_1"), "component_id"), "id_1"
    ).select("component_id", "id_1", "id_2")
    nodes = (
        e.select("component_id", F.col("id_1").alias("id"))
        .unionByName(e.select("component_id", F.col("id_2").alias("id")))
        .groupBy("component_id")
        .agg(F.countDistinct("id").alias("n_nodes"))
    )
    es = e.groupBy("component_id").agg(F.count("*").alias("n_edges"))
    out = nodes.join(es, "component_id")
    density = F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2)
    return out.select(
        "component_id", "n_nodes", "n_edges",
        F.floor(density * 1e6).alias("density_micro"),
    )


SPLIT_SCHEMA = "component_id string, split_part int, id string"


def suggest_cluster_splits(
    edges: DataFrame,
    assignments: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """G12 (overmatching.py:137-156): remove weak bridges (< threshold) per
    component and emit the resulting parts as rows ``(component_id,
    split_part, id)`` — the exploded form of the reference's list-of-sets.

    Runs networkx per component inside ``applyInPandas``; components are
    bounded by G7's max_cluster_size so each group is a tiny in-memory
    graph.  Parts are numbered by ascending min member id (deterministic).
    Components with no weak bridge yield a single part 0.
    """
    e = edges.join(
        assignments.select(F.col("id").alias("id_1"), "component_id"), "id_1"
    ).select("component_id", "id_1", "id_2", "weight")

    def splits(pdf: pd.DataFrame) -> pd.DataFrame:
        import networkx as nx

        g = nx.Graph()
        for r in pdf.itertuples():
            g.add_edge(str(r.id_1), str(r.id_2), weight=r.weight)
        weak = [
            (u, v) for u, v in nx.bridges(g)
            if g[u][v].get("weight", 0.5) < threshold
        ]
        g.remove_edges_from(weak)
        comp_id = str(pdf["component_id"].iloc[0])
        parts = sorted(nx.connected_components(g), key=min)
        rows = [
            {"component_id": comp_id, "split_part": i, "id": nid}
            for i, part in enumerate(parts)
            for nid in sorted(part)
        ]
        return pd.DataFrame(rows, columns=["component_id", "split_part", "id"])

    return e.groupBy("component_id").applyInPandas(splits, schema=SPLIT_SCHEMA)
