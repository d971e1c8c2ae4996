"""G5–G9 pruning + K1–K5 canonicalization unit tests (SURVEY.md §5).

Mirrors the reference's clustering/integration layers
(/root/reference/tests/test_clustering.py semantics): NPI-conflict pruning
must leave ≤1 distinct authoritative id per final cluster; oversized
clusters split; survivorship picks mode/argmax exactly.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import ResolutionConfig
from healthcare_entity_resolution_spark.operators import canonicalize as K
from healthcare_entity_resolution_spark.operators import pruning as P
from healthcare_entity_resolution_spark.operators.components import connected_components


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_1 string, id_2 string, weight double")


def test_prune_low_confidence(spark):
    e = _edges(spark, [("a", "b", 0.9), ("b", "c", 0.2), ("c", "d", 0.31)])
    out = P.prune_low_confidence_edges(e, 0.30).collect()
    assert sorted((r.id_1, r.id_2) for r in out) == [("a", "b"), ("c", "d")]


def test_prune_id_conflicts_resolves(spark):
    # two NPI groups glued by one weak cross edge (b-c); conflict pruning
    # must cut it and leave each final cluster with <=1 distinct auth id
    e = _edges(spark, [
        ("a", "b", 0.9), ("b", "c", 0.45), ("c", "d", 0.92),
    ])
    ids = spark.createDataFrame(
        [("a", "111"), ("b", "111"), ("c", "222"), ("d", "222")],
        "id string, auth_id string",
    )
    pruned = P.prune_id_conflicts(e, ids)
    kept = sorted((r.id_1, r.id_2) for r in pruned.collect())
    assert kept == [("a", "b"), ("c", "d")]
    assign = connected_components(pruned)
    chk = (
        assign.join(ids, "id")
        .groupBy("component_id").agg(F.countDistinct("auth_id").alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert chk == 1


def test_prune_id_conflicts_bridging_node(spark):
    # id-less node m bridges two conflicting id groups; a bridging edge
    # (one endpoint with id) is removable per pruning.py:88-96
    e = _edges(spark, [("a", "m", 0.8), ("m", "z", 0.6)])
    ids = spark.createDataFrame(
        [("a", "111"), ("z", "222"), ("m", None)], "id string, auth_id string"
    )
    pruned = P.prune_id_conflicts(e, ids)
    assign = connected_components(pruned, vertices=ids.select("id"))
    n_conf = (
        assign.join(ids, "id").where(F.col("auth_id").isNotNull())
        .groupBy("component_id").agg(F.countDistinct("auth_id").alias("n"))
        .where(F.col("n") > 1).count()
    )
    assert n_conf == 0


def test_prune_oversized(spark):
    # chain of 6 nodes, max size 3 -> must split; weakest edges cut first
    rows = [(f"n{i}", f"n{i+1}", 0.5 + 0.01 * i) for i in range(5)]
    e = _edges(spark, rows)
    cfg = ResolutionConfig(max_cluster_size=3)
    pruned = P.prune_oversized_clusters(e, cfg)
    sizes = (
        connected_components(pruned, vertices=spark.createDataFrame(
            [(f"n{i}",) for i in range(6)], "id string"))
        .groupBy("component_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert sizes <= 3


def test_prune_weak_bridges(spark):
    # two triangles joined by one weak bridge; triangle edges are not bridges
    e = _edges(spark, [
        ("a", "b", 0.5), ("b", "c", 0.5), ("a", "c", 0.5),
        ("c", "d", 0.35),                       # weak bridge
        ("d", "e", 0.5), ("e", "f", 0.5), ("d", "f", 0.5),
    ])
    out = P.prune_weak_bridges(e, ResolutionConfig(min_edge_weight=0.40))
    kept = {(r.id_1, r.id_2) for r in out.collect()}
    assert ("c", "d") not in kept and len(kept) == 6


def test_full_pruning_pipeline(spark):
    e = _edges(spark, [
        ("a", "b", 0.9), ("b", "c", 0.45), ("c", "d", 0.92),
        ("x", "y", 0.1),   # below 0.75*0.40 -> G5 drops
    ])
    ids = spark.createDataFrame(
        [("a", "111"), ("b", "111"), ("c", "222"), ("d", "222"),
         ("x", None), ("y", None)], "id string, auth_id string"
    )
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    lin = LineageLog()
    out, _ = P.full_pruning(e, ids, lineage=lin)
    kept = sorted((r.id_1, r.id_2) for r in out.collect())
    assert kept == [("a", "b"), ("c", "d")]
    # G8 must reuse G7's component map — one fewer corpus-wide CC per run
    ev = [e for e in lin.events if e["stage"] == "prune.weak_bridges"][0]
    assert ev["reused_assignments"] is True


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        # cluster {r1,r2,r3}: two sources, conflicting name lengths
        ("r1", "cms", "1234567890", "SMITH, JOHN A", "CARDIOLOGY", "MERCY GENERAL", "SPRINGFIELD", "IL"),
        ("r2", "license", "1234567890", "SMITH, JOHN", "CARD", "MERCY GEN", "SPRINGFIELD", "IL"),
        ("r3", "publication", None, "J SMITH", "CARDIOLOGY", "MERCY GENERAL", "CHICAGO", "IL"),
        # singleton
        ("r9", "hospital", None, "DOE, JANE", None, "ST MARY", "DAYTON", "OH"),
    ]
    return spark.createDataFrame(
        rows,
        "source_id string, source string, npi string, name_raw string, "
        "specialty string, facility_name string, facility_city string, "
        "facility_state string",
    )


@pytest.fixture(scope="module")
def assignments(spark):
    return spark.createDataFrame(
        [("r1", "c1"), ("r2", "c1"), ("r3", "c1"), ("r9", "c9")],
        "id string, component_id string",
    )


def test_canonical_entities_survivorship(spark, records, assignments):
    ents = {r["component_id"]: r for r in K.canonical_entities(records, assignments).collect()}
    c1 = ents["c1"]
    assert c1["canonical_id"] == "PHY_1234567890"          # K1 mode valid NPI
    assert c1["name"] == "SMITH, JOHN A"                   # cms prio, longest
    assert c1["specialty"] == "CARDIOLOGY"                 # mode(normalized)
    assert c1["primary_facility"] == "MERCY GENERAL"       # count desc
    assert c1["city"] == "SPRINGFIELD" and c1["state"] == "IL"
    assert c1["all_facilities"] == ["MERCY GEN", "MERCY GENERAL"]
    assert c1["source_count"] == 3
    c9 = ents["c9"]
    assert c9["canonical_id"].startswith("PHY_") and len(c9["canonical_id"]) == 16
    assert c9["npi"] is None

    mapping = K.source_canonical_mapping(
        K.canonical_entities(records, assignments)
    ).collect()
    assert len(mapping) == 4


def test_entity_and_record_confidence(spark, records, assignments):
    edges = _edges(spark, [("r1", "r2", 0.9), ("r2", "r3", 0.6)])
    ec = {r["component_id"]: r["entity_confidence"]
          for r in K.entity_confidence(records, edges, assignments).collect()}
    # c1: avg=.75 min=.6 density=2/3 npi_score=1 diversity=1
    expected = 0.75 * 0.30 + 0.6 * 0.15 + (2 / 3) * 0.15 + 1.0 * 0.25 + 1.0 * 0.15
    assert ec["c1"] == pytest.approx(expected, abs=1e-6)
    assert ec["c9"] == pytest.approx(0.70)                 # hospital singleton

    rc = {r["id"]: r["record_confidence"]
          for r in K.record_confidence(edges, assignments).collect()}
    assert rc["r1"] == pytest.approx(0.9)                  # one edge: .6a+.4m
    assert rc["r2"] == pytest.approx(0.75 * 0.6 + 0.9 * 0.4)
    assert rc["r9"] == pytest.approx(0.8)                  # singleton


def test_prune_id_conflicts_localized_recluster(spark):
    """After the initial full CC, each pruning iteration re-clusters ONLY the
    touched components: with 1 conflicted + 200 clean components the sub-CC
    job must see a handful of edges, never the corpus (lineage-audited)."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    conflict_edges = [("a", "b", 0.9), ("b", "c", 0.45), ("c", "d", 0.92)]
    clean_edges = [(f"x{i}", f"y{i}", 0.9) for i in range(200)]
    e = _edges(spark, conflict_edges + clean_edges)
    ids = spark.createDataFrame(
        [("a", "111"), ("b", "111"), ("c", "222"), ("d", "222")]
        + [(f"x{i}", None) for i in range(200)],
        "id string, auth_id string",
    )
    lin = LineageLog()
    pruned = P.prune_id_conflicts(e, ids, lineage=lin)
    kept = sorted((r.id_1, r.id_2) for r in pruned.collect())
    assert ("b", "c") not in kept
    assert ("a", "b") in kept and ("c", "d") in kept
    assert len(kept) == 202

    stages = [ev["stage"] for ev in lin.events]
    assert "prune.recluster" in stages
    # the up-front full CC logs too; only runs after the first re-cluster
    # event are the localized ones
    assert stages.index("cc.converged") < stages.index("prune.recluster")
    after = lin.events[stages.index("prune.recluster"):]
    sub_cc = [ev for ev in after if ev["stage"] == "cc.converged"]
    assert sub_cc, "localized re-cluster must have run"
    for ev in sub_cc:
        # conflicted component has 4 nodes; the 200 clean components must
        # not flow through the re-cluster
        assert ev["star_edges"] <= 4, ev


def _seeded_graph(seed):
    """~35 edges: components of 2-4 nodes and of 7-8 nodes (above a cap of
    5), random auth ids (two per component plus id-less nodes), tied
    weights, some below G5's cut; plus three fixed bounded components:
    an id-less bridging node (pm), a weight tie that the id_1-then-id_2
    order breaks differently from id_2-then-id_1 (ta-td vs tb-tc), and a
    G6 split leaving a one-edge piece with a weak edge that G8 must skip
    (sa-sb)."""
    rng = random.Random(seed)
    rows = [
        ("pa", "pm", 0.45), ("pm", "pz", 0.45),
        ("ta", "td", 0.45), ("tc", "td", 0.9), ("tb", "tc", 0.45),
        ("sa", "sb", 0.35), ("sb", "sc", 0.45), ("sc", "sd", 0.9), ("sd", "se", 0.9),
    ]
    ids = [("pa", "111"), ("pm", None), ("pz", "222"),
           ("ta", "111"), ("tb", "222"), ("tc", None), ("td", None),
           ("sa", "111"), ("sb", "111"), ("sc", "222"), ("sd", "222"), ("se", "222")]
    for c, size in enumerate([2, 3, 4, 7, 8]):
        nodes = [f"c{c}n{i}" for i in range(size)]
        ids += [(n, rng.choice([None, f"{c}a", f"{c}b"])) for n in nodes]
        pairs = {tuple(sorted((nodes[i], rng.choice(nodes[:i])))) for i in range(1, size)}
        while len(pairs) < size - 1 + size // 3:
            pairs.add(tuple(sorted(rng.sample(nodes, 2))))
        rows += [(u, v, rng.choice([0.2, 0.35, 0.45, 0.45, 0.6, 0.9]))
                 for u, v in sorted(pairs)]
    return rows, ids


def _conflicted_components(edge_rows, id_rows):
    """Components (over ``edge_rows``) holding >1 distinct auth id."""
    parent = {n: n for n, _ in id_rows}

    def find(n):
        while parent[n] != n:
            n = parent[n]
        return n

    for u, v, _w in edge_rows:
        parent[find(u)] = find(v)
    per_root = {}
    for n, a in id_rows:
        if a is not None:
            per_root.setdefault(find(n), set()).add(a)
    return sum(len(s) > 1 for s in per_root.values())


@pytest.mark.parametrize("seed,rounds", [(1, 50), (2, 1)])
def test_full_pruning_equals_distributed_composition(spark, monkeypatch, seed, rounds):
    """The in-memory pass over bounded components plus the distributed loops
    over larger ones return exactly the edges of G5 -> G6 -> G7 -> G8 run
    distributed over every edge.  ``rounds=1`` caps G6 so some conflicts
    cannot be resolved (with one auth id per node, every conflicted
    component has a qualifying edge; only the round cap leaves one)."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    rows, id_rows = _seeded_graph(seed)
    e = _edges(spark, rows)
    ids = spark.createDataFrame(id_rows, "id string, auth_id string")
    cfg = ResolutionConfig(max_cluster_size=5)

    ref = P.prune_low_confidence_edges(e, cfg.min_edge_weight * 0.75)
    ref = P.prune_id_conflicts(ref, ids, max_iterations=rounds)
    ref = P.prune_oversized_clusters(ref, cfg)
    ref = P.prune_weak_bridges(ref, cfg)
    expected = sorted(tuple(r) for r in ref.collect())

    monkeypatch.setattr(P, "_ID_CONFLICT_ITERATIONS", rounds)
    lin = LineageLog()
    pruned, assign = P.full_pruning(e, ids, cfg, lin)
    got = sorted(tuple(r) for r in pruned.collect())
    assert got == expected
    # the returned clustering is G4 over the returned edges
    cc = connected_components(pruned, vertices=ids.select("id"))
    assert sorted(tuple(r) for r in assign.collect()) == sorted(tuple(r) for r in cc.collect())
    done = [ev for ev in lin.events if ev["stage"] == "prune.done"][0]
    assert done["large_components"] is True
    assert (_conflicted_components(got, id_rows) > 0) == (rounds == 1)


def test_full_pruning_bounded_components_run_one_cc(spark):
    """All components within the cap: one connected-components run, no
    re-clustering loop, G8 on the global component map."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    rows = [
        ("a", "b", 0.9), ("b", "c", 0.45), ("c", "d", 0.92),   # id conflict
        ("p", "q", 0.5), ("q", "r", 0.5), ("p", "r", 0.5),      # triangle ...
        ("r", "s", 0.35),                                       # weak bridge
        ("s", "t", 0.5), ("t", "u", 0.5), ("s", "u", 0.5),
        ("x", "y", 0.1),                                        # G5 drops
    ]
    ids = spark.createDataFrame(
        [("a", "111"), ("b", "111"), ("c", "222"), ("d", "222")],
        "id string, auth_id string",
    )
    lin = LineageLog()
    pruned, _ = P.full_pruning(_edges(spark, rows), ids, lineage=lin)
    kept = {(r.id_1, r.id_2) for r in pruned.collect()}
    assert kept == {(u, v) for u, v, _ in rows} - {("b", "c"), ("r", "s"), ("x", "y")}

    stages = [ev["stage"] for ev in lin.events]
    assert stages.count("cc.converged") == 1
    assert "prune.recluster" not in stages
    bridges = [ev for ev in lin.events if ev["stage"] == "prune.weak_bridges"]
    assert [ev["reused_assignments"] for ev in bridges] == [True]
    done = [ev for ev in lin.events if ev["stage"] == "prune.done"]
    assert len(done) == 1 and done[0]["removed"] == 3
    assert done[0]["large_components"] is False


def test_full_pruning_local_components_run_no_round(spark):
    """A small graph: AQE coalesces its deduplicated edges into one
    partition, pre-contraction leaves every component a star, and the one
    connected-components run needs no large/small-star round.  The
    prune.done counts (observed on checkpoints) are exact."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    rows = [("a", "b", 0.9), ("b", "c", 0.9), ("c", "d", 0.9),
            ("p", "q", 0.5), ("q", "r", 0.5), ("x", "y", 0.1)]
    ids = spark.createDataFrame([("a", "111"), ("d", "111")], "id string, auth_id string")
    lin = LineageLog()
    pruned, assign = P.full_pruning(_edges(spark, rows).repartition(3), ids, lineage=lin)
    assert pruned.count() == 5
    assert dict(assign.collect()) == {"a": "a", "d": "a"}
    cc = [ev for ev in lin.events if ev["stage"].startswith("cc.")]
    assert [(ev["stage"], ev["iterations"]) for ev in cc] == [("cc.converged", 0)]
    done = [ev for ev in lin.events if ev["stage"] == "prune.done"]
    assert [(ev["edges_before"], ev["edges_after"], ev["removed"], ev["large_components"])
            for ev in done] == [(6, 5, 1, False)]


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_pruning_keeps_id_type(spark, id_type):
    """G8 and full pruning work on string and on bigint ids: the kernel's
    output schema follows the input's id type."""
    def node(i):
        return i if id_type == "bigint" else f"n{i}"

    # two triangles joined by one weak bridge (3-4), plus an isolated node 9
    rows = [(node(u), node(v), w) for u, v, w in [
        (1, 2, 0.5), (2, 3, 0.5), (1, 3, 0.5), (3, 4, 0.35),
        (4, 5, 0.5), (5, 6, 0.5), (4, 6, 0.5)]]
    e = spark.createDataFrame(rows, f"id_1 {id_type}, id_2 {id_type}, weight double")
    expected = {(u, v) for u, v, _ in rows} - {(node(3), node(4))}
    cfg = ResolutionConfig(min_edge_weight=0.40)

    kept = {(r.id_1, r.id_2) for r in P.prune_weak_bridges(e, cfg).collect()}
    assert kept == expected

    ids = spark.createDataFrame([(node(i), None) for i in [1, 2, 3, 4, 5, 6, 9]],
                                f"id {id_type}, auth_id string")
    pruned, assign = P.full_pruning(e, ids, cfg)
    assert {(r.id_1, r.id_2) for r in pruned.collect()} == expected
    assert dict(assign.collect()) == {
        node(1): node(1), node(2): node(1), node(3): node(1),
        node(4): node(4), node(5): node(4), node(6): node(4), node(9): node(9)}
