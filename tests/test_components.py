"""Property-test large-star/small-star CC against networkx (SURVEY §7 M5)."""

import random

import networkx as nx
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.operators.components import (
    assign_cluster_labels,
    connected_components,
    driver_connected_components,
)
from healthcare_entity_resolution_spark.plans.lineage import LineageLog


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(m)]
    return nodes, [(a, b) for a, b in edges if a != b]


def _spark_cc(spark, edges, vertices=None):
    edf = spark.createDataFrame(edges or [("__none__", "__none__")], ["id_1", "id_2"])
    if not edges:
        edf = edf.where(F.lit(False))
    vdf = (
        spark.createDataFrame([(v,) for v in vertices], ["id"]) if vertices else None
    )
    out = connected_components(edf, vertices=vdf)
    rows = out.collect()
    comp: dict[str, set] = {}
    for r in rows:
        comp.setdefault(r["component_id"], set()).add(r["id"])
    return {frozenset(s) for s in comp.values()}, rows


@pytest.mark.parametrize("seed,n,m", [(1, 30, 20), (2, 50, 60), (3, 80, 40), (4, 25, 200)])
def test_cc_matches_networkx_random_graphs(spark, seed, n, m):
    nodes, edges = _random_edges(seed, n, m)
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(edges)
    expected = {frozenset(c) for c in nx.connected_components(g)}
    got, rows = _spark_cc(spark, edges, vertices=nodes)
    assert got == expected
    # component id is the minimum member id (deterministic)
    for r in rows:
        comp_members = next(s for s in got if r["id"] in s)
        assert r["component_id"] == min(comp_members)


def test_cc_chain_long_diameter(spark):
    # a 40-node path exercises the O(log n) contraction, not 40 iterations
    nodes = [f"p{i:02d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    got, rows = _spark_cc(spark, edges, vertices=nodes)
    assert got == {frozenset(nodes)}
    assert all(r["component_id"] == "p00" for r in rows)


def test_cc_isolated_vertices_are_singletons(spark):
    got, _ = _spark_cc(spark, [("a", "b")], vertices=["a", "b", "c", "d"])
    assert got == {frozenset({"a", "b"}), frozenset({"c"}), frozenset({"d"})}


PINNED_GRAPHS = {
    **{f"random-{s}-{n}-{m}": _random_edges(s, n, m)[1]
       for s, n, m in [(1, 30, 20), (2, 50, 60), (3, 80, 40), (4, 25, 200)]},
    "chain-40": list(zip([f"p{i:02d}" for i in range(40)],
                         [f"p{i:02d}" for i in range(1, 40)])),
    # string order is not numeric order: "10" < "9", "100" < "11"
    "lexicographic": [("9", "10"), ("10", "100"), ("11", "2"), ("2", "100"),
                      ("7", "8"), ("80", "8"), ("5", "5")],
    "empty": [],
}


@pytest.mark.parametrize("name", sorted(PINNED_GRAPHS))
def test_driver_cc_equals_distributed(spark, name):
    """The in-driver kernel and the distributed large-star/small-star run
    give the same (id, component_id) rows and converge to the same number
    of star edges (non-root vertices)."""
    edges = PINNED_GRAPHS[name]
    edf = spark.createDataFrame(edges, "id_1 string, id_2 string")
    dist_log, local_log = LineageLog(), LineageLog()
    dist = sorted(map(tuple, connected_components(edf, lineage=dist_log).collect()))
    local = driver_connected_components(
        pa.table({"id_1": pa.array([a for a, _ in edges], pa.string()),
                  "id_2": pa.array([b for _, b in edges], pa.string())}),
        local_log,
    )
    assert sorted(zip(local["id"].to_pylist(),
                      local["component_id"].to_pylist())) == dist

    def star_edges(log):
        return [e["star_edges"] for e in log.events if e["stage"] == "cc.converged"]

    assert star_edges(local_log) == star_edges(dist_log)
    assert len(star_edges(dist_log)) == 1


def test_cluster_labels_by_size_desc(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    edf = spark.createDataFrame(edges, ["id_1", "id_2"])
    assign = connected_components(edf)
    labeled = {r["id"]: r["cluster_label"] for r in assign_cluster_labels(assign).collect()}
    assert labeled["a"] == labeled["b"] == labeled["c"] == "CLUSTER_00000"
    assert labeled["x"] == labeled["y"] == "CLUSTER_00001"
