"""Property-test large-star/small-star CC against networkx (SURVEY §7 M5)."""

import contextlib
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


def _expected_rows(edges, vertices=()):
    g = nx.Graph()
    g.add_nodes_from(vertices)
    g.add_edges_from((a, b) for a, b in edges if a != b)
    return sorted((n, min(c)) for c in nx.connected_components(g) for n in c)


def _cc_events(log):
    return [e for e in log.events if e["stage"].startswith("cc.")]


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    """``n`` shuffle partitions; with AQE's coalescing off, a small graph's
    components span them."""
    keys = {"spark.sql.shuffle.partitions": str(n),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", ["random-4-25-200", "chain-40", "lexicographic",
                                  "empty", "self-loops"])
def test_cc_same_output_for_any_partitioning(spark, name):
    """The rows do not depend on the partitioning: at 1 shuffle partition
    every component is pre-contracted to a star (no round); at 4 and 16
    (AQE's coalescing off) components span partitions, so pre-contraction
    is partial and the rounds finish the job (a 40-node path needs them).
    Input partitions vary too, and isolated vertices come out as
    singletons."""
    edges = ({**PINNED_GRAPHS, "self-loops": [("a", "a"), ("b", "b")]})[name]
    vertices = sorted({x for e in edges for x in e} | {"zz-isolated", "0-isolated"})
    edf = spark.createDataFrame(edges, "id_1 string, id_2 string")
    vdf = spark.createDataFrame([(v,) for v in vertices], "id string")
    rounds = {}
    layouts = ((1, edf.repartition(5)), (4, edf.coalesce(1)), (16, edf.repartition(7)))
    for shuffle, parts in layouts:
        with _shuffle_partitions(spark, shuffle):
            log = LineageLog()
            got = sorted(map(tuple, connected_components(parts, lineage=log).collect()))
            assert got == _expected_rows(edges), shuffle
            (ev,) = _cc_events(log)
            assert ev["stage"] == "cc.converged"
            rounds[shuffle] = ev["iterations"]
            got_v = sorted(map(tuple, connected_components(parts, vdf).collect()))
            assert got_v == _expected_rows(edges, vertices), shuffle
    assert rounds[1] == 0
    if name == "chain-40":
        assert rounds[16] > 0


def test_cc_reads_its_input_once(spark):
    """The input lineage is evaluated once: a Python UDF in it counts one
    call per input row, though the rounds (the graph spans 4 partitions)
    and the result's endpoints run jobs of their own."""
    edges = PINNED_GRAPHS["random-2-50-60"] + [("x", "x")]
    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    edf = spark.createDataFrame(edges, "id_1 string, id_2 string").repartition(3)
    # nondeterministic: the optimizer may not copy the call into the filter
    counted = edf.select(
        F.udf(tick, "string").asNondeterministic()("id_1").alias("id_1"), "id_2")
    log = LineageLog()
    with _shuffle_partitions(spark, 4):
        rows = connected_components(counted, lineage=log).collect()
    assert sorted(map(tuple, rows)) == _expected_rows(edges)
    assert _cc_events(log)[0]["iterations"] > 0
    assert calls.value == len(edges)
