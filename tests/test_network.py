"""N1–N6 referral-network tests; PageRank property-checked against networkx
(SURVEY.md §5 / §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import ResolutionConfig
from healthcare_entity_resolution_spark.operators import network as N
from healthcare_entity_resolution_spark.plans.lineage import LineageLog


@pytest.fixture(scope="module")
def referral_edges(spark):
    rows = [
        ("PHY_A", "PHY_B", 5, "2024-01-03"),
        ("PHY_A", "PHY_C", 2, "2024-02-01"),
        ("PHY_B", "PHY_C", 7, "2024-03-10"),
        ("PHY_C", "PHY_A", 1, "2024-01-20"),
        ("PHY_D", "PHY_C", 3, "2024-04-05"),
    ]
    return spark.createDataFrame(
        rows, "src string, dst string, referral_count long, last_referral_date string"
    )


def test_build_referral_graph(spark):
    raw = spark.createDataFrame(
        [("n1", "n2", "2024-01-01"), ("n1", "n2", "2024-02-01"),
         ("n1", "n9", "2024-01-01"),          # n9 unresolved -> dropped
         ("n2", "n2b", "2024-03-01")],        # same canonical -> self-loop dropped
        "referring_npi string, receiving_npi string, referral_date string",
    )
    mapping = spark.createDataFrame(
        [("n1", "PHY_X"), ("n2", "PHY_Y"), ("n2b", "PHY_Y")],
        "source_key string, canonical_id string",
    )
    out = N.build_referral_graph(raw, mapping).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.src, r.dst, r.referral_count, r.last_referral_date) == (
        "PHY_X", "PHY_Y", 2, "2024-02-01"
    )


def _reference_pagerank(edges, alpha=0.85, tol=1e-6, max_iter=100, fixed_iter=None):
    """Plain-Python power iteration with networkx.pagerank semantics,
    without the networkx/scipy dependency.  A node whose out-weights sum
    to 0 is dangling.  ``fixed_iter`` runs exactly that many iterations with
    no convergence check.  Returns ``(ranks, iterations)``."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in nodes}
    n_iter = fixed_iter if fixed_iter is not None else max_iter
    for it in range(n_iter):
        dangling = sum(rank[v] for v in nodes if not out_w.get(v))
        new = {v: (1 - alpha) / n + alpha * dangling / n for v in nodes}
        for s, d, w in edges:
            if out_w[s]:
                new[d] += alpha * rank[s] * w / out_w[s]
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if fixed_iter is None and delta < tol * n:
            return rank, it + 1
    return rank, n_iter


_PAGERANK_CASES = {
    # A -> B -> C -> D, D a dangling sink
    "dangling_chain": ("string", [("A", "B", 2), ("B", "C", 1), ("C", "D", 4)]),
    # repeated (src, dst) rows: their weights sum
    "repeated_rows": ("string", [("A", "B", 1), ("A", "B", 3), ("A", "C", 1),
                                 ("B", "C", 2), ("C", "A", 1), ("C", "A", 1)]),
    "bigint_ids": ("bigint", [(10, 20, 3), (20, 30, 1), (30, 10, 2), (40, 30, 5),
                              (20, 10, 1)]),
    # A's out-weights sum to 0: A is dangling, not a division by zero
    "zero_out_weight": ("string", [("A", "B", 0), ("B", "C", 2), ("C", "A", 1)]),
}


def _pagerank_case(spark, referral_edges, case):
    """``(edges, fixed_iter)``: the module graph (converged or 7 fixed
    iterations) or one of ``_PAGERANK_CASES``."""
    if case in ("referral", "fixed_iter_7"):
        edges = referral_edges.select("src", "dst", "referral_count")
        return edges, (7 if case == "fixed_iter_7" else None)
    id_type, rows = _PAGERANK_CASES[case]
    edges = spark.createDataFrame(
        rows, f"src {id_type}, dst {id_type}, referral_count long")
    return edges, None


@pytest.mark.parametrize("case", ["referral", *_PAGERANK_CASES, "fixed_iter_7"])
def test_pagerank_matches_reference(spark, referral_edges, case):
    edges, fixed_iter = _pagerank_case(spark, referral_edges, case)
    lin = LineageLog()
    out = N.pagerank(edges, ResolutionConfig(), lin, fixed_iter=fixed_iter)
    assert out.schema["id"].dataType == edges.schema["src"].dataType
    assert out.schema["pagerank"].dataType.simpleString() == "double"
    ranks = {r["id"]: r["pagerank"] for r in out.collect()}

    rows = [(r.src, r.dst, float(r.referral_count)) for r in edges.collect()]
    expected, iterations = _reference_pagerank(rows, fixed_iter=fixed_iter)
    assert set(ranks) == set(expected)
    for k in expected:
        assert ranks[k] == pytest.approx(expected[k], abs=1e-12)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)

    stages = {ev["stage"]: ev for ev in lin.events}
    if fixed_iter is None:
        assert stages["pagerank.converged"]["iterations"] == iterations
    else:
        assert stages["pagerank.fixed_iterations"]["iterations"] == fixed_iter
        assert "pagerank.converged" not in stages


def test_pagerank_zero_out_weight_is_dangling(spark):
    """A node whose out-edge weights sum to 0 ranks exactly as if it had no
    out-edges at all (networkx semantics); no DIVIDE_BY_ZERO under ANSI."""
    schema = "src string, dst string, referral_count long"
    zero = spark.createDataFrame([("A", "B", 0), ("B", "C", 2), ("C", "A", 1)], schema)
    none = spark.createDataFrame([("B", "C", 2), ("C", "A", 1)], schema)
    got = {r["id"]: r["pagerank"] for r in N.pagerank(zero).collect()}
    ref = {r["id"]: r["pagerank"] for r in N.pagerank(none).collect()}
    assert got == pytest.approx(ref, abs=1e-15)


def test_pagerank_empty_edges(spark):
    edges = spark.createDataFrame([], "src bigint, dst bigint, referral_count long")
    out = N.pagerank(edges)
    assert out.columns == ["id", "pagerank"]
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert out.collect() == []


def test_pagerank_max_iterations_hit(spark, referral_edges):
    lin = LineageLog()
    N.pagerank(referral_edges, ResolutionConfig(pagerank_max_iter=3), lin)
    assert [(e["stage"], e["iterations"]) for e in lin.events] == [
        ("pagerank.max_iterations_hit", 3)]


def test_pagerank_runs_at_most_two_jobs(spark, referral_edges):
    """The edge list is collected once; the iterations run in the driver,
    so the job count does not grow with the iteration count."""
    sc = spark.sparkContext
    lin = LineageLog()
    sc.setJobGroup("test-pagerank-jobs", "pagerank job shape")
    try:
        N.pagerank(referral_edges, ResolutionConfig(), lin)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (ev,) = [e for e in lin.events if e["stage"] == "pagerank.converged"]
    assert ev["iterations"] >= 10
    jobs = sc.statusTracker().getJobIdsForGroup("test-pagerank-jobs")
    assert 1 <= len(jobs) <= 2, jobs


def test_referral_metrics(spark, referral_edges):
    m = {r["id"]: r for r in N.referral_metrics(referral_edges).collect()}
    assert m["PHY_C"]["in_degree"] == 3 and m["PHY_C"]["in_volume"] == 12
    assert m["PHY_C"]["out_degree"] == 1 and m["PHY_C"]["out_volume"] == 1
    assert m["PHY_D"]["in_degree"] == 0


def test_colleagues_and_ego(spark, referral_edges):
    ents = spark.createDataFrame(
        [("PHY_A", "MERCY"), ("PHY_B", "MERCY"), ("PHY_C", "ST MARY"),
         ("PHY_D", "MERCY")],
        "canonical_id string, primary_facility string",
    )
    pairs = N.colleague_pairs(ents)
    got = sorted((r.id_1, r.id_2) for r in pairs.collect())
    assert got == [("PHY_A", "PHY_B"), ("PHY_A", "PHY_D"), ("PHY_B", "PHY_D")]

    merged = N.merge_colleague_edges(pairs)
    assert merged.count() == 3
    assert merged.first()["relation_types"] == ["same_facility"]

    ego = N.ego_network(referral_edges, merged, "PHY_A")
    assert {r["id"] for r in ego["refers_to"].collect()} == {"PHY_B", "PHY_C"}
    assert {r["id"] for r in ego["referred_by"].collect()} == {"PHY_C"}
    assert {r["id"] for r in ego["colleagues"].collect()} == {"PHY_B", "PHY_D"}


def test_oversized_facility_is_skipped_and_logged(spark):
    """A facility of more than MAX_FACILITY_SIZE members gives no colleague
    pairs, and the skip is logged with its member count."""
    big = N.MAX_FACILITY_SIZE + 1
    ents = spark.createDataFrame(
        [(f"PHY_{i:03d}", "MEGA") for i in range(big)]
        + [("PHY_X", "CLINIC"), ("PHY_Y", "CLINIC")],
        "canonical_id string, primary_facility string",
    )
    lin = LineageLog()
    got = sorted((r.id_1, r.id_2, r.facility) for r in N.colleague_pairs(ents, lin).collect())
    assert got == [("PHY_X", "PHY_Y", "CLINIC")]
    skipped = [e for e in lin.events if e["stage"] == "network.colleagues_skipped"]
    assert len(skipped) == 1
    assert skipped[0]["facilities"] == 1 and skipped[0]["members"] == big


def test_top_influencers(spark, referral_edges):
    ranks = N.pagerank(referral_edges, ResolutionConfig())
    top = ranks.orderBy(F.col("pagerank").desc(), "id").limit(2).collect()
    assert len(top) == 2
    assert top[0]["pagerank"] >= top[1]["pagerank"]
    assert top[0]["id"] == "PHY_C"  # sink of most referral weight
