"""Reference-parity end-to-end: the §3.1 physician flagship on conftest-style
fixtures (mirrors /root/reference/tests/test_integration.py:129-249
semantics: same physician merges; NPI conflict forces a split)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import ResolutionConfig
from healthcare_entity_resolution_spark.operators.normalize import (
    RECORD_COLUMNS,
    normalize_source,
    union_sources,
)
from healthcare_entity_resolution_spark.pipeline import resolve_physicians


@pytest.fixture(scope="module")
def records(spark):
    """Two true physicians across three sources + one NPI-conflicting pair
    that fuzzy-matches on name (the overmatch the pruner must split)."""
    cms = spark.createDataFrame(
        [
            ("1234567890", "SMITH, JOHN A", "CARDIOLOGY", "MERCY GENERAL",
             "SPRINGFIELD", "IL", "62701", 39.8, -89.65),
            ("9876543210", "JONES, MARY", "PEDIATRICS", "ST MARY",
             "DAYTON", "OH", "45402", 39.75, -84.19),
            # NPI conflict pair: same name/city, different NPI
            ("1111111111", "WILSON, ROBERT", "SURGERY", "CITY HOSPITAL",
             "CHICAGO", "IL", "60601", 41.88, -87.63),
            ("2222222222", "WILSON, ROBERT", "SURGERY", "CITY HOSPITAL",
             "CHICAGO", "IL", "60601", 41.88, -87.63),
        ],
        "npi string, name string, specialty string, facility string, "
        "city string, state string, zip string, lat double, lon double",
    )
    license_ = spark.createDataFrame(
        [
            ("1234567890", "John Smith", "Cardiovascular Disease", "IL"),
            ("9876543210", "Mary Jones", "Peds", "OH"),
        ],
        "npi string, full_name string, specialty string, state string",
    )
    m_cms = dict(npi="npi", name_raw="name", specialty="specialty",
                 facility_name="facility", facility_city="city",
                 facility_state="state", facility_zip="zip",
                 latitude="lat", longitude="lon")
    m_lic = dict(npi="npi", name_raw="full_name", specialty="specialty",
                 facility_state="state")
    return union_sources([
        normalize_source(cms, "cms", m_cms, ["npi", "name"]),
        normalize_source(license_, "license", m_lic, ["npi"]),
    ])


@pytest.fixture(scope="module")
def resolved(spark, records):
    referrals = spark.createDataFrame(
        [("1234567890", "9876543210", "2026-01-05"),
         ("1234567890", "9876543210", "2026-02-11"),
         ("9876543210", "1111111111", "2026-03-01")],
        "referring_npi string, receiving_npi string, referral_date string",
    )
    return resolve_physicians(spark, records, referrals)


def test_normalized_schema(records):
    assert records.columns == RECORD_COLUMNS
    assert records.count() == 6


def test_same_physician_merges(resolved):
    ents = resolved["entities"].collect()
    by_npi = {r["npi"]: r for r in ents if r["npi"]}
    smith = by_npi["1234567890"]
    assert smith["source_count"] == 2                 # cms + license merged
    assert smith["canonical_id"] == "PHY_1234567890"
    assert smith["name"] == "SMITH, JOHN A"           # cms priority
    assert smith["entity_confidence"] is not None


def test_npi_conflict_splits(resolved):
    # the two WILSONs match on every fuzzy field but carry different NPIs ->
    # F1/F8 gives overall 0.0 (hard conflict) so they never edge together
    ents = resolved["entities"].collect()
    wilson_ids = {r["canonical_id"] for r in ents if r["npi"] in
                  ("1111111111", "2222222222")}
    assert len(wilson_ids) == 2


def test_cluster_count(resolved):
    # 2 merged physicians + 2 split WILSONs = 4 canonical entities
    assert resolved["entities"].count() == 4
    assert resolved["mapping"].count() == 6


def test_reports_and_network(resolved):
    dq = {r["source"]: r for r in resolved["report_data_quality"].collect()}
    assert dq["cms"]["n_records"] == 4 and dq["cms"]["npi_coverage"] == 1.0
    mq = {r["decision"]: r["n"] for r in resolved["report_match_quality"].collect()}
    assert sum(mq.values()) == resolved["classified"].count()
    cs = {r["bucket"]: r["n_clusters"] for r in resolved["report_cluster_sizes"].collect()}
    assert cs.get("2-3") == 2 and cs.get("singleton") == 2

    g = resolved["referral_graph"].collect()
    assert len(g) == 2                       # SMITH->JONES aggregated, JONES->WILSON1
    agg = {(r.src, r.dst): r.referral_count for r in g}
    assert agg[("PHY_1234567890", "PHY_9876543210")] == 2
    infl = resolved["influence"].collect()
    assert len(infl) == 3
    # chain SMITH -> JONES -> WILSON1: terminal sink accumulates the most
    # rank (verified against the plain power-iteration reference)
    ranked = sorted(infl, key=lambda r: -r["pagerank"])
    assert [r["id"] for r in ranked] == [
        "PHY_1111111111", "PHY_9876543210", "PHY_1234567890"
    ]


def test_record_confidence_ranges(resolved):
    rc = resolved["record_confidence"].collect()
    assert len(rc) == 6
    assert all(0.0 <= r["record_confidence"] <= 1.0 for r in rc)


def test_export_resolution_tables(spark, resolved, tmp_path):
    """db-layer analog: the six reference-shaped tables
    (sql/001_create_tables.sql) committed as atomic parquet snapshots."""
    from healthcare_entity_resolution_spark.plans.export import (
        export_resolution_tables,
    )
    from healthcare_entity_resolution_spark.plans.snapshots import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "export"))
    counts = export_resolution_tables(store, resolved)
    assert counts["source_records"] == 6
    assert counts["canonical_physicians"] == 4
    assert counts["source_canonical_mapping"] == 6
    assert counts["match_pairs"] >= 1
    assert counts["referrals"] >= 1
    assert counts["influence_scores"] >= 2

    cp = store.load("canonical_physicians")
    assert {"id", "npi", "name", "specialty", "primary_facility", "city",
            "state", "confidence_score", "source_count",
            "exported_at"} == set(cp.columns)
    m = store.load("source_canonical_mapping")
    assert m.where(F.col("confidence").isNull()).count() == 0


def test_one_connected_components_run(spark, records):
    """Pruning returns the clustering: with every component within the cap,
    the whole flow runs connected components once (the G5 split)."""
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    lin = LineageLog()
    out = resolve_physicians(spark, records, lineage=lin)
    assert out["assignments"].count() == 6
    assert [ev["stage"] for ev in lin.events].count("cc.converged") == 1
