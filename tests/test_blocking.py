"""Blocking tests (SURVEY §2.3): pair canonical order/dedup, >=2 filter
semantics, soundex strategy, hot-block salting with lineage-logged drops."""

from dataclasses import replace

from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
from healthcare_entity_resolution_spark.operators import blocking as B
from healthcare_entity_resolution_spark.plans.lineage import LineageLog


def _records(spark):
    rows = [
        ("r1", "1234567890", "SMITH", "CA"),
        ("r2", "1234567890", "SMITH", "CA"),
        ("r3", None, "SMYTH", "CA"),
        ("r4", None, "JONES", "NY"),
        ("r5", None, "SMITH", None),
        ("r6", "9999999999", "WILSON", "TX"),
    ]
    return spark.createDataFrame(rows, ["source_id", "npi", "name_last", "facility_state"])


def test_pairs_canonical_order_and_dedup(spark):
    keys = B.physician_block_keys(_records(spark))
    pairs = B.candidate_pairs(keys).collect()
    seen = {(r["id_1"], r["id_2"]) for r in pairs}
    assert all(a < b for a, b in seen)
    assert len(seen) == len(pairs)  # deduped across npi/last_state/soundex
    assert ("r1", "r2") in seen


def test_soundex_blocks_smith_smyth(spark):
    keys = B.physician_block_keys(_records(spark))
    pairs = {(r["id_1"], r["id_2"]) for r in B.candidate_pairs(keys).collect()}
    assert ("r1", "r3") in pairs and ("r2", "r3") in pairs  # SMITH~SMYTH, same state


def test_singleton_blocks_produce_no_pairs(spark):
    keys = B.physician_block_keys(_records(spark))
    pairs = {(r["id_1"], r["id_2"]) for r in B.candidate_pairs(keys).collect()}
    assert not any("r4" in p or "r6" in p for p in pairs)


def test_missing_state_becomes_xx_block(spark):
    keys = B.physician_block_keys(_records(spark)).collect()
    assert any(k["_bk"].endswith("XX") for k in keys if k["_id"] == "r5")


def test_hot_block_salting_caps_and_logs(spark):
    n = 60
    df = spark.createDataFrame([(f"id{i:03d}", "HOT") for i in range(n)], ["source_id", "k"])
    keys = B.exact_block_keys(df, "source_id", F.col("k"))
    cfg = replace(DEFAULT_CONFIG, max_block_size=20)
    lin = LineageLog()
    pairs = B.candidate_pairs(keys, cfg, lin)
    n_pairs = pairs.count()
    full = n * (n - 1) // 2
    assert n_pairs < full  # truncated
    ev = [e for e in lin.events if e["stage"] == "blocking.salting"][0]
    assert ev["pairs_dropped"] + ev["pairs_kept"] == full  # exact accounting
    assert ev["hot_blocks"] == 1


def test_small_blocks_not_salted(spark):
    df = spark.createDataFrame([(f"id{i}", "K") for i in range(5)], ["source_id", "k"])
    keys = B.exact_block_keys(df, "source_id", F.col("k"))
    lin = LineageLog()
    pairs = B.candidate_pairs(keys, DEFAULT_CONFIG, lin)
    assert pairs.count() == 10  # C(5,2), nothing dropped
    assert not [e for e in lin.events if e["stage"] == "blocking.salting"]
