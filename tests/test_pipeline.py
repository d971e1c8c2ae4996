"""End-to-end gates (BASELINE.md): pairwise F1 >= 0.99 on labeled
same-block pairs, cluster-level F1, per-row sha256 invariant, determinism."""

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.corpus import generate_files_corpus
from healthcare_entity_resolution_spark.operators.evaluate import (
    error_analysis,
    labeled_pair_f1,
    pairwise_cluster_f1,
)
from healthcare_entity_resolution_spark.operators.normalize import (
    normalize_files,
    verify_content_sha,
)
from healthcare_entity_resolution_spark.pipeline import resolve_files


@pytest.fixture(scope="module")
def corpus(spark):
    files_pdf, labels_pdf = generate_files_corpus(n_entities=120, seed=42)
    files = spark.createDataFrame(files_pdf[["repo", "path", "commit", "lang", "content"]])
    labels = spark.createDataFrame(labels_pdf)
    reference = spark.createDataFrame(files_pdf[["file_id", "content_sha"]])
    return files, labels, reference


@pytest.fixture(scope="module")
def resolved(spark, corpus):
    files, labels, _ = corpus
    return resolve_files(spark, files), labels


def test_pairwise_f1_gate(resolved):
    out, labels = resolved
    gate = labeled_pair_f1(out["classified"], labels)
    assert gate["n_pairs"] > 0
    assert gate["f1"] >= 0.99, gate


def test_cluster_f1_gate(resolved):
    out, labels = resolved
    res = pairwise_cluster_f1(out["assignments"], labels.withColumnRenamed("file_id", "id"))
    assert res["f1"] >= 0.99, res


def test_cluster_f1_all_singletons(spark):
    """No predicted pairs: precision 1.0, recall 0.0, F1 0.0, with no
    division by zero; no pairs on either side: all 1.0."""
    pred = spark.createDataFrame([(f"f{i}", f"f{i}") for i in range(4)],
                                 "id string, component_id string")
    truth = spark.createDataFrame([("f0", "a"), ("f1", "a"), ("f2", "b"), ("f3", "c")],
                                  "id string, true_entity_id string")
    res = pairwise_cluster_f1(pred, truth)
    assert (res["predicted_pairs"], res["true_pairs"], res["true_positives"]) == (0, 1, 0)
    assert (res["precision"], res["recall"], res["f1"]) == (1.0, 0.0, 0.0)
    res = pairwise_cluster_f1(pred, pred.withColumnRenamed("component_id", "true_entity_id"))
    assert (res["precision"], res["recall"], res["f1"]) == (1.0, 1.0, 1.0)


def test_content_sha_invariant(spark, corpus):
    files, _, reference = corpus
    assert verify_content_sha(files, reference) == 0


def test_file_id_matches_python_sha(spark, corpus):
    files, _, _ = corpus
    from healthcare_entity_resolution_spark.corpus import file_id_of

    row = normalize_files(files).select("repo", "path", "commit", "file_id").first()
    assert row["file_id"] == file_id_of(row["repo"], row["path"], row["commit"])


def test_entities_cover_all_files(resolved):
    out, _ = resolved
    n_files = out["files"].count()
    total_members = out["entities"].agg(F.sum("member_count")).collect()[0][0]
    assert total_members == n_files


def test_deterministic_assignments(spark, corpus):
    files, _, _ = corpus
    a1 = resolve_files(spark, files)["assignments"].collect()
    a2 = resolve_files(spark, files)["assignments"].collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))


def test_error_analysis_empty_on_clean_corpus(resolved):
    out, labels = resolved
    errs = error_analysis(out["classified"], labels)
    assert errs.count() == 0
