"""Evaluation (SURVEY.md A16, §3.3): pairwise precision / recall / F1.

The reference materializes every within-cluster pair and set-intersects
against truth pairs (/root/reference/src/physician_resolution/analysis/
evaluation.py:36-104) — O(Σ nᵢ²).  Here the same numbers come from the
contingency table ``groupBy(pred, true).count()`` in closed form
(TP = Σ C(n_ij,2) etc.) — exact, shuffle-light, no pair explosion.

``labeled_pair_f1`` is the BASELINE gate: F1 of MATCH decisions on labeled
same-block candidate pairs.

Ground truth is ``(file_id, true_entity_id)``; ``pairwise_cluster_f1``
joins it on ``id`` to a ``(id, component_id)`` clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c2(col):
    return F.sum(F.expr(f"{col} * ({col} - 1) / 2"))


def pairwise_cluster_f1(pred: DataFrame, truth: DataFrame) -> dict:
    """Exact pairwise P/R/F1 between predicted clustering and ground truth."""
    j = pred.select("id", "component_id").join(truth.select("id", "true_entity_id"), "id")
    cont = j.groupBy("component_id", "true_entity_id").agg(F.count("*").alias("n")).persist()
    tp = cont.agg(_c2("n").alias("x")).collect()[0]["x"] or 0.0
    pred_pairs = (
        cont.groupBy("component_id").agg(F.sum("n").alias("n"))
        .agg(_c2("n").alias("x")).collect()[0]["x"] or 0.0
    )
    true_pairs = (
        cont.groupBy("true_entity_id").agg(F.sum("n").alias("n"))
        .agg(_c2("n").alias("x")).collect()[0]["x"] or 0.0
    )
    cont.unpersist()
    precision = tp / pred_pairs if pred_pairs else 1.0
    recall = tp / true_pairs if true_pairs else 1.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "true_positives": float(tp),
        "predicted_pairs": float(pred_pairs),
        "true_pairs": float(true_pairs),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def _labeled(classified: DataFrame, truth: DataFrame) -> DataFrame:
    """``classified`` with both sides' true entity and boolean ``actual`` /
    ``predicted`` columns."""
    t1 = truth.select(F.col("file_id").alias("id_1"), F.col("true_entity_id").alias("true_1"))
    t2 = truth.select(F.col("file_id").alias("id_2"), F.col("true_entity_id").alias("true_2"))
    return (
        classified.join(t1, "id_1").join(t2, "id_2")
        .withColumn("actual", F.col("true_1") == F.col("true_2"))
        .withColumn("predicted", F.col("decision") == "match")
    )


def labeled_pair_f1(classified: DataFrame, truth: DataFrame) -> dict:
    """BASELINE gate: F1 of MATCH decisions on labeled same-block pairs.

    ``classified`` must carry (id_1, id_2, decision).  A pair is positive iff
    both sides share a ground-truth entity.
    """
    j = _labeled(classified.select("id_1", "id_2", "decision"), truth).select(
        F.col("actual").cast("int").alias("actual"),
        F.col("predicted").cast("int").alias("predicted"),
    )
    agg = j.agg(
        F.sum(F.expr("predicted * actual")).alias("tp"),
        F.sum(F.expr("predicted * (1 - actual)")).alias("fp"),
        F.sum(F.expr("(1 - predicted) * actual")).alias("fn"),
        F.count("*").alias("n_pairs"),
    ).collect()[0]
    tp, fp, fn = (float(agg["tp"] or 0), float(agg["fp"] or 0), float(agg["fn"] or 0))
    precision = tp / (tp + fp) if (tp + fp) else 1.0
    recall = tp / (tp + fn) if (tp + fn) else 1.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "n_pairs": int(agg["n_pairs"]),
        "precision": precision, "recall": recall, "f1": f1,
    }


def error_analysis(classified: DataFrame, truth: DataFrame) -> DataFrame:
    """The first 20 FP/FN pairs (analog of evaluation.py:131-194)."""
    j = _labeled(classified, truth)
    errs = j.where(F.col("actual") != F.col("predicted")).withColumn(
        "error_type", F.when(F.col("predicted"), "false_positive").otherwise("false_negative")
    )
    return errs.orderBy("error_type", "id_1", "id_2").limit(20)
