"""Evaluation (SURVEY.md A16, §3.3): pairwise precision / recall / F1.

The reference materializes every within-cluster pair and set-intersects
against truth pairs (/root/reference/src/physician_resolution/analysis/
evaluation.py:36-104) — O(Σ nᵢ²).  Here the same numbers come from the
contingency table ``groupBy(pred, true).count()`` in closed form
(TP = Σ C(n_ij,2) etc.) — exact, shuffle-light, no pair explosion.

``labeled_pair_f1`` is the BASELINE gate: F1 of MATCH decisions on labeled
same-block candidate pairs.

``pairwise_f1`` is the one cluster-level implementation: the
``a16_pairwise_f1`` driver key runs it over two label columns, and
``pairwise_cluster_f1`` over a clustering joined to ground truth
``(id, true_entity_id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c2(col):
    return F.sum(F.expr(f"{col} * ({col} - 1) / 2"))


def pairwise_f1(labelled: DataFrame, pred_col: str, true_col: str) -> DataFrame:
    """Exact pairwise P/R/F1 of the clustering ``pred_col`` against the
    ground truth ``true_col`` over a frame of one row per item, as ONE query
    over the ``groupBy(pred, true).count()`` contingency table.  Returns one
    row: true_positives, predicted_pairs, true_pairs, precision, recall, f1.

    No predicted pairs gives precision 1.0 and no true pairs recall 1.0; F1
    is then ``2·TP / (predicted + true)``, and 1.0 when neither side has a
    pair.  Every division is guarded: under ANSI mode (Spark's default) an
    unguarded one raises ``DIVIDE_BY_ZERO`` on an all-singleton side."""
    cont = labelled.groupBy(pred_col, true_col).agg(F.count("*").alias("n"))
    pp = cont.groupBy(pred_col).agg(F.sum("n").alias("n")).agg(_c2("n").alias("pp"))
    tr = cont.groupBy(true_col).agg(F.sum("n").alias("n")).agg(_c2("n").alias("tr"))
    # a sum over no rows is NULL: no pairs
    tp, pp_n, tr_n = (F.coalesce(F.col(c), F.lit(0.0)) for c in ("tp", "pp", "tr"))
    return cont.agg(_c2("n").alias("tp")).crossJoin(pp).crossJoin(tr).select(
        tp.alias("true_positives"),
        pp_n.alias("predicted_pairs"),
        tr_n.alias("true_pairs"),
        F.when(pp_n > 0, tp / pp_n).otherwise(1.0).alias("precision"),
        F.when(tr_n > 0, tp / tr_n).otherwise(1.0).alias("recall"),
        F.when(pp_n + tr_n > 0, 2 * tp / (pp_n + tr_n)).otherwise(1.0).alias("f1"),
    )


def pairwise_cluster_f1(pred: DataFrame, truth: DataFrame) -> dict:
    """:func:`pairwise_f1` of a ``(id, component_id)`` clustering against
    ``(id, true_entity_id)`` ground truth, joined on ``id``, as a dict."""
    j = pred.select("id", "component_id").join(truth.select("id", "true_entity_id"), "id")
    return pairwise_f1(j, "component_id", "true_entity_id").first().asDict()


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
