"""Analysis/report aggregations (SURVEY.md A12–A15, §2.8).

Reference behavior (studied at /root/reference/src/physician_resolution/
analysis/{data_quality.py, match_quality.py, cluster_report.py}): driver-side
dict reports over pandas frames.  Here each report is ONE groupBy/agg
DataFrame — collected only at the edge (reports are small by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def data_quality_report(records: DataFrame) -> DataFrame:
    """A14/A15 (data_quality.py:11-107): per-source row counts + coverage
    ratios for the load-bearing columns."""
    cov = [
        F.round(F.avg(F.col(c).isNotNull().cast("int")), 6).alias(f"{c}_coverage")
        for c in ["npi", "name_last", "specialty", "facility_state", "latitude"]
    ]
    return records.groupBy("source").agg(F.count("*").alias("n_records"), *cov)


def match_quality_report(classified: DataFrame) -> DataFrame:
    """A13 (match_quality.py:52-63): score stats per decision bucket."""
    return classified.groupBy("decision").agg(
        F.count("*").alias("n"),
        F.round(F.min("overall_score"), 6).alias("min_score"),
        F.round(F.max("overall_score"), 6).alias("max_score"),
        F.round(F.avg("overall_score"), 6).alias("avg_score"),
        F.round(F.expr("percentile_approx(overall_score, 0.5)"), 6).alias("median_score"),
    )


def cluster_size_report(assignments: DataFrame) -> DataFrame:
    """A12 (cluster_report.py:14-40): size-distribution histogram."""
    sizes = assignments.groupBy("component_id").agg(F.count("*").alias("size"))
    bucket = (
        F.when(F.col("size") == 1, "singleton")
        .when(F.col("size") <= 3, "2-3")
        .when(F.col("size") <= 10, "4-10")
        .when(F.col("size") <= 50, "11-50")
        .otherwise("50+")
    )
    return sizes.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_clusters"), F.sum("size").alias("n_records")
    )
