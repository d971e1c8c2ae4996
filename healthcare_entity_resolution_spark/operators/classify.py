"""Match classification (SURVEY.md §2.6, C1–C4) — pure `F.when` ladders.

Reference semantics: /root/reference/src/physician_resolution/matching/
classifier.py:13-79 (thresholds config.py:15-16).  All JVM-side, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MATCH, NON_MATCH, UNCERTAIN = "match", "non_match", "uncertain"

# decision thresholds (reference config.py:15-16)
MATCH_THRESHOLD = 0.85
NON_MATCH_THRESHOLD = 0.30


def classify(scored: DataFrame, authoritative_col: str = "npi_match") -> DataFrame:
    """C1: decision + confidence.  ``authoritative_col`` is the tri-state
    trump column (``npi_match`` in the physician domain, ``sha_match`` in
    the code domain -- both emitted by operators/scoring.py)."""
    mt, nt = MATCH_THRESHOLD, NON_MATCH_THRESHOLD
    mid = (mt + nt) / 2.0
    s = F.col("overall_score")
    auth = F.col(authoritative_col)

    decision = (
        F.when(auth == 0.0, NON_MATCH)
        .when(auth == 1.0, MATCH)
        .when(s >= mt, MATCH)
        .when(s <= nt, NON_MATCH)
        .otherwise(UNCERTAIN)
    )
    confidence = (
        F.when(auth == 0.0, 1.0)
        .when(auth == 1.0, 0.95)
        .when(s >= mt, F.least(F.lit(0.95), (s - mt) / (1.0 - mt) + 0.7))
        .when(s <= nt, F.least(F.lit(0.95), (F.lit(nt) - s) / nt + 0.7))
        .otherwise(F.lit(0.3) + F.abs(s - mid) * 0.4)
    )
    return scored.withColumn("decision", decision).withColumn("confidence", confidence)


def determine_match_type(classified: DataFrame) -> DataFrame:
    """C2 audit label (classifier.py:56-79)."""
    name = F.col("name_similarity")
    loc, spec = F.col("location_score"), F.col("specialty_match")
    mt = (
        F.when(F.col("npi_match") == 1.0, "npi_exact")
        .when((name >= 0.9) & (loc >= 0.7), "name_location_strong")
        .when((name >= 0.9) & spec.isNotNull() & (spec >= 0.9), "name_specialty")
        .when(name >= 0.9, "name_strong")
        .when((name >= 0.7) & (loc >= 0.7), "name_location")
        .when(name >= 0.7, "name_moderate")
        .otherwise("weak")
    )
    return classified.withColumn("match_type", mt)


def confirmed_matches(classified: DataFrame) -> DataFrame:
    """C4: (id_1, id_2, overall_score) for MATCH; UNCERTAIN pairs are not
    edges."""
    return classified.where(F.col("decision") == MATCH).select(
        "id_1", "id_2", "overall_score"
    )
