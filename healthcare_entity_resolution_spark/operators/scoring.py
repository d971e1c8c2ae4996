"""Pairwise scoring (SURVEY.md §2.5, F1–F9) — the engine's hot loop.

The reference scores each candidate pair in a Python ``for`` loop
(/root/reference/src/physician_resolution/matching/classifier.py:101-126).
Here the same similarity semantics are computed batched:

- Everything tri-state / threshold-shaped stays **JVM-side** as `F.when`
  column expressions (NPI tri-state F1, location tiers F6, overall combine
  F8) — whole-stage-codegen, no Python.
- The string kernels (Jaro-Winkler, token-sort, partial-ratio, Jaccard,
  TF-cosine) run in **one `mapInPandas` stage** per pairs frame: a single
  Arrow transfer of the join-decorated batch, an in-batch memo cache for
  repeated strings, and a per-batch latency column that feeds the lineage
  table (north_rule: score-batch latency per partition).

NULL semantics are load-bearing and mirror the reference exactly:
npi_match / specialty_match may be NULL = "cannot compare", distinct from
0.0 = "hard conflict / different".
"""

from __future__ import annotations

import time
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import strsim
from ..functions import text as textfn
from ..functions.geo import haversine_miles, location_tier_score

# overall-score weights (reference similarity.py:275-291) and the score an
# authoritative id match (NPI, content sha) trumps every other signal with
WEIGHT_NAME = 0.50
WEIGHT_LOCATION = 0.30
WEIGHT_SPECIALTY = 0.20
AUTHORITATIVE_MATCH_SCORE = 0.95
# char-shingle width of the code-pair TF cosine
SHINGLE_SIZE = 3

# ---------------------------------------------------------------------------
# Code-file domain (north_star): JW(path), JW(repo), token Jaccard, TF cosine
# ---------------------------------------------------------------------------

CODE_SCORE_SCHEMA = (
    "id_1 string, id_2 string, sha_equal boolean, jw_path double, jw_repo double, "
    "jaccard double, cosine double, batch_ms double"
)


def _decorate_pairs(files: DataFrame, pairs: DataFrame, cols: list[str]) -> DataFrame:
    """Join both sides' attributes onto the pairs frame (J2-shaped)."""
    a = files.select(F.col("file_id").alias("id_1"), *[F.col(c).alias(f"{c}_1") for c in cols])
    b = files.select(F.col("file_id").alias("id_2"), *[F.col(c).alias(f"{c}_2") for c in cols])
    return pairs.join(a, "id_1").join(b, "id_2")


def code_pair_scores(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The code-pair string kernels, one output frame (``CODE_SCORE_SCHEMA``)
    per input batch of decorated pairs (id_1, id_2 and both sides'
    path_norm, repo, content, content_sha).  The body of
    :func:`score_code_pairs`' ``mapInPandas`` stage, also called directly by
    the micro-batch, which scores its pairs in the driver.

    NULL content cannot be compared: a pair with a NULL side gets NULL
    ``jaccard`` and ``cosine`` and never ``sha_equal``."""
    # Per-file features memoized by content_sha (16-hex-char prefix key:
    # far cheaper to hash per lookup than a multi-hundred-char content
    # string, and two near-identical contents never share a sha).
    # Entry: (sorted token hashes, tf ids, tf counts, precomputed L2 norm)
    feat_cache: dict[str, tuple] = {}

    def feats(sha: str, content: str):
        key = sha[:16]
        v = feat_cache.get(key)
        if v is None:
            tok = np.sort(textfn.token_hashes(content))
            ids, counts = textfn.shingle_tf(content, k=SHINGLE_SIZE)
            norm = float(np.sqrt((counts.astype(np.float64) ** 2).sum())) or 1.0
            v = (tok, ids, counts, norm)
            feat_cache[key] = v
        return v

    for pdf in batches:
        t0 = time.perf_counter()
        n = len(pdf)
        # batched Jaro-Winkler: vectorized over the pair dimension
        # (functions/strsim.jaro_winkler_batch, ~5x the scalar kernel)
        jw_path = strsim.jaro_winkler_batch(
            pdf["path_norm_1"].tolist(), pdf["path_norm_2"].tolist()
        )
        jw_repo = strsim.jaro_winkler_batch(
            pdf["repo_1"].tolist(), pdf["repo_2"].tolist()
        )
        jac, cos = [], []
        for c1, c2, s1, s2 in zip(
            pdf["content_1"], pdf["content_2"], pdf["content_sha_1"], pdf["content_sha_2"]
        ):
            if s1 is None or s2 is None:
                jac.append(None)
                cos.append(None)
            elif s1 == s2:
                jac.append(1.0)
                cos.append(1.0)
            else:
                t1, i1, w1, n1 = feats(s1, c1)
                t2, i2, w2, n2 = feats(s2, c2)
                jac.append(textfn.sorted_jaccard(t1, t2))
                cos.append(textfn.sorted_tf_cosine_prenorm(i1, w1, n1, i2, w2, n2))
        ms = (time.perf_counter() - t0) * 1000.0
        yield pd.DataFrame(
            {
                "id_1": pdf["id_1"],
                "id_2": pdf["id_2"],
                # NULL == NULL is False here: no sha_equal without content
                "sha_equal": (pdf["content_sha_1"] == pdf["content_sha_2"]),
                "jw_path": jw_path,
                "jw_repo": jw_repo,
                "jaccard": pd.array(jac, dtype="Float64"),
                "cosine": pd.array(cos, dtype="Float64"),
                "batch_ms": [ms] * n,
            }
        )


def code_score_columns(scored: DataFrame) -> DataFrame:
    """Kernel scores (``CODE_SCORE_SCHEMA``) -> + content_tier, sha_match,
    overall_score: the classification-ready columns, as JVM expressions.

    ``sha_match`` is the tri-state trump column ``classify`` reads
    (``authoritative_col="sha_match"``), the code-domain analog of
    ``npi_match``: 1.0 for identical content, NULL otherwise -- differing
    content is NOT a conflict, so it is never 0.0.  Without a content
    similarity (NULL content) the overall score is NULL: the pair cannot be
    compared, so it is never a match."""
    # tiered content similarity (analog of the reference's location tiers,
    # similarity.py:89-130, transferred per SURVEY §1.3)
    cosine = F.col("cosine")
    content_tier = (
        F.when(cosine >= 0.95, 1.0)
        .when(cosine >= 0.80, 0.8)
        .when(cosine >= 0.60, 0.5)
        .when(cosine >= 0.40, 0.3)
        .when(cosine.isNotNull(), 0.1)
    )
    # overall combine keeps the reference F8 shape (similarity.py:256-291):
    # authoritative id (content sha) trumps; else weighted name/location/
    # specialty analog = path-JW / content-tier / token-Jaccard.  ``least``
    # skips NULLs, so a NULL combination is kept NULL explicitly.
    path_sim = F.col("jw_path") * 0.8 + F.col("jw_repo") * 0.2
    combined = (path_sim * WEIGHT_NAME
                + F.col("content_tier") * WEIGHT_LOCATION
                + F.col("jaccard") * WEIGHT_SPECIALTY)
    overall = (
        F.when(F.col("sha_equal"), F.lit(AUTHORITATIVE_MATCH_SCORE))
        .when(combined.isNotNull(), F.least(F.lit(1.0), combined))
    )
    return (
        scored.withColumn("content_tier", content_tier)
        .withColumn("sha_match", F.when(F.col("sha_equal"), F.lit(1.0)))
        .withColumn("overall_score", overall)
    )


def score_code_pairs(files: DataFrame, pairs: DataFrame) -> DataFrame:
    """Kernel scores for code-file pairs + classification-ready columns.

    Output: id_1, id_2, sha_equal, jw_path, jw_repo, jaccard, cosine,
    batch_ms, content_tier (tiered cosine), sha_match, overall_score: the
    :func:`code_pair_scores` kernels in one ``mapInPandas`` stage, then
    :func:`code_score_columns`."""
    decorated = _decorate_pairs(
        files, pairs, ["path_norm", "repo", "content", "content_sha"]
    )
    return code_score_columns(
        decorated.mapInPandas(code_pair_scores, schema=CODE_SCORE_SCHEMA))


# ---------------------------------------------------------------------------
# Physician domain (reference parity): F1–F9
# ---------------------------------------------------------------------------

NAME_SCORE_SCHEMA = (
    "id_1 string, id_2 string, name_similarity double, first_sim double, "
    "last_sim double, specialty_fuzzy double, batch_ms double, "
    # pass-through columns the downstream JVM expressions need — emitting
    # them from the same Arrow stage avoids a (id_1, id_2) shuffle join of
    # the full pair set back onto the decorated frame
    "npi_1 string, npi_2 string, latitude_1 double, latitude_2 double, "
    "longitude_1 double, longitude_2 double, "
    "facility_state_1 string, facility_state_2 string"
)

_REF_SPECIALTY_CANON = {
    "INTERNAL MED": "INTERNAL MEDICINE", "INT MEDICINE": "INTERNAL MEDICINE",
    "IM": "INTERNAL MEDICINE",
    "FAMILY MED": "FAMILY MEDICINE", "FAMILY PRACTICE": "FAMILY MEDICINE",
    "FP": "FAMILY MEDICINE",
    "CARDIOVASCULAR DISEASE": "CARDIOLOGY", "CARDIOVASCULAR MED": "CARDIOLOGY",
    "CV": "CARDIOLOGY",
    "ORTHOPAEDIC SURGERY": "ORTHOPEDIC SURGERY", "ORTHOPEDICS": "ORTHOPEDIC SURGERY",
    "ORTHO": "ORTHOPEDIC SURGERY",
    "SURGERY": "GENERAL SURGERY", "GEN SURGERY": "GENERAL SURGERY",
    "PEDIATRIC MEDICINE": "PEDIATRICS", "PEDS": "PEDIATRICS",
    "OB/GYN": "OBSTETRICS & GYNECOLOGY", "OB-GYN": "OBSTETRICS & GYNECOLOGY",
    "OBSTETRICS AND GYNECOLOGY": "OBSTETRICS & GYNECOLOGY",
    "GI": "GASTROENTEROLOGY", "GASTRO": "GASTROENTEROLOGY",
    "GI MEDICINE": "GASTROENTEROLOGY",
    "ER": "EMERGENCY MEDICINE", "EMERGENCY MED": "EMERGENCY MEDICINE",
    "EM": "EMERGENCY MEDICINE",
}


def _canon_specialty(s: str | None) -> str | None:
    if s is None:
        return None
    u = s.upper().strip()
    return _REF_SPECIALTY_CANON.get(u, u)


def _specialty_fuzzy(s1: str | None, s2: str | None) -> float | None:
    """F7 (similarity.py:133-178): NULL missing; canonical map; ratio>0.8."""
    if not s1 or not s2:
        return None
    a, b = s1.upper().strip(), s2.upper().strip()
    if a == b or _canon_specialty(a) == _canon_specialty(b):
        return 1.0
    r = strsim.seq_ratio(a, b)
    return r if r > 0.8 else 0.0


def score_physician_pairs(records: DataFrame, pairs: DataFrame) -> DataFrame:
    """F1–F9 over candidate pairs of normalized physician records.

    Output columns: id_1, id_2, npi_match, name_similarity, specialty_match,
    location_score, overall_score (NULL semantics as in the reference).
    """
    cols = ["npi", "name_first", "name_last", "specialty",
            "latitude", "longitude", "facility_state"]
    a = records.select(F.col("source_id").alias("id_1"),
                       *[F.col(c).alias(f"{c}_1") for c in cols])
    b = records.select(F.col("source_id").alias("id_2"),
                       *[F.col(c).alias(f"{c}_2") for c in cols])
    dec = pairs.join(a, "id_1").join(b, "id_2")

    _STRIP = str.maketrans("", "", "'- ")

    def name_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t0 = time.perf_counter()
            n_rows = len(pdf)
            # F4 (similarity.py:70-86): a missing last name (RAW value
            # falsy) scores 0.0; otherwise upper + strip ', -, space and run
            # the vectorized JW kernel, whose equality check gives 1.0 for
            # equal stripped names (so "'" vs "'" strips to ""=="" -> 1.0)
            # and whose empty check gives 0.0 ("" vs "X").
            raw_l1, raw_l2 = pdf["name_last_1"], pdf["name_last_2"]
            la = [x.upper().strip().translate(_STRIP) if x else None for x in raw_l1]
            lb = [y.upper().strip().translate(_STRIP) if y else None for y in raw_l2]
            last = np.zeros(n_rows)
            idx = [i for i, (a, b) in enumerate(zip(raw_l1, raw_l2)) if a and b]
            if idx:
                last[idx] = strsim.jaro_winkler_batch(
                    [la[i] for i in idx], [lb[i] for i in idx]
                )
            # F3 (similarity.py:48-67): missing (RAW falsy) -> 0.5
            # neutral, upper+strip exact -> 1.0 (kernel), single-initial
            # prefix -> 0.8 override, whitespace-only -> 0.0 (kernel empty
            # check), else JW
            raw_f1, raw_f2 = pdf["name_first_1"], pdf["name_first_2"]
            fa = [x.upper().strip() if x else None for x in raw_f1]
            fb = [y.upper().strip() if y else None for y in raw_f2]
            first = np.full(n_rows, 0.5)
            fidx = [i for i, (a, b) in enumerate(zip(raw_f1, raw_f2)) if a and b]
            if fidx:
                first[fidx] = strsim.jaro_winkler_batch(
                    [fa[i] for i in fidx], [fb[i] for i in fidx]
                )
                for i in fidx:
                    a, b = fa[i], fb[i]
                    if a != b and (
                        (len(a) == 1 and b.startswith(a))
                        or (len(b) == 1 and a.startswith(b))
                    ):
                        first[i] = 0.8
            spec = pd.array(
                [
                    _specialty_fuzzy(x, y)
                    for x, y in zip(pdf["specialty_1"], pdf["specialty_2"])
                ],
                dtype="Float64",  # nullable: NULL must survive Arrow (SURVEY §1.2)
            )
            name = [l * 0.6 + f * 0.4 for l, f in zip(last, first)]  # F5
            ms = (time.perf_counter() - t0) * 1000.0
            out = {
                "id_1": pdf["id_1"], "id_2": pdf["id_2"],
                "name_similarity": name, "first_sim": first, "last_sim": last,
                "specialty_fuzzy": spec, "batch_ms": [ms] * len(pdf),
            }
            for c in _PASSTHROUGH:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    _PASSTHROUGH = [
        "npi_1", "npi_2", "latitude_1", "latitude_2", "longitude_1",
        "longitude_2", "facility_state_1", "facility_state_2",
    ]
    dec2 = dec.select(
        "id_1", "id_2", "name_first_1", "name_first_2", "name_last_1", "name_last_2",
        "specialty_1", "specialty_2", *_PASSTHROUGH,
    ).mapInPandas(name_batches, schema=NAME_SCORE_SCHEMA)

    # F1 — NPI tri-state, pure JVM expression (similarity.py:181-206)
    valid1 = F.col("npi_1").rlike(r"^[0-9]{10}$")
    valid2 = F.col("npi_2").rlike(r"^[0-9]{10}$")
    npi_match = (
        F.when(F.col("npi_1").isNull() | F.col("npi_2").isNull(), F.lit(None).cast("double"))
        .when(~valid1 | ~valid2, F.lit(None).cast("double"))
        .when(F.col("npi_1") == F.col("npi_2"), 1.0)
        .otherwise(0.0)
    )
    # F6 — location tiers over haversine (geocoder.py:102-126 + similarity.py:89-130)
    dist = haversine_miles(F.col("latitude_1"), F.col("longitude_1"),
                           F.col("latitude_2"), F.col("longitude_2"))
    loc = location_tier_score(dist, F.col("facility_state_1"), F.col("facility_state_2"))

    scored = (
        dec2.withColumn("npi_match", npi_match)
        .withColumn("location_score", loc)
        .withColumnRenamed("specialty_fuzzy", "specialty_match")
    )
    # F8 — overall combine with NULL-specialty weight redistribution
    base = (
        F.col("name_similarity") * WEIGHT_NAME
        + F.col("location_score") * WEIGHT_LOCATION
        + F.when(F.col("specialty_match").isNotNull(),
                 F.col("specialty_match") * WEIGHT_SPECIALTY)
         .otherwise(F.col("name_similarity") * WEIGHT_SPECIALTY)
    )
    overall = (
        F.when(F.col("npi_match") == 1.0, F.lit(AUTHORITATIVE_MATCH_SCORE))
        .when(F.col("npi_match") == 0.0, F.lit(0.0))
        .otherwise(F.least(F.lit(1.0), base))
    )
    return scored.withColumn("overall_score", overall).select(
        "id_1", "id_2", "npi_match", "name_similarity", "specialty_match",
        "location_score", "overall_score", "batch_ms",
    )
