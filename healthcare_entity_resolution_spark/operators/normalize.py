"""Ingest & normalize (SURVEY.md §2.2, P1–P8).

The reference normalizes row-at-a-time with ``df.iterrows()``
(/root/reference/src/physician_resolution/etl/normalizer.py:37-174).  Here
every per-source normalizer is a ``select``/``withColumn`` projection —
pure Catalyst expressions — except name parsing (P3), which is one
Arrow-batched pandas UDF returning a struct.

Code-file domain (BASELINE input_hint): ``normalize_files`` derives the
stable row id ``file_id = sha256(repo ‖ path ‖ commit)`` and the per-row
invariant ``content_sha = sha256(content)`` as JVM `F.sha2` expressions.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "\x1f"

# ---------------------------------------------------------------------------
# Code-file domain
# ---------------------------------------------------------------------------


def normalize_files(files: DataFrame) -> DataFrame:
    """files(repo, path, commit, lang, content) -> + file_id, content_sha,
    path_norm, path_tokens.  All JVM expressions (P2 analog, sha256)."""
    out = files
    if "file_id" not in out.columns:
        out = out.withColumn(
            "file_id", F.sha2(F.concat_ws(SEP, "repo", "path", "commit"), 256)
        )
    if "content_sha" not in out.columns:
        out = out.withColumn("content_sha", F.sha2(F.col("content"), 256))
    out = out.withColumn(
        "path_norm", F.lower(F.regexp_replace(F.col("path"), "-", "_"))
    ).withColumn("path_tokens", F.split(F.col("path_norm"), r"[/._]+"))
    return out


def verify_content_sha(files: DataFrame, reference: DataFrame) -> int:
    """Per-row invariant (BASELINE input_hint): count rows whose
    sha256(content) disagrees with the reference frame's recorded sha."""
    ours = normalize_files(files.drop("content_sha")).select("file_id", "content_sha")
    theirs = reference.select("file_id", F.col("content_sha").alias("expected_sha"))
    return (
        ours.join(theirs, "file_id")
        .where(F.col("content_sha") != F.col("expected_sha"))
        .count()
    )


# ---------------------------------------------------------------------------
# Physician domain (reference parity)
# ---------------------------------------------------------------------------

_TITLES = {"DR", "DR.", "MD", "M.D.", "DO", "D.O.", "MD.", "PHD", "PH.D.", "DDS"}
_SUFFIXES = {"JR", "JR.", "SR", "SR.", "II", "III", "IV", "V"}

NAME_STRUCT = T.StructType(
    [
        T.StructField("first", T.StringType()),
        T.StructField("last", T.StringType()),
        T.StructField("middle", T.StringType()),
        T.StructField("suffix", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def _parse_one_name(raw: str | None) -> tuple:
    """P3 (etl/name_parser.py:48-162 semantics): strip titles/suffixes,
    handle 'LAST, FIRST M' and 'FIRST M LAST', single-letter middles."""
    if raw is None or not raw.strip():
        return (None, None, None, None, None)
    s = re.sub(r"\s+", " ", raw.strip().upper())
    title = None
    suffix = None

    if "," in s:
        head, _, tail = s.partition(",")
        head, tail = head.strip(), tail.strip()
        tail_toks = [t for t in tail.split(" ") if t]
        # strip trailing titles/suffixes from tail
        kept = []
        for t in tail_toks:
            if t in _TITLES:
                title = title or t.rstrip(".")
            elif t in _SUFFIXES:
                suffix = suffix or t.rstrip(".")
            else:
                kept.append(t)
        first = kept[0] if kept else None
        middle = kept[1] if len(kept) > 1 else None
        last = head or None
        return (first, last, middle, suffix, title)

    toks = [t for t in s.split(" ") if t]
    if toks and toks[0] in _TITLES:
        title = toks[0].rstrip(".")
        toks = toks[1:]
    while toks and toks[-1] in (_TITLES | _SUFFIXES):
        t = toks.pop()
        if t in _TITLES:
            title = title or t.rstrip(".")
        else:
            suffix = suffix or t.rstrip(".")
    if not toks:
        return (None, None, None, suffix, title)
    if len(toks) == 1:
        return (None, toks[0], None, suffix, title)
    first = toks[0]
    last = toks[-1]
    middle = toks[1] if len(toks) > 2 else None
    return (first, last, middle, suffix, title)


@F.pandas_udf(NAME_STRUCT)
def parse_name_udf(names: pd.Series) -> pd.DataFrame:
    parsed = [_parse_one_name(n) for n in names]
    return pd.DataFrame(parsed, columns=["first", "last", "middle", "suffix", "title"])


def standardized_name() -> F.Column:
    """P4: canonical 'LAST, FIRST M' as a pure expression."""
    return F.upper(
        F.concat_ws(
            " ",
            F.concat(F.col("name_last"), F.lit(",")),
            F.col("name_first"),
            F.col("name_middle"),
        )
    )


def names_match_fuzzy(first1, last1, first2, last2) -> F.Column:
    """F10 (etl/name_parser.py:186-220): quick boolean "might be the same
    person" over PARSED name columns — pure JVM expression, no Python.

    Semantics mirrored exactly: missing/empty last on either side -> False;
    stripped ('-/space removed, uppercased) last names must be equal; if both
    first names present: exact or single-initial prefix -> True else False;
    any missing first name -> True.
    """
    strip = lambda c: F.translate(F.upper(c), "'- ", "")  # noqa: E731
    last_present = (F.coalesce(last1, F.lit("")) != "") & (
        F.coalesce(last2, F.lit("")) != ""
    )
    f1, f2 = F.upper(first1), F.upper(first2)
    both_first = (F.coalesce(first1, F.lit("")) != "") & (
        F.coalesce(first2, F.lit("")) != ""
    )
    first_ok = (
        (f1 == f2)
        | ((F.length(f1) == 1) & f2.startswith(f1))
        | ((F.length(f2) == 1) & f1.startswith(f2))
    )
    return (
        F.when(~last_present, F.lit(False))
        .when(strip(last1) != strip(last2), F.lit(False))
        .when(both_first, first_ok)
        .otherwise(F.lit(True))
    )


def valid_npi(col: F.Column) -> F.Column:
    """P7 (normalizer.py:48-49): malformed NPIs (len≠10, non-digit) -> NULL."""
    return F.when(col.rlike(r"^[0-9]{10}$"), col).otherwise(F.lit(None))


def stable_source_id(source: str, *key_cols: str) -> F.Column:
    """P2: deterministic row id; sha256 (upgraded from the reference's
    md5[:16], normalizer.py:15-34), truncated for readability."""
    return F.concat(
        F.lit(source + "_"),
        F.substring(F.sha2(F.concat_ws(SEP, *key_cols), 256), 1, 16),
    )


def parse_affiliation(col: F.Column) -> F.Column:
    """P8 (normalizer.py:145-153): split 'Facility, City, ST'; returns struct
    (facility, city, state) with a 2-char-state heuristic."""
    parts = F.split(col, r"\s*,\s*")
    n = F.size(parts)
    last = F.trim(F.element_at(parts, -1))
    state = F.when((n >= 2) & (F.length(last) == 2), F.upper(last))
    city = F.when(n >= 3, F.trim(F.element_at(parts, -2))).when(
        (n == 2) & (F.length(last) != 2), last
    )
    facility = F.trim(F.element_at(parts, 1))
    return F.struct(
        facility.alias("facility"), city.alias("city"), state.alias("state")
    )


def geocode_by_zip(records: DataFrame, centroids: DataFrame) -> DataFrame:
    """P5 (etl/geocoder.py:52-99): broadcast-join zip -> (lat, lon) with a
    zip3-prefix fallback (deterministic first centroid per prefix).  Apply
    it to a normalized source's records (the reference geocodes licenses)."""
    exact = centroids.select(
        F.col("zip").alias("_zip"), F.col("lat").alias("_lat"), F.col("lon").alias("_lon")
    )
    w = Window.partitionBy("_zip3").orderBy("zip")
    prefix = (
        centroids.withColumn("_zip3", F.substring("zip", 1, 3))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_zip3", F.col("lat").alias("_lat3"), F.col("lon").alias("_lon3"))
    )
    out = (
        records.join(F.broadcast(exact), records["facility_zip"] == exact["_zip"], "left")
        .withColumn("_fzip3", F.substring("facility_zip", 1, 3))
        .join(F.broadcast(prefix), F.col("_fzip3") == prefix["_zip3"], "left")
        .withColumn("latitude", F.coalesce("latitude", "_lat", "_lat3"))
        .withColumn("longitude", F.coalesce("longitude", "_lon", "_lon3"))
        .drop("_zip", "_lat", "_lon", "_zip3", "_lat3", "_lon3", "_fzip3")
    )
    return out


RECORD_COLUMNS = [
    "source", "source_id", "npi", "name_raw", "name_first", "name_last",
    "name_middle", "name_standardized", "specialty", "facility_name",
    "facility_city", "facility_state", "facility_zip", "latitude", "longitude",
]


def normalize_source(
    raw: DataFrame,
    source: str,
    mapping: dict[str, str],
    id_key_cols: list[str],
) -> DataFrame:
    """P1: one per-source normalizer = one projection.  ``mapping`` maps
    canonical record fields -> raw column names; missing fields become NULL.
    ``id_key_cols`` are *raw* column names hashed into the stable id (P2).
    If the raw frame maps a full-name column but no parts, it is parsed (P3)."""
    sel = [stable_source_id(source, *id_key_cols).alias("source_id")]
    for field in ["npi", "name_raw", "name_first", "name_last", "name_middle",
                  "specialty", "facility_name", "facility_city", "facility_state",
                  "facility_zip"]:
        src_col = mapping.get(field)
        sel.append(
            (F.trim(F.col(src_col)).cast("string") if src_col else F.lit(None).cast("string")
             ).alias(field)
        )
    for field in ["latitude", "longitude"]:
        src_col = mapping.get(field)
        sel.append((F.col(src_col).cast("double") if src_col else
                    F.lit(None).cast("double")).alias(field))
    df = raw.select(*sel)

    if mapping.get("name_raw") and not mapping.get("name_last"):
        parsed = parse_name_udf(F.col("name_raw"))
        df = (
            df.withColumn("_p", parsed)
            .withColumn("name_first", F.col("_p.first"))
            .withColumn("name_last", F.col("_p.last"))
            .withColumn("name_middle", F.col("_p.middle"))
            .drop("_p")
        )
    df = (
        df.withColumn("npi", valid_npi(F.col("npi")))
        .withColumn("source", F.lit(source))
        .withColumn("name_standardized", standardized_name())
    )
    # empty strings -> NULL (schema-on-read hygiene, loaders.py dtype=str analog)
    for c in ["npi", "name_first", "name_last", "name_middle", "specialty",
              "facility_name", "facility_city", "facility_state", "facility_zip"]:
        df = df.withColumn(c, F.when(F.length(F.col(c)) > 0, F.col(c)))
    return df.select(*RECORD_COLUMNS)


def union_sources(frames: list[DataFrame]) -> DataFrame:
    """§2.9: unionByName across per-source normalizers."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
