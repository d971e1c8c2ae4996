"""Source loaders — the reference's ``etl/loaders.py`` + per-source
normalizer wiring (``etl/normalizer.py:37-194``) as Spark reads.

The reference loads five CSV drops with ``pd.read_csv(dtype=str)`` and
normalizes each with a hand-written row loop; here each source is ONE
``spark.read.csv`` with an explicit all-string schema (schema-on-read —
no inference job, no type surprises) and one :func:`normalize_source`
projection.  Column mappings mirror the reference normalizers exactly:

- cms:         provider_name / provider_specialty / facility_name; NPI
               kept (invalid forms nulled by P7).
- license:     physician_name / specialty / address_city / address_state /
               address_zip (geocode with ``normalize.geocode_by_zip``, P5);
               licenses carry no NPI.
- hospital:    physician_name / department -> specialty / hospital_name.
- publication: author_name; facility/city/state parsed from
               author_affiliation (P8); no NPI, no specialty.

At 100 TB the same functions run against Iceberg tables instead of CSV
(swap ``read.csv`` for ``read.table``); everything downstream is schema-
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.normalize import (
    RECORD_COLUMNS,
    normalize_source,
    parse_affiliation,
    union_sources,
)


def _all_string(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])


# CSV schemas mirror the reference data drops (loaders.py reads dtype=str)
SOURCE_SCHEMAS: dict[str, T.StructType] = {
    "cms": _all_string([
        "source_id", "npi", "provider_name", "provider_specialty",
        "facility_name", "facility_npi", "procedure_code", "procedure_date",
        "patient_id", "true_physician_id",
    ]),
    "license": _all_string([
        "source_id", "license_number", "physician_name", "specialty",
        "license_state", "license_status", "address_line1", "address_city",
        "address_state", "address_zip", "medical_school", "graduation_year",
        "true_physician_id",
    ]),
    "hospital": _all_string([
        "source_id", "hospital_id", "hospital_name", "physician_name",
        "department", "title", "phone", "email", "start_date", "npi",
        "true_physician_id",
    ]),
    "publication": _all_string([
        "source_id", "publication_id", "title", "author_name",
        "author_position", "author_affiliation", "publication_date",
        "journal", "true_physician_id",
    ]),
    "referrals": _all_string([
        "referring_npi", "receiving_npi", "patient_id", "referral_date",
        "diagnosis_code", "referring_true_id", "receiving_true_id",
    ]),
    "ground_truth": _all_string(["source_id", "true_physician_id", "source"]),
}

SOURCE_FILES = {
    "cms": "cms_claims.csv",
    "license": "state_licenses.csv",
    "hospital": "hospital_affiliations.csv",
    "publication": "publications.csv",
    "referrals": "referrals.csv",
}

# canonical record field -> raw column, per source (normalizer.py:37-176)
SOURCE_MAPPINGS: dict[str, dict[str, str]] = {
    "cms": {
        "npi": "npi",
        "name_raw": "provider_name",
        "specialty": "provider_specialty",
        "facility_name": "facility_name",
    },
    "license": {
        "name_raw": "physician_name",
        "specialty": "specialty",
        "facility_city": "address_city",
        "facility_state": "address_state",
        "facility_zip": "address_zip",
    },
    "hospital": {
        "npi": "npi",
        "name_raw": "physician_name",
        "specialty": "department",
        "facility_name": "hospital_name",
    },
    "publication": {
        "name_raw": "author_name",
        "facility_name": "_aff_facility",
        "facility_city": "_aff_city",
        "facility_state": "_aff_state",
    },
}


def load_source_csv(spark: SparkSession, path: str, source: str) -> DataFrame:
    """One CSV drop with its explicit all-string schema (S1)."""
    return spark.read.csv(path, header=True, schema=SOURCE_SCHEMAS[source])


def load_all_sources(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """loaders.py:67-77 analog: every source file under ``data_dir``."""
    return {
        name: load_source_csv(spark, f"{data_dir}/{fname}", name)
        for name, fname in SOURCE_FILES.items()
    }


def normalize_all(sources: dict[str, DataFrame]) -> DataFrame:
    """normalizer.py:177-194 analog: per-source projections unioned into
    ONE records frame with :data:`RECORD_COLUMNS`."""
    frames = []
    for name in ("cms", "license", "hospital", "publication"):
        if name not in sources:
            continue
        raw = sources[name]
        if name == "publication":
            # P8: 'Facility, City, ST' parse feeds the facility fields
            aff = parse_affiliation(F.col("author_affiliation"))
            raw = (
                raw.withColumn("_aff", aff)
                .withColumn("_aff_facility", F.col("_aff.facility"))
                .withColumn("_aff_city", F.col("_aff.city"))
                .withColumn("_aff_state", F.col("_aff.state"))
                .drop("_aff")
            )
        frames.append(normalize_source(raw, name, SOURCE_MAPPINGS[name], ["source_id"]))
    return union_sources(frames)


def load_ground_truth(spark: SparkSession, path: str) -> DataFrame:
    """Ground-truth mapping for the A16 pairwise-F1 evaluation."""
    return spark.read.csv(path, header=True, schema=SOURCE_SCHEMAS["ground_truth"])


# ---------------------------------------------------------------------------
# Corpus document sources (training-data surface)
# ---------------------------------------------------------------------------

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
])


def load_documents_jsonl(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL document reader with corrupt-line quarantine.

    At 100 TB some fraction of lines is always malformed (truncated writes,
    encoding damage); FAILFAST would kill a day-long job on one bad byte and
    DROPMALFORMED discards silently.  Returns ``(good, quarantined)`` —
    good rows typed per DOCUMENTS_SCHEMA, quarantined raw lines for replay.

    Implementation is text-scan + ``from_json`` rather than the PERMISSIVE
    ``_corrupt_record`` reader: the corrupt column cannot be queried on its
    own without caching the whole parse (SPARK-21610) — a non-starter at
    corpus scale — while this shape is one streaming pass, splits cleanly,
    and the explicit schema avoids a full inference pass.  A line parsing
    to an all-null struct (e.g. ``{}``) is quarantined too: a document with
    neither id nor text is noise either way."""
    lines = spark.read.text(path)
    parsed = lines.select(
        F.col("value"),
        F.from_json("value", DOCUMENTS_SCHEMA).alias("j"),
    )
    ok = F.col("j").isNotNull() & (
        F.col("j.doc_id").isNotNull() | F.col("j.text").isNotNull()
    )
    good = parsed.where(ok).select("j.*")
    bad = parsed.where(~ok).select(F.col("value").alias("raw_line"))
    return good, bad
