"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship entity-resolution pipeline (blocking ->
scoring -> classification -> connected components -> entities) over the
sf0.001 ``documents`` table viewed as a code corpus.

``queries()`` maps SURVEY.md §2 operators onto the driver testdata tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for every SQL-expressible
one.  Column names and float rounding are aligned on both sides because the
driver hashes values order-insensitively after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship ER pipeline on sf0.001 documents; returns entity clusters."""
    from healthcare_entity_resolution_spark.pipeline import (
        documents_as_files,
        resolve_files,
    )

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    out = resolve_files(spark, documents_as_files(docs))
    return out["entities"].select(
        "entity_id", "member_count", "distinct_contents"
    ).orderBy(F.col("member_count").desc(), "entity_id")


# ---------------------------------------------------------------------------
# oracle-checked operator queries (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_s1_scan(spark, sf):
    return (
        _t(spark, sf, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )


def q_p2_stable_id(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.sha2(F.concat_ws("\x1f", F.col("c_name"), F.col("c_mktsegment")), 256).alias("stable_id"),
    )


def q_p4_standardize(spark, sf):
    p = _t(spark, sf, "part")
    toks = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.upper(F.concat_ws(", ", F.element_at(toks, -1), F.element_at(toks, 1))).alias(
            "name_standardized"
        ),
    )


def q_p6_haversine(spark, sf):
    c = _t(spark, sf, "customer")
    lat1 = (F.col("c_custkey") % 180) - 89.5
    lon1 = (F.col("c_custkey") % 360) - 179.5
    lat2, lon2 = F.lit(40.7), F.lit(-74.0)
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat, dlon = F.radians(lat2 - lat1), F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    dist = F.lit(3958.8) * 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    return c.select("c_custkey", F.round(dist, 4).alias("dist_miles"))


def q_p7_validate(spark, sf):
    e = _t(spark, sf, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
    return (
        e.select("event_id", k.alias("k"))
        .where(F.col("k").isNotNull() & (F.col("k") % 2 == 0))
    )


def q_b1_block_groups(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )


def q_b2_block_composite(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )


def q_b5_pair_count(spark, sf):
    # |A ∪ B| for the two blocking strategies WITHOUT materializing the
    # pair explosion: inclusion–exclusion over group-size C(n,2) sums.
    # |A| = Σ_nation C(n,2); |B| = Σ_segment C(n,2); |A∩B| = pairs agreeing
    # on BOTH keys = Σ_(nation,segment) C(n,2).  Equivalent to the
    # enumerate-union-dedup plan (oracle does exactly that) but runs three
    # cheap aggregations instead of an O(Σ n²) self-join — the plan a
    # count-only blocking query should compile to at 100 TB.
    c = _t(spark, sf, "customer")
    c2 = lambda col: F.sum(F.expr(f"{col} * ({col} - 1) / 2"))  # noqa: E731
    nat = c.groupBy("c_nationkey").agg(F.count("*").alias("n")).agg(c2("n").alias("a"))
    seg = c.groupBy("c_mktsegment").agg(F.count("*").alias("n")).agg(c2("n").alias("b"))
    both = (
        c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
        .agg(c2("n").alias("ab"))
    )
    return (
        nat.crossJoin(seg).crossJoin(both)
        .select((F.col("a") + F.col("b") - F.col("ab")).cast("long").alias("n_pairs"))
    )


def q_j2_lookup(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("o_orderkey", "c_name", "o_totalprice")
    )


def q_j5_anti(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


def q_a3_tallies(spark, sf):
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("n"))


def q_a4_mode(spark, sf):
    o = _t(spark, sf, "orders")
    cnt = o.groupBy("o_custkey", "o_orderpriority").agg(F.count("*").alias("n"))
    w = W.partitionBy("o_custkey").orderBy(F.col("n").desc(), F.col("o_orderpriority"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("mode_priority"))
    )


def q_a5_argmax(spark, sf):
    c = _t(spark, sf, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_custkey").alias("best_custkey"))
    )


def q_a8_group_stats(spark, sf):
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.min("c_acctbal"), 4).alias("min_bal"),
    )


def q_a9_countdistinct(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_a12_histogram(spark, sf):
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "lt_50k")
        .when(F.col("o_totalprice") < 150000, "50k_150k")
        .when(F.col("o_totalprice") < 300000, "150k_300k")
        .otherwise("gte_300k")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


def q_a13_score_stats(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.min("l_discount"), 6).alias("min_d"),
        F.round(F.max("l_discount"), 6).alias("max_d"),
        F.round(F.avg("l_discount"), 6).alias("avg_d"),
        F.round(F.median("l_discount"), 6).alias("med_d"),
    )


def q_a9_a12_a13_report_suite(spark, sf):
    """A9 countDistinct + A12 histogram + A13 score stats melted into one
    long-format (grp, metric, value) frame.  Consolidates three sibling
    aggregation keys into a single driver slot (round-4 VERDICT item 1) so
    the freed slots carry the decontamination and redaction oracle checks —
    all three aggregation patterns stay value-checked, just via one union."""
    a9m = q_a9_countdistinct(spark, sf).selectExpr(
        "l_returnflag AS grp",
        "stack(2, 'n_parts', CAST(n_parts AS DOUBLE), "
        "'n_supps', CAST(n_supps AS DOUBLE)) AS (metric, value)",
    )
    a12m = q_a12_histogram(spark, sf).select(
        F.col("bucket").alias("grp"),
        F.lit("n").alias("metric"),
        F.col("n").cast("double").alias("value"),
    )
    a13m = q_a13_score_stats(spark, sf).selectExpr(
        "l_returnflag AS grp",
        "stack(4, 'min_d', min_d, 'max_d', max_d, "
        "'avg_d', avg_d, 'med_d', med_d) AS (metric, value)",
    )
    return a9m.unionByName(a12m).unionByName(a13m)


def q_a14_coverage(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.round(F.avg(F.col("text").isNotNull().cast("int")), 6).alias("text_cov"),
        F.round(F.avg((F.col("n_chars") > 100).cast("int")), 6).alias("long_ratio"),
    )


def q_a15_multi(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
        .where(F.col("n_types") >= 4)
    )


def q_a16_pairwise_f1(spark, sf):
    """A16 pairwise P/R/F1 of the ``lang`` clustering against ``source``."""
    from healthcare_entity_resolution_spark.operators.evaluate import pairwise_f1

    out = pairwise_f1(_t(spark, sf, "documents"), "lang", "source")
    return out.select(*[F.round(c, 6).alias(c) for c in ("precision", "recall", "f1")])


def q_a17_topk(spark, sf):
    c = _t(spark, sf, "customer")
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_acctbal")
    )


def q_a10_edge_agg(spark, sf):
    e = _t(spark, sf, "events")
    src = F.col("user_id")
    dst = F.col("event_id") % 100
    return (
        e.select(src.alias("src"), dst.alias("dst"), "ts")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_us"),
        )
    )


def q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_distinct"),
    )


def q_decontam_overlap(spark, sf):
    """Value-checks decontaminate.contamination_report end to end.  The
    'benchmark' is the deterministic doc_id % 41 == 0 subset of documents;
    k=8 char shingles.  The byte-window hash kernel (functions/text.py
    shingle_hashes) is injective for k <= 8 and the corpus is ASCII, so the
    DuckDB oracle's substr-based shingles produce identical distinct and
    overlap counts."""
    from healthcare_entity_resolution_spark.operators import decontaminate as DC

    d = _t(spark, sf, "documents")
    bench = d.where(F.pmod(F.col("doc_id"), 41) == 0)
    idx = DC.benchmark_shingle_index(bench, "doc_id", "text", k=8)
    rep = DC.contamination_report(d, idx, "doc_id", "text", k=8, threshold=0.5)
    return rep.select(
        F.col("id").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round("overlap_ratio", 6).alias("overlap_ratio"),
        F.col("contaminated"),
    )


def q_redact_counts(spark, sf):
    """Value-checks redact.redact_pii (the full regexp_replace chain plus
    the regexp_count columns).  The word-soup corpus carries no PII, so the
    query plants deterministic email/phone/ipv4/ssn/api-key strings derived
    from doc_id — the oracle builds the exact same strings and replays the
    chain with DuckDB regexp functions (both engines are leftmost-first,
    non-overlapping)."""
    from healthcare_entity_resolution_spark.operators import redact as R

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.lit(" call 555-"),
        F.lpad(F.pmod(did, 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(did, 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), F.pmod(did, 256).cast("string"),
        F.lit("."), F.pmod(did * 7, 256).cast("string"),
        F.when(
            F.pmod(did, 3) == 0,
            F.concat(F.lit(" ssn 123-45-"),
                     F.lpad(F.pmod(did, 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(did, 5) == 0,
            F.concat(F.lit(" key AKIA"),
                     F.lpad(F.pmod(did, 100000).cast("string"), 16, "0")),
        ).otherwise(F.lit("")),
    )
    out = R.redact_pii(d.select("doc_id", planted.alias("text")), "text")
    kinds = ["email", "phone", "ipv4", "ssn", "api_key"]
    return out.select(
        "doc_id",
        F.col("text").alias("redacted"),
        *[F.col(f"pii_{k}").cast("long").alias(f"pii_{k}") for k in kinds],
        F.col("pii_total").cast("long").alias("pii_total"),
    )


def q_dedup_ngram_jaccard(spark, sf):
    """Routed through dedup.ngram_jaccard_pairs: id-only candidates via the
    candidate_pairs discipline, gram arrays joined back post-pairing.  The
    DuckDB oracle is an exact (unsalted) block join, so this oracle-checked
    query pins max_block_size to 2^31: salting must stay a no-op at ANY
    scale factor the driver picks, instead of silently dropping cross-salt
    pairs once a (lang,bucket) block outgrows the production default."""
    import dataclasses

    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import dedup as D

    d = _t(spark, sf, "documents").withColumn(
        "bucket", (F.col("n_chars") / 100).cast("int")
    )
    exact_cfg = dataclasses.replace(DEFAULT_CONFIG, max_block_size=2**31)
    out = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "bucket"], n=1, threshold=0.5, cfg=exact_cfg
    )
    return out.select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    ).where(F.col("jaccard") >= 0.5)


def q_emb_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    e = e.select("vec_id", as_double("embedding").alias("embedding"))
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    j = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != 0)
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0).cast("double"), lambda a, x: a + x * x)
    )
    cos = dot / (norm("embedding") * norm("qv"))
    return (
        j.select("vec_id", F.round(cos, 5).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(20)
    )


def q_text_stats(spark, sf):
    d = _t(spark, sf, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avg_token_len = (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) /
                     n_tokens.cast("double"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_token_len, 6).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# derived frames shared by the operator-parity queries (identical derivations
# exist in the oracle SQL) — customer rows reshaped into the engine's
# records/matches/assignments contract
# ---------------------------------------------------------------------------

_SRC_MAP = {"BUILDING": "cms", "AUTOMOBILE": "license",
            "MACHINERY": "hospital", "FURNITURE": "publication"}


def _source_expr():
    e = F.lit("other")
    for seg, src in _SRC_MAP.items():
        e = F.when(F.col("c_mktsegment") == seg, F.lit(src)).otherwise(e)
    return e


def _cust_records(spark, sf):
    c = _t(spark, sf, "customer")
    npi = F.when(
        (F.col("c_nationkey") < 20) & (F.col("c_custkey") % 3 == 0),
        (F.lit(1000000000) + F.col("c_nationkey")).cast("string"),
    )
    return c.select(
        F.col("c_custkey").cast("string").alias("source_id"),
        _source_expr().alias("source"),
        npi.alias("npi"),
        F.col("c_name").alias("name_raw"),
        F.col("c_mktsegment").alias("specialty"),
        F.concat(F.lit("FAC_"), (F.col("c_custkey") % 5).cast("string")).alias("facility_name"),
        F.concat(F.lit("CITY_"), (F.col("c_custkey") % 7).cast("string")).alias("facility_city"),
        F.concat(F.lit("ST_"), (F.col("c_custkey") % 11).cast("string")).alias("facility_state"),
    )


def _cust_matches(spark, sf):
    """Edges between consecutive custkeys in the same nation; weight from
    account balances, clamped to [0, 1]."""
    c = _t(spark, sf, "customer")
    a = c.select(F.col("c_custkey").alias("k1"), F.col("c_nationkey").alias("n1"),
                 F.col("c_acctbal").alias("b1"))
    b = c.select(F.col("c_custkey").alias("k2"), F.col("c_nationkey").alias("n2"),
                 F.col("c_acctbal").alias("b2"))
    j = a.join(b, (F.col("k2") == F.col("k1") + 1) & (F.col("n1") == F.col("n2")))
    # floor-quantized (NOT round()ed): round's tie-breaking differs between
    # engines; floor of a bit-identical double is engine-independent
    score = F.floor(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0),
                (F.col("b1") + F.col("b2") + 10000) / 20000)) * 1e4
    ) / 1e4
    return j.select(
        F.col("k1").cast("string").alias("id_1"),
        F.col("k2").cast("string").alias("id_2"),
        score.alias("overall_score"),
    )


_CUST_MATCH_SQL = (
    "SELECT CAST(a.c_custkey AS VARCHAR) AS id_1, CAST(b.c_custkey AS VARCHAR) AS id_2, "
    " floor(least(1.0, greatest(0.0, (a.c_acctbal + b.c_acctbal + 10000) / 20000)) * 1e4) "
    " / 1e4 AS overall_score "
    "FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1 "
    " AND a.c_nationkey = b.c_nationkey"
)

_CUST_REC_SQL = (
    "SELECT CAST(c_custkey AS VARCHAR) AS source_id, "
    " CASE c_mktsegment WHEN 'BUILDING' THEN 'cms' WHEN 'AUTOMOBILE' THEN 'license' "
    "  WHEN 'MACHINERY' THEN 'hospital' WHEN 'FURNITURE' THEN 'publication' "
    "  ELSE 'other' END AS source, "
    " CASE WHEN c_nationkey < 20 AND c_custkey % 3 = 0 "
    "  THEN CAST(1000000000 + c_nationkey AS VARCHAR) END AS npi, "
    " c_name AS name_raw, c_mktsegment AS specialty, "
    " 'FAC_' || CAST(c_custkey % 5 AS VARCHAR) AS facility_name, "
    " 'CITY_' || CAST(c_custkey % 7 AS VARCHAR) AS facility_city, "
    " 'ST_' || CAST(c_custkey % 11 AS VARCHAR) AS facility_state, "
    " CAST(c_nationkey AS VARCHAR) AS component_id "
    "FROM customer"
)


def _cust_assignments(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_nationkey").cast("string").alias("component_id"),
    )


# --- P3: path/name tokenizer ------------------------------------------------

def q_p3_tokenize(spark, sf):
    # tokens serialized with concat_ws: the driver's oracle canonicalizer
    # sorts with pandas, and Python lists are unhashable (ArrayType columns
    # break the hash compare).  The operator API keeps ArrayType; only the
    # oracle-facing query serializes.
    p = _t(spark, sf, "part")
    toks = F.sort_array(F.array_distinct(F.split(F.lower(F.col("p_name")), r"\s+")))
    return p.select(
        "p_partkey",
        F.concat_ws("|", toks).alias("tokens"),
        F.size(toks).alias("n_tokens"),
    )


# --- P5: geocode with prefix fallback ---------------------------------------

def q_p5_geocode(spark, sf):
    n = _t(spark, sf, "nation")
    dim = n.select(
        F.col("n_nationkey").cast("string").alias("code"),
        (F.col("n_nationkey") * 3.0 - 35.0).alias("lat"),
        (F.col("n_nationkey") * 7.0 - 80.0).alias("lon"),
    )
    # coarse prefix dim: first row per 1-char prefix (zip3 fallback analog)
    pref = dim.withColumn("p", F.substring("code", 1, 1))
    w = W.partitionBy("p").orderBy(F.col("code"))
    coarse = (
        pref.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("p", F.col("lat").alias("plat"), F.col("lon").alias("plon"))
    )
    c = _t(spark, sf, "customer")
    zip_col = F.when(F.col("c_custkey") % 7 != 0, F.col("c_nationkey").cast("string"))
    cc = c.select("c_custkey", zip_col.alias("zip"))
    j = (
        cc.join(F.broadcast(dim), cc["zip"] == dim["code"], "left")
        .join(F.broadcast(coarse), F.substring(cc["zip"], 1, 1) == coarse["p"], "left")
    )
    return j.select(
        "c_custkey",
        F.round(F.coalesce("lat", "plat"), 6).alias("latitude"),
        F.round(F.coalesce("lon", "plon"), 6).alias("longitude"),
    )


# --- B3 (soundex, rows-only) / B4 -------------------------------------------

def q_b3_soundex(spark, sf):
    p = _t(spark, sf, "part")
    key = F.concat_ws("|", F.soundex(F.upper(F.element_at(F.split("p_name", " "), 1))),
                      F.col("p_brand"))
    return (
        p.groupBy(key.alias("block_key")).agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )


def q_b4_first_initial(spark, sf):
    p = _t(spark, sf, "part")
    last = F.element_at(F.split("p_name", " "), -1)
    first_initial = F.substring(F.element_at(F.split("p_name", " "), 1), 1, 1)
    key = F.concat_ws("|", last, first_initial)
    return (
        p.groupBy(key.alias("block_key")).agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )


# --- C1/C2: classification ladders ------------------------------------------

def _li_scored(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = F.round(F.least(F.lit(1.0), F.col("l_discount") * 12.0), 6)
    auth = (
        F.when(F.col("l_partkey") % 5 == 0, 1.0)
        .when(F.col("l_partkey") % 5 == 1, 0.0)
        .otherwise(F.lit(None).cast("double"))
    )
    return li.select(
        F.col("l_orderkey").alias("id_1"),
        F.col("l_linenumber").alias("id_2"),
        s.alias("overall_score"),
        auth.alias("npi_match"),
        F.round(F.least(F.lit(1.0), F.col("l_tax") * 12.0), 6).alias("location_score"),
        F.round(F.least(F.lit(1.0), F.col("l_quantity") / 50.0), 6).alias("name_similarity"),
        F.when(F.col("l_partkey") % 4 != 0,
               F.round(F.col("l_quantity") / 50.0, 6)).alias("specialty_match"),
    )


_LI_SCORED_SQL = (
    "SELECT l_orderkey AS id_1, l_linenumber AS id_2, "
    " round(least(1.0, l_discount * 12.0), 6) AS overall_score, "
    " CASE WHEN l_partkey % 5 = 0 THEN 1.0 WHEN l_partkey % 5 = 1 THEN 0.0 END AS npi_match, "
    " round(least(1.0, l_tax * 12.0), 6) AS location_score, "
    " round(least(1.0, l_quantity / 50.0), 6) AS name_similarity, "
    " CASE WHEN l_partkey % 4 != 0 THEN round(l_quantity / 50.0, 6) END AS specialty_match "
    "FROM lineitem"
)


# --- G1–G3: edge construction -----------------------------------------------

def q_g3_edge_weights(spark, sf):
    from healthcare_entity_resolution_spark.operators import graph as GR

    e = GR.build_edges(_cust_records(spark, sf), _cust_matches(spark, sf))
    # integer micro-units instead of round(x, 6): round()'s tie-breaking on
    # exact .5 boundaries differs between engines; floor(x*1e6 + 0.5) on the
    # identical double is deterministic on both sides
    return e.select("id_1", "id_2",
                    F.floor(F.col("weight") * 1e6).alias("weight_micro"),
                    "match_type", "sources")


# --- G10: cluster labels ----------------------------------------------------

def q_g10_cluster_labels(spark, sf):
    from healthcare_entity_resolution_spark.operators.components import (
        assign_cluster_labels,
    )

    return assign_cluster_labels(_cust_assignments(spark, sf))


# --- G4: connected components (recursive-CTE oracle) ------------------------

def q_cc_components(spark, sf):
    from healthcare_entity_resolution_spark.operators.components import (
        connected_components,
    )

    e = _t(spark, sf, "events").where(F.col("event_id") % 97 == 0).select(
        F.col("user_id").alias("id_1"),
        (F.lit(200) + F.col("event_id") % 300).alias("id_2"),
    )
    return connected_components(e)


# --- K1/K3: survivorship ----------------------------------------------------

def q_k3_survivorship(spark, sf):
    from healthcare_entity_resolution_spark.operators.canonicalize import (
        canonical_entities,
    )

    ents = canonical_entities(_cust_records(spark, sf), _cust_assignments(spark, sf))
    # all_facilities is ArrayType in the operator API; serialize for the
    # driver's pandas-based canonicalizer (lists are unhashable there).
    return ents.select(
        "canonical_id", "component_id", "npi", "name", "specialty",
        "primary_facility", "city", "state",
        F.concat_ws("|", "all_facilities").alias("all_facilities"),
        "source_count",
    )


# --- K4/K5: confidence ------------------------------------------------------

def q_k4_entity_confidence(spark, sf):
    from healthcare_entity_resolution_spark.operators.canonicalize import (
        entity_confidence,
    )

    e = _cust_matches(spark, sf).withColumnRenamed("overall_score", "weight")
    return entity_confidence(_cust_records(spark, sf), e, _cust_assignments(spark, sf))


def q_k5_record_confidence(spark, sf):
    from healthcare_entity_resolution_spark.operators.canonicalize import (
        record_confidence,
    )

    e = _cust_matches(spark, sf).withColumnRenamed("overall_score", "weight")
    return record_confidence(e, _cust_assignments(spark, sf))


# --- A6/A7 ------------------------------------------------------------------

def q_a6_mode_priority(spark, sf):
    o = _t(spark, sf, "orders")
    cnt = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").alias("n"), F.max("o_orderkey").alias("p")
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("n").desc(), F.col("p").desc(), F.col("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("picked"))
    )


def q_a7_collect_distinct(spark, sf):
    c = _t(spark, sf, "customer")
    # serialized (not ArrayType) for the driver's pandas canonicalizer
    return c.groupBy("c_nationkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments")
    )


# ---------------------------------------------------------------------------
# batch 2: text analysis, portable dedup, ANN, multimodal, network
# ---------------------------------------------------------------------------

def q_lang_identify(spark, sf):
    from healthcare_entity_resolution_spark.operators import textstats as TS

    return TS.identify_language(_t(spark, sf, "documents"), "doc_id", "text")


def q_quality_features(spark, sf):
    from healthcare_entity_resolution_spark.operators import textstats as TS

    return TS.quality_features(_t(spark, sf, "documents"), "doc_id", "text")


def q_token_counts(spark, sf):
    from healthcare_entity_resolution_spark.operators import textstats as TS

    return TS.token_counts(_t(spark, sf, "documents"), "doc_id", "text")


def q_fingerprint(spark, sf):
    from healthcare_entity_resolution_spark.operators import textstats as TS

    return TS.fingerprint(_t(spark, sf, "documents"), "doc_id", "text", k=8)


def _shingles(text_col, k: int = 5, step: int = 1):
    """Char k-shingles; ``step`` > 1 samples every step-th position (a
    winnowing-style sparse shingling — everything downstream of a minhash
    scheme is O(shingles), so stride-2 halves signature, band, and verify
    cost while keeping overlap coverage)."""
    t = F.trim(F.lower(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)),
                     F.lit(step))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(k))))


def q_dedup_minhash_portable(spark, sf):
    """MinHash/LSH dedup with a portable md5-based MinHash so the EXACT same
    signature is computable in ANSI SQL — the DuckDB oracle runs the
    identical scheme.  8 'permutations' = 8-hex-char slices of TWO md5s per
    shingle (md5 bits are uniformly mixed, so each slice is an independent
    32-bit hash — 4x fewer md5 evaluations than one md5 per permutation,
    measured 10.2s -> 4.7s for the signature stage at sf0.1); 4 bands x 2
    rows.

    Shuffle discipline (this is the plan shape that survives 100 TB):
    1. the band self-join carries the 8 slice-min columns (8 chars each, a
       ~70 B payload) so the >=4-of-8 agreement prefilter (estimated
       J >= 0.5) runs INLINE in the join stage, before the pair-dedup
       shuffle — the word-soup corpus produces 1.5M band collisions from
       5k docs at sf0.1, and filtering them pre-shuffle is the difference
       between shuffling 1.5M and ~50k pairs;
    2. the prefilter is bit-identical on both engines, so it is part of the
       query definition, not an approximation mismatch;
    3. exact Jaccard verify only for survivors, shingle arrays joined in
       last (never through the band join or dedup shuffles)."""
    d = _t(spark, sf, "documents")
    # one shuffle-free pass: TWO md5s per shingle, computed inside a single
    # transform lambda (array<struct<a,b>>), feed everything downstream —
    # signature slices AND the 60-bit long shingle hash for the exact
    # verify.  The single-lambda shape matters twice over: (1) the shingle
    # array has exactly one consumer, so CollapseProject cannot duplicate
    # the shingling; (2) hframe is persisted because higher-order functions
    # are excluded from codegen subexpression elimination — without the
    # cache boundary each md5 pass would be re-inlined once per m-column.
    hframe = d.select(
        F.col("doc_id").cast("string").alias("id"),
        F.transform(
            _shingles(F.col("text"), step=2),
            lambda t: F.struct(
                F.md5(F.concat(F.lit("a|"), t)).alias("a"),
                F.md5(F.concat(F.lit("b|"), t)).alias("b"),
            ),
        ).alias("hs"),
    ).persist()
    # 60-bit shingle hashes as longs: exact Jaccard over these equals exact
    # Jaccard over the shingles (collisions ~n^2/2^60, and identical on both
    # engines since the oracle derives the same value) — long array
    # intersects are far cheaper than 5-char-string intersects.
    basel = hframe.select(
        "id",
        F.array_distinct(
            F.transform("hs", lambda x: F.conv(F.substring(x["a"], 2, 15), 16, 10).cast("long"))
        ).alias("sh"),
    ).persist()

    # NB: the slice lambda must take exactly ONE parameter — F.transform
    # binds a second parameter (even a defaulted one) to the ELEMENT INDEX,
    # so the usual `lambda s, off=off:` capture idiom silently slices at the
    # index position instead.  Close over `field`/`off` with a factory.
    def _slice_min(field: str, off: int):
        return F.array_min(
            F.transform("hs", lambda x: F.substring(x[field], off, 8))
        )

    sig = hframe
    for j in range(8):
        field, off = ("a", 1 + 8 * j) if j < 4 else ("b", 1 + 8 * (j - 4))
        sig = sig.withColumn(f"m{j}", _slice_min(field, off))
    bands = F.array(*[
        F.struct(F.lit(b).alias("bi"),
                 F.md5(F.concat(F.col(f"m{2*b}"), F.col(f"m{2*b+1}"))).alias("bk"))
        for b in range(4)
    ])
    mcols = [f"m{j}" for j in range(8)]
    keyed = sig.select("id", *mcols, F.explode(bands).alias("b")).select(
        "id", *mcols, F.col("b.bi").alias("bi"), F.col("b.bk").alias("bk")
    ).persist()
    keyed.count()  # materialize once: both self-join sides read the cache
    basel.count()  # materialize the verify-side hashes off the hframe cache
    hframe.unpersist(blocking=False)
    a = keyed.select("bi", "bk", F.col("id").alias("id_1"),
                     *[F.col(m).alias(f"a{j}") for j, m in enumerate(mcols)])
    b = keyed.select("bi", "bk", F.col("id").alias("id_2"),
                     *[F.col(m).alias(f"b{j}") for j, m in enumerate(mcols)])
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(8)
    )
    pre = (
        a.join(b, ["bi", "bk"]).where((F.col("id_1") < F.col("id_2")) & (agree >= 4))
        .select("id_1", "id_2").dropDuplicates(["id_1", "id_2"])
    )
    # NO broadcast hint on the doc-side frames: basel is corpus-sized (it
    # only *happens* to fit in memory at bench scale) — AQE converts these
    # to broadcast-hash joins locally from runtime sizes, while at 100 TB
    # they correctly stay shuffle joins on id.
    g1 = basel.select(F.col("id").alias("id_1"), F.col("sh").alias("sh1"))
    g2 = basel.select(F.col("id").alias("id_2"), F.col("sh").alias("sh2"))
    verified = pre.join(g1, "id_1").join(g2, "id_2")
    inter_v = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    # |A∪B| via sizes (arrays are distinct): one array pass per pair, not two
    jac = inter_v / (
        F.size("sh1").cast("double") + F.size("sh2").cast("double") - inter_v
    )
    return verified.select(
        "id_1", "id_2", F.floor(jac * 1e6).alias("jaccard_micro")
    ).where(F.col("jaccard_micro") >= 600000)


def q_dedup_simhash16(spark, sf):
    """Portable 16-bit SimHash over char-5 shingles: per-shingle value from
    the first 4 hex chars of md5, bit-majority aggregated per document —
    pure integer arithmetic, identical in Spark and the DuckDB oracle."""
    d = _t(spark, sf, "documents")
    ex = d.select(F.col("doc_id"), F.explode(_shingles(F.col("text"))).alias("t"))
    h = F.md5(F.col("t"))
    hexv = F.lit(0)
    for kpos in range(1, 5):
        digit = F.instr(F.lit("0123456789abcdef"), F.substring(h, kpos, 1)) - 1
        hexv = hexv + digit * (16 ** (4 - kpos))
    ex = ex.select("doc_id", hexv.alias("v"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("v"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(16)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0)
    for i in range(16):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return g.select("doc_id", sim.alias("simhash16"))


def q_emb_ann_lsh(spark, sf):
    """Sign-LSH probe: bucket = sign bits of dims 1-4; scan only buckets
    within hamming distance 1 of the query's bucket, exact cosine re-rank."""
    e = _t(spark, sf, "embeddings")
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    bucket = (
        F.when(F.element_at("embedding", 1) >= 0, 1).otherwise(0)
        + F.when(F.element_at("embedding", 2) >= 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) >= 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 4) >= 0, 8).otherwise(0)
    )
    ed = e.select("vec_id", as_double("embedding").alias("v"), bucket.alias("bucket"))
    q = ed.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    j = ed.crossJoin(F.broadcast(q)).where(
        (F.col("vec_id") != 0)
        & (F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb"))) <= 1)
    )
    dot = F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y),
                      F.lit(0.0).cast("double"), lambda a, x: a + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.col(c), F.lit(0.0).cast("double"),  # noqa: E731
                                       lambda a, x: a + x * x))
    cos = dot / (nrm("v") * nrm("qv"))
    return (
        j.select("vec_id", F.round(cos, 5).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id").limit(20)
    )


def q_multimodal_meta(spark, sf):
    """Binary media column metadata: documents' text re-encoded as an opaque
    binary payload; metadata (byte length + content digest) computed from
    the BINARY column JVM-side via the multimodal operator."""
    from healthcare_entity_resolution_spark.operators import multimodal as MM

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text").alias("kind"),
    )
    return MM.attach_media_metadata(d, "media_id", "payload", "kind")


def q_n3_referral_metrics(spark, sf):
    from healthcare_entity_resolution_spark.operators import network as NW

    e = _t(spark, sf, "events").select(
        F.col("user_id").alias("src"), (F.col("event_id") % 50).alias("dst")
    ).where(F.col("src") != F.col("dst")).groupBy("src", "dst").agg(
        F.count("*").alias("referral_count")
    )
    return NW.referral_metrics(e)


def q_n5_colleague_merge(spark, sf):
    from healthcare_entity_resolution_spark.operators import network as NW

    ents = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("string").alias("canonical_id"),
        F.concat(F.lit("F"), (F.col("s_nationkey") % 10).cast("string")).alias(
            "primary_facility"
        ),
    )
    out = NW.merge_colleague_edges(NW.colleague_pairs(ents))
    # Array columns crash the driver's pandas sort_values canonicalizer
    # (unhashable list) — stringify, same pattern as q_g11_overmatch.
    return out.select(
        "id_1", "id_2", "strength",
        F.concat_ws("|", "relation_types").alias("relation_types"),
    )


def q_n2_pagerank(spark, sf):
    # fixed_iter=20 makes the power iteration deterministic so the DuckDB
    # recursive-CTE oracle can replay it exactly; floor micro-units avoid
    # engine-specific round() tie-breaking.
    from healthcare_entity_resolution_spark.operators import network as NW

    e = _t(spark, sf, "events").select(
        F.col("user_id").alias("src"), (F.col("event_id") % 50).alias("dst")
    ).where(F.col("src") != F.col("dst")).groupBy("src", "dst").agg(
        F.count("*").alias("referral_count")
    )
    out = NW.pagerank(e, fixed_iter=20)
    return out.select("id", F.floor(F.col("pagerank") * 1e6).alias("pr_micro"))


def q_g13_cluster_quality(spark, sf):
    from healthcare_entity_resolution_spark.operators import graph as GR

    recs = _cust_records(spark, sf)
    edges = _cust_matches(spark, sf).withColumnRenamed("overall_score", "weight")
    out = GR.cluster_quality(recs, edges, _cust_assignments(spark, sf))
    # NULL avg/min (edgeless clusters) -> -1 sentinel: mixed None/float
    # columns break order-insensitive row sorting in comparison harnesses
    return out.select(
        "component_id", "size", "n_edges",
        F.coalesce("avg_weight", F.lit(-1.0)).alias("avg_weight"),
        F.coalesce("min_weight", F.lit(-1.0)).alias("min_weight"),
        "density", "npi_count", "state_count", "source_count", "npi_conflict",
        "quality_score",
        # stringified: array columns crash the driver's pandas canonicalizer
        F.concat_ws("|", "warnings").alias("warnings"),
    )


def q_p8_affiliation(spark, sf):
    """P8: 'Facility, City, ST' comma-split with 2-char state heuristic
    (reference etl/normalizer.py:145-153), over a derived affiliation
    string."""
    c = _t(spark, sf, "customer")
    aff = F.concat_ws(
        ", ",
        F.concat(F.lit("FAC "), (F.col("c_custkey") % 50).cast("string")),
        F.concat(F.lit("CITY"), (F.col("c_custkey") % 9).cast("string")),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("IL")).otherwise(F.lit("OHIO")),
    )
    parts = F.split(aff, ", ")
    last = F.element_at(parts, -1)
    state = F.when(F.length(last) == 2, last)
    return c.select(
        "c_custkey",
        F.element_at(parts, 1).alias("facility"),
        F.element_at(parts, 2).alias("city"),
        state.alias("state"),
    )


def q_j3_map_join(spark, sf):
    """J3: map raw event endpoints through an id->canonical mapping with two
    broadcast joins, dropping unresolved rows and self-loops
    (reference pipeline.py:114-120)."""
    e = _t(spark, sf, "events")
    mapping = (
        _t(spark, sf, "customer")
        .where(F.col("c_custkey") % 2 == 0)  # half the ids resolve
        .select(F.col("c_custkey").alias("raw_id"),
                F.concat(F.lit("ENT_"), (F.col("c_custkey") % 97).cast("string"))
                .alias("canonical_id"))
    )
    src_m = mapping.withColumnRenamed("raw_id", "user_id").withColumnRenamed(
        "canonical_id", "src")
    dst = (F.col("event_id") % 1500).alias("dst_raw")
    dst_m = mapping.withColumnRenamed("raw_id", "dst_raw").withColumnRenamed(
        "canonical_id", "dst")
    return (
        e.select("event_id", "user_id", dst)
        .join(F.broadcast(src_m), "user_id")
        .join(F.broadcast(dst_m), "dst_raw")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.count("*").alias("n"))
    )


def q_g12_graph_diagnostics(spark, sf):
    """G12 non-SQL-expressible half (rows-only by design): per-component
    bridges / articulation points / cohesion (networkx in applyInPandas)
    joined with the weak-bridge split suggestions on component_id — one
    rows-only key covering both surfaces; the SQL-expressible stats half is
    value-checked separately as g12_component_stats."""
    from healthcare_entity_resolution_spark.operators.components import (
        connected_components,
    )
    from healthcare_entity_resolution_spark.operators.graph import (
        component_graph_diagnostics,
        suggest_cluster_splits,
    )

    edges = _cust_matches(spark, sf).where(F.col("id_1").cast("int") < 300)
    e = edges.withColumnRenamed("overall_score", "weight")
    assign = connected_components(e)
    diag = component_graph_diagnostics(e, assign).select(
        "component_id", "n_nodes", "n_bridges", "n_weak_bridges",
        "n_articulation",
        F.floor(F.col("cohesion") * 1e6).alias("cohesion_micro"),
    )
    splits = suggest_cluster_splits(e, assign, threshold=0.6)
    return diag.join(splits, "component_id")


def q_g12_component_stats(spark, sf):
    """G12 SQL-expressible half: per-component node/edge counts + density,
    pure DataFrame aggregation (graph.component_stats) — value-checked."""
    from healthcare_entity_resolution_spark.operators.graph import component_stats

    edges = _cust_matches(spark, sf).where(F.col("id_1").cast("int") < 300)
    return component_stats(edges, _cust_assignments(spark, sf))


_SPECIALTY_CYCLE = [
    "PEDIATRICS", "GERIATRICS", "OBSTETRICS", "UROLOGY",
    "PEDIATRIC MEDICINE", "CARDIOLOGY", None,
]


def q_g11_overmatch(spark, sf):
    """G11 (overmatching.py:10-97): per-cluster overmatch flags including the
    incompatible-specialty check; specialties synthesized from custkey so
    both sides of the incompatible groups land in each nation-cluster."""
    from healthcare_entity_resolution_spark.operators import graph as GR

    spec = F.element_at(
        F.array(*[F.lit(s).cast("string") for s in _SPECIALTY_CYCLE]),
        (F.col("source_id").cast("int") % 7 + 1).cast("int"),
    )
    recs = _cust_records(spark, sf).withColumn("specialty", spec)
    edges = _cust_matches(spark, sf).withColumnRenamed("overall_score", "weight")
    assign = _cust_assignments(spark, sf)
    quality = GR.cluster_quality(recs, edges, assign)
    out = GR.detect_overmatching(quality, records=recs, assignments=assign)
    return out.select(
        "component_id", "size",
        F.concat_ws("|", "overmatch_flags").alias("flags"),
    )


def q_f10_names_match_fuzzy(spark, sf):
    """F10 (etl/name_parser.py:186-220): boolean fuzzy name compatibility as
    a pure column expression — three variants exercising the exact-first,
    single-initial, and missing-first branches."""
    from healthcare_entity_resolution_spark.operators.normalize import (
        names_match_fuzzy,
    )

    p = _t(spark, sf, "part")
    w = F.split("p_name", " ")
    base = p.select(
        "p_partkey",
        F.element_at(w, 1).alias("f"),
        F.element_at(w, -1).alias("l"),
    )
    a = base.select(F.col("p_partkey").alias("k"), F.col("f").alias("f1"),
                    F.col("l").alias("l1"))
    b = base.select((F.col("p_partkey") - 1).alias("k"), F.col("f").alias("f2"),
                    F.col("l").alias("l2"))
    j = a.join(b, "k")
    return j.select(
        F.col("k").alias("p_partkey"),
        names_match_fuzzy(F.col("f1"), F.col("l1"),
                          F.col("f2"), F.col("l2")).alias("match_neighbor"),
        names_match_fuzzy(F.col("f1"), F.col("l1"),
                          F.substring("f1", 1, 1), F.col("l1")).alias("match_initial"),
        names_match_fuzzy(F.col("f1"), F.col("l1"),
                          F.lit(None).cast("string"), F.col("l1")).alias("match_nofirst"),
    )


# ---------------------------------------------------------------------------
# merged driver-surface queries.  The driver's correctness harness records at
# most 50 query keys per round (r01 and r02 both recorded exactly the first 50
# keys in dict insertion order), so same-grain operator queries are joined
# pairwise into one surface each — every SURVEY.md §2 operator keeps a
# driver-checked row while the key count stays at exactly 50.  The individual
# q_* callables remain for bench.py (stable round-over-round timing keys) and
# for pytest.
# ---------------------------------------------------------------------------

def q_p5_p6_geo(spark, sf):
    """P5 geocode-with-fallback + P6 haversine, joined 1:1 on c_custkey."""
    return q_p5_geocode(spark, sf).join(q_p6_haversine(spark, sf), "c_custkey")


def q_a4_a6_mode(spark, sf):
    """A4 mode + A6 mode-then-priority, joined 1:1 on o_custkey."""
    return q_a4_mode(spark, sf).join(q_a6_mode_priority(spark, sf), "o_custkey")


def q_a5_a8_group(spark, sf):
    """A8 group stats + A5 argmax, joined 1:1 on c_nationkey."""
    return q_a8_group_stats(spark, sf).join(q_a5_argmax(spark, sf), "c_nationkey")


def q_token_counts_stats(spark, sf):
    """Token-count kernels (ws + BPE-ish) + avg-token-length stats, 1:1."""
    return q_token_counts(spark, sf).join(q_text_stats(spark, sf), "doc_id")


def q_lang_quality(spark, sf):
    """Language-ID + quality features over documents, joined 1:1 on doc_id."""
    return q_lang_identify(spark, sf).join(q_quality_features(spark, sf), "doc_id")


def q_fingerprint_simhash(spark, sf):
    """Winnow-min fingerprint + 16-bit SimHash per document, 1:1."""
    return q_fingerprint(spark, sf).join(q_dedup_simhash16(spark, sf), "doc_id")


def q_c1_c2_classify(spark, sf):
    """C1 decision/confidence ladder + C2 match-type ladder in one pass
    (both are pure column ladders over the same scored frame)."""
    from healthcare_entity_resolution_spark.operators import classify as C

    out = C.determine_match_type(C.classify(_li_scored(spark, sf)))
    return out.select(
        "id_1", "id_2", "overall_score", "decision",
        F.round("confidence", 6).alias("confidence"), "match_type",
    )


def q_k4_k5_confidence(spark, sf):
    """K5 per-record confidence + K4 per-entity confidence joined onto each
    record via component_id (N:1)."""
    return q_k5_record_confidence(spark, sf).join(
        q_k4_entity_confidence(spark, sf), "component_id"
    )


# --- round-5 slot consolidations + freed-slot corpus-op oracle checks -------
# The driver caps the correctness gate at 50 keys.  Three pairs of sibling
# keys (both halves green since round 3/4) are merged below — union/join
# composition, every underlying value still checked — so the freed slots
# carry oracle checks for three round-5 training-data operators that were
# previously pytest-only: repetition quality gates, boilerplate-line
# removal, and token-budget stratified sampling.


def q_b1_b4_block_groups(spark, sf):
    """B1 single-key + B4 (last, first-initial) block groups, strategy-tagged
    into one long-format frame (same consolidation pattern as the
    a9/a12/a13 report suite)."""
    b1 = q_b1_block_groups(spark, sf).select(
        F.concat(F.lit("b1:"), F.col("o_custkey").cast("string")).alias("block_key"),
        "n",
    )
    b4 = q_b4_first_initial(spark, sf).select(
        F.concat(F.lit("b4:"), F.col("block_key")).alias("block_key"), "n"
    )
    return b1.unionByName(b4)


def q_a14_a15_coverage_multi(spark, sf):
    """A14 coverage ratios + A15 multi-value keys melted into one
    long-format (grp, metric, value) frame."""
    a14 = q_a14_coverage(spark, sf).selectExpr(
        "concat('a14:', source) AS grp",
        "stack(2, 'text_cov', text_cov, 'long_ratio', long_ratio) AS (metric, value)",
    )
    a15 = q_a15_multi(spark, sf).selectExpr(
        "concat('a15:', CAST(user_id AS STRING)) AS grp",
        "'n_types' AS metric",
        "CAST(n_types AS DOUBLE) AS value",
    )
    return a14.unionByName(a15)


def q_text_doc_profile(spark, sf):
    """Language-ID + quality features + winnow fingerprint + 16-bit SimHash
    joined 1:1 per document — the full per-doc text-analysis profile in one
    frame (consolidates the two sibling per-doc suites)."""
    return q_lang_quality(spark, sf).join(q_fingerprint_simhash(spark, sf), "doc_id")


def q_text_repetition(spark, sf):
    """Gopher-style repetition quality gates (dup-line / dup-line-char /
    top-bigram fractions) over the documents table — the round-5
    textstats.repetition_features operator, value-checked end to end."""
    from healthcare_entity_resolution_spark.operators import textstats as TS

    return TS.repetition_features(_t(spark, sf, "documents"), "doc_id", "text")


# A line that cannot collide with any synthetic document line; appended to
# every non-NULL text so the boilerplate index/anti-match/rebuild path does
# real work at every scale factor (the generated corpus has no natural
# cross-document duplicate lines — measured at sf0.001 and sf0.01).
_BP_FOOTER = "~~ synthetic shared footer 7f3a :: do not collide ~~"


def q_corpus_boilerplate(spark, sf):
    """remove_boilerplate_lines over documents with a deterministic footer
    injected into every non-NULL text (oracle injects the identical footer):
    the rebuilt text must byte-equal the original document — an
    order-preserving split/filter/rejoin roundtrip check — and the removed
    count must be exactly 1 for non-NULL texts, 0 for NULL."""
    from healthcare_entity_resolution_spark.operators import corpus_ops as CO

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\n" + _BP_FOOTER)).alias("text"),
    )
    out = CO.remove_boilerplate_lines(d, "doc_id", "text", min_docs=5)
    return out.select("doc_id", "text", "boilerplate_lines_removed")


def q_corpus_stratified_sample(spark, sf):
    """Token-budget stratified sampling over documents (strata = lang,
    budget column = n_chars, 20k cap — chosen so sf0.001 and sf0.01 both
    exercise a mix of capped and kept-whole strata).  The oracle replays
    the exact sha256 hex-prefix inclusion draw in DuckDB."""
    from healthcare_entity_resolution_spark.operators import corpus_ops as CO

    d = _t(spark, sf, "documents")
    res = CO.stratified_token_sample(
        d, "doc_id", ["lang"], "n_chars", max_tokens_per_stratum=20000
    )
    return res["sampled"].select("doc_id", "lang", "n_chars")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # exactly 50 keys — the driver's per-round correctness cap
    return {
        "s1_scan_project_filter": q_s1_scan,
        "p2_stable_id_sha256": q_p2_stable_id,
        "p4_name_standardize": q_p4_standardize,
        "p5_p6_geocode_haversine": q_p5_p6_geo,
        "p7_validation_filter": q_p7_validate,
        "b1_b4_block_groups": q_b1_b4_block_groups,
        "b2_block_composite": q_b2_block_composite,
        "b5_multi_strategy_pair_count": q_b5_pair_count,
        "j2_lookup_join": q_j2_lookup,
        "j5_anti_join": q_j5_anti,
        "a3_decision_tallies": q_a3_tallies,
        "a4_a6_mode_per_key": q_a4_a6_mode,
        "a5_a8_group_argmax": q_a5_a8_group,
        "a9_a12_a13_report_suite": q_a9_a12_a13_report_suite,
        "a10_edge_aggregation": q_a10_edge_agg,
        "a14_a15_coverage_multi": q_a14_a15_coverage_multi,
        "text_repetition_features": q_text_repetition,
        "a16_pairwise_f1": q_a16_pairwise_f1,
        "a17_topk": q_a17_topk,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "decontam_overlap": q_decontam_overlap,
        "redact_counts": q_redact_counts,
        "emb_cosine_topk": q_emb_cosine_topk,
        "text_token_counts_stats": q_token_counts_stats,
        "p3_tokenize": q_p3_tokenize,
        "b3_soundex_blocking": q_b3_soundex,
        "corpus_boilerplate": q_corpus_boilerplate,
        "c1_c2_classify_match_type": q_c1_c2_classify,
        "g3_edge_weights": q_g3_edge_weights,
        "g10_cluster_labels": q_g10_cluster_labels,
        "g4_connected_components": q_cc_components,
        "k3_survivorship": q_k3_survivorship,
        "k4_k5_confidence": q_k4_k5_confidence,
        "a7_collect_distinct_sorted": q_a7_collect_distinct,
        "text_doc_profile": q_text_doc_profile,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "dedup_minhash_lsh": q_dedup_minhash_portable,
        "emb_ann_sign_lsh": q_emb_ann_lsh,
        "multimodal_binary_meta": q_multimodal_meta,
        "p8_affiliation_parse": q_p8_affiliation,
        "j3_canonical_map_join": q_j3_map_join,
        "g12_graph_diagnostics": q_g12_graph_diagnostics,
        "g12_component_stats": q_g12_component_stats,
        "g11_overmatch_flags": q_g11_overmatch,
        "f10_names_match_fuzzy": q_f10_names_match_fuzzy,
        "n2_pagerank": q_n2_pagerank,
        "n3_referral_metrics": q_n3_referral_metrics,
        "n5_colleague_merge": q_n5_colleague_merge,
        "g13_cluster_quality": q_g13_cluster_quality,
    }


# single source of truth for the redaction oracle: the exact PII regexes the
# Spark operator chains (Java regex and DuckDB's RE2 agree on this subset —
# classes, \b, \d, \s, non-capturing groups, bounded reps; no lookaround).
# Patterns contain no single quotes, so plain SQL-literal interpolation is
# safe.
from healthcare_entity_resolution_spark.operators.redact import (  # noqa: E402
    PII_PATTERNS as _PII_PATTERNS,
)

_PII_EMAIL = _PII_PATTERNS["email"]
_PII_PHONE = _PII_PATTERNS["phone"]
_PII_IPV4 = _PII_PATTERNS["ipv4"]
_PII_SSN = _PII_PATTERNS["ssn"]
_PII_API_KEY = _PII_PATTERNS["api_key"]


# single-operator oracle SQL fragments composed into the merged-query oracles
_SQL_P5 = (
    "WITH dim AS (SELECT CAST(n_nationkey AS VARCHAR) AS code, "
    "  n_nationkey * 3.0 - 35.0 AS lat, n_nationkey * 7.0 - 80.0 AS lon FROM nation), "
    "coarse AS (SELECT p, lat AS plat, lon AS plon FROM ("
    "  SELECT substr(code, 1, 1) AS p, lat, lon, "
    "   row_number() OVER (PARTITION BY substr(code, 1, 1) ORDER BY code) AS rn "
    "  FROM dim) WHERE rn = 1), "
    "cc AS (SELECT c_custkey, CASE WHEN c_custkey % 7 != 0 "
    "  THEN CAST(c_nationkey AS VARCHAR) END AS zip FROM customer) "
    "SELECT cc.c_custkey, round(coalesce(d.lat, co.plat), 6) AS latitude, "
    " round(coalesce(d.lon, co.plon), 6) AS longitude "
    "FROM cc LEFT JOIN dim d ON cc.zip = d.code "
    "LEFT JOIN coarse co ON substr(cc.zip, 1, 1) = co.p"
)

_SQL_P6 = (
    "SELECT c_custkey, round(3958.8 * 2 * atan2(sqrt(x), sqrt(1 - x)), 4) AS dist_miles "
    "FROM (SELECT c_custkey, "
    " pow(sin(radians(40.7 - ((c_custkey % 180) - 89.5)) / 2), 2) + "
    " cos(radians((c_custkey % 180) - 89.5)) * cos(radians(40.7)) * "
    " pow(sin(radians(-74.0 - ((c_custkey % 360) - 179.5)) / 2), 2) AS x "
    "FROM customer)"
)

_SQL_A4 = (
    "SELECT o_custkey, mode_priority FROM ("
    " SELECT o_custkey, o_orderpriority AS mode_priority, "
    "  row_number() OVER (PARTITION BY o_custkey ORDER BY count(*) DESC, "
    "   o_orderpriority) AS rn "
    " FROM orders GROUP BY o_custkey, o_orderpriority) WHERE rn = 1"
)

_SQL_A6 = (
    "SELECT o_custkey, picked FROM ("
    " SELECT o_custkey, o_orderpriority AS picked, row_number() OVER "
    "  (PARTITION BY o_custkey ORDER BY count(*) DESC, max(o_orderkey) DESC, "
    "   o_orderpriority) AS rn "
    " FROM orders GROUP BY o_custkey, o_orderpriority) WHERE rn = 1"
)

_SQL_A5 = (
    "SELECT c_nationkey, best_custkey FROM ("
    " SELECT c_nationkey, c_custkey AS best_custkey, "
    "  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, "
    "   c_custkey) AS rn FROM customer) WHERE rn = 1"
)

_SQL_A8 = (
    "SELECT c_nationkey, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal, "
    "round(min(c_acctbal), 4) AS min_bal FROM customer GROUP BY c_nationkey"
)

_SQL_TOKEN_COUNTS = (
    "SELECT doc_id, length(text) AS n_chars, "
    " len(string_split_regex(trim(lower(text)), '\\s+')) AS n_ws_tokens, "
    " len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens "
    "FROM documents"
)

_SQL_TOKEN_STATS = (
    "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens, "
    "round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / "
    " len(string_split_regex(trim(text), '\\s+')), 6) AS avg_token_len "
    "FROM documents"
)

_SQL_LANG = (
    "WITH toks AS (SELECT doc_id, "
    "  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS tk "
    " FROM documents), "
    "scores AS (SELECT doc_id, unnest([ "
    "  {'l': 'de', 's': CAST(len(list_intersect(tk, "
    "   ['der','die','und','das','von','zu','den','mit','ist','des'])) AS DOUBLE) / 10.0}, "
    "  {'l': 'en', 's': CAST(len(list_intersect(tk, "
    "   ['the','and','of','to','in','is','that','it','for','with'])) AS DOUBLE) / 10.0}, "
    "  {'l': 'es', 's': CAST(len(list_intersect(tk, "
    "   ['el','la','de','que','y','en','un','los','del','las'])) AS DOUBLE) / 10.0}, "
    "  {'l': 'fr', 's': CAST(len(list_intersect(tk, "
    "   ['le','la','de','et','les','des','un','une','du','est'])) AS DOUBLE) / 10.0}, "
    "  {'l': 'zh', 's': CAST(len(list_intersect(tk, "
    "   ['的','了','是','在','我','有','和','就','不','人'])) AS DOUBLE) / 10.0} "
    "  ]) AS u FROM toks), "
    "best AS (SELECT doc_id, u.l AS l, u.s AS s, row_number() OVER "
    "  (PARTITION BY doc_id ORDER BY u.s DESC, u.l DESC) AS rn FROM scores) "
    "SELECT doc_id, CASE WHEN s > 0 THEN l ELSE 'und' END AS lang_pred, "
    " round(s, 6) AS lang_score FROM best WHERE rn = 1"
)

_SQL_QUALITY = (
    "WITH f AS (SELECT doc_id, text AS t, "
    "  string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents), "
    "m AS (SELECT doc_id, t, CAST(len(tk) AS DOUBLE) AS n_tok, "
    "  CAST(length(t) AS DOUBLE) AS n_chars, "
    "  CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha, "
    "  CAST(length(regexp_replace(t, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct, "
    "  CAST(len(list_intersect(list_distinct(tk), "
    "   ['the','and','of','to','in','is','that','it','for','with'])) AS DOUBLE) AS stop_en, "
    "  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_ratio, "
    "  CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE) / len(tk) AS mean_wlen "
    " FROM f) "
    "SELECT doc_id, CAST(n_tok AS INT) AS n_tokens, "
    " round(mean_wlen, 6) AS mean_word_len, "
    " round(alpha / n_chars, 6) AS alpha_ratio, "
    " round(punct / n_chars, 6) AS punct_ratio, "
    " round(stop_en / 10.0, 6) AS stopword_ratio, "
    " round(distinct_ratio, 6) AS distinct_token_ratio, "
    " round(CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END + "
    "  CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 0.25 ELSE 0.0 END + "
    "  least(alpha / n_chars, 0.9) / 0.9 * 0.25 + "
    "  least(distinct_ratio * 2, 1.0) * 0.25, 6) AS quality_score "
    "FROM m"
)

_SQL_FINGERPRINT = (
    "SELECT doc_id, list_min(list_transform("
    " range(1, greatest(length(t) - 7, 1) + 1), i -> md5(substr(t, i, 8)))) "
    " AS fingerprint "
    "FROM (SELECT doc_id, trim(lower(text)) AS t FROM documents)"
)

_SQL_SIMHASH = (
    "WITH ex AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "  range(1, greatest(length(t) - 4, 1) + 1), i -> substr(t, i, 5)))) AS tok "
    " FROM (SELECT doc_id, trim(lower(text)) AS t FROM documents)), "
    "v AS (SELECT doc_id, "
    "  (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 + "
    "  (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 + "
    "  (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 + "
    "  (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) AS hv FROM ex), "
    "bits AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(16)
    )
    + " FROM v GROUP BY doc_id) "
    "SELECT doc_id, "
    + " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16)
    )
    + " AS simhash16 FROM bits"
)

_SQL_K4 = (
    "WITH rec AS (" + _CUST_REC_SQL + "), m AS (" + _CUST_MATCH_SQL + "), "
    "node_stats AS (SELECT component_id, count(*) AS size, "
    "  count(DISTINCT npi) AS n_npis, count(DISTINCT source) AS n_sources, "
    "  min(CASE source WHEN 'cms' THEN 0.85 WHEN 'license' THEN 0.80 "
    "   WHEN 'hospital' THEN 0.70 WHEN 'publication' THEN 0.50 ELSE 0.5 END) "
    "   AS single_rel "
    " FROM rec GROUP BY component_id), "
    "e AS (SELECT m.*, r.component_id FROM m JOIN rec r ON m.id_1 = r.source_id), "
    "edge_stats AS (SELECT component_id, count(*) AS n_edges, "
    "  avg(overall_score) AS avg_w, min(overall_score) AS min_w "
    " FROM e GROUP BY component_id) "
    "SELECT ns.component_id, round(CASE WHEN ns.size = 1 THEN ns.single_rel "
    "  WHEN es.n_edges IS NULL THEN 0.3 "
    "  ELSE least(greatest(es.avg_w * 0.30 + es.min_w * 0.15 + "
    "   (coalesce(es.n_edges, 0) / (ns.size * (ns.size - 1) / 2.0)) * 0.15 + "
    "   CASE WHEN ns.n_npis <= 1 THEN 1.0 ELSE 0.3 END * 0.25 + "
    "   least(ns.n_sources / 3.0, 1.0) * 0.15, 0.0), 1.0) END, 6) "
    "  AS entity_confidence "
    "FROM node_stats ns LEFT JOIN edge_stats es USING (component_id)"
)

_SQL_K5 = (
    "WITH m AS (" + _CUST_MATCH_SQL + "), "
    "assign AS (SELECT CAST(c_custkey AS VARCHAR) AS id, "
    "  CAST(c_nationkey AS VARCHAR) AS component_id FROM customer), "
    "bidir AS (SELECT id_1 AS id, overall_score AS w FROM m "
    " UNION ALL SELECT id_2, overall_score FROM m), "
    "per_node AS (SELECT id, avg(w) AS avg_w, max(w) AS max_w FROM bidir GROUP BY id), "
    "sizes AS (SELECT component_id, count(*) AS size FROM assign GROUP BY 1) "
    "SELECT a.id, a.component_id, round(CASE WHEN s.size = 1 THEN 0.8 "
    "  WHEN p.avg_w IS NULL THEN 0.4 "
    "  ELSE least(greatest(p.avg_w * 0.6 + p.max_w * 0.4, 0.0), 1.0) END, 6) "
    "  AS record_confidence "
    "FROM assign a LEFT JOIN per_node p ON a.id = p.id "
    "JOIN sizes s ON a.component_id = s.component_id"
)


def oracle_sql() -> dict[str, str]:
    return {
        "s1_scan_project_filter": (
            "SELECT doc_id, n_chars FROM documents WHERE lang = 'en'"
        ),
        "p2_stable_id_sha256": (
            "SELECT c_custkey, sha256(c_name || chr(31) || c_mktsegment) AS stable_id "
            "FROM customer"
        ),
        "p4_name_standardize": (
            "SELECT p_partkey, upper(string_split(p_name, ' ')[-1] || ', ' || "
            "string_split(p_name, ' ')[1]) AS name_standardized FROM part"
        ),
        "p5_p6_geocode_haversine": (
            "WITH x AS (" + _SQL_P5 + "), y AS (" + _SQL_P6 + ") "
            "SELECT x.c_custkey, x.latitude, x.longitude, y.dist_miles "
            "FROM x JOIN y USING (c_custkey)"
        ),
        "p7_validation_filter": (
            "SELECT event_id, CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT) AS k "
            "FROM events WHERE CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT) % 2 = 0"
        ),
        "b1_b4_block_groups": (
            "SELECT 'b1:' || CAST(o_custkey AS VARCHAR) AS block_key, n FROM ("
            " SELECT o_custkey, count(*) AS n FROM orders"
            " GROUP BY o_custkey HAVING count(*) >= 2) "
            "UNION ALL "
            "SELECT 'b4:' || block_key AS block_key, n FROM ("
            " SELECT block_key, count(*) AS n FROM ("
            "  SELECT string_split(p_name, ' ')[-1] || '|' || "
            "   substr(string_split(p_name, ' ')[1], 1, 1) AS block_key FROM part)"
            " GROUP BY block_key HAVING count(*) >= 2)"
        ),
        "b2_block_composite": (
            "SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem "
            "GROUP BY l_partkey, l_suppkey HAVING count(*) >= 2"
        ),
        "b5_multi_strategy_pair_count": (
            "SELECT count(*) AS n_pairs FROM ("
            " SELECT a.c_custkey AS id_1, b.c_custkey AS id_2 FROM customer a "
            "  JOIN customer b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey"
            " UNION "
            " SELECT a.c_custkey, b.c_custkey FROM customer a "
            "  JOIN customer b ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey)"
        ),
        "j2_lookup_join": (
            "SELECT o_orderkey, c_name, o_totalprice FROM orders "
            "JOIN customer ON o_custkey = c_custkey"
        ),
        "j5_anti_join": (
            "SELECT c_custkey FROM customer WHERE NOT EXISTS "
            "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
        ),
        "a3_decision_tallies": (
            "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
        ),
        "a4_a6_mode_per_key": (
            "WITH x AS (" + _SQL_A4 + "), y AS (" + _SQL_A6 + ") "
            "SELECT x.o_custkey, x.mode_priority, y.picked FROM x JOIN y USING (o_custkey)"
        ),
        "a5_a8_group_argmax": (
            "WITH x AS (" + _SQL_A8 + "), y AS (" + _SQL_A5 + ") "
            "SELECT x.c_nationkey, x.n, x.avg_bal, x.min_bal, y.best_custkey "
            "FROM x JOIN y USING (c_nationkey)"
        ),
        "a9_a12_a13_report_suite": (
            "WITH a9 AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, "
            " count(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY l_returnflag), "
            "a13 AS (SELECT l_returnflag, round(min(l_discount), 6) AS min_d, "
            " round(max(l_discount), 6) AS max_d, round(avg(l_discount), 6) AS avg_d, "
            " round(median(l_discount), 6) AS med_d FROM lineitem GROUP BY l_returnflag), "
            "a12 AS (SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k' "
            " WHEN o_totalprice < 150000 THEN '50k_150k' "
            " WHEN o_totalprice < 300000 THEN '150k_300k' ELSE 'gte_300k' END AS bucket, "
            " count(*) AS n FROM orders GROUP BY 1) "
            "SELECT l_returnflag AS grp, 'n_parts' AS metric, n_parts::DOUBLE AS value FROM a9 "
            "UNION ALL SELECT l_returnflag, 'n_supps', n_supps::DOUBLE FROM a9 "
            "UNION ALL SELECT bucket, 'n', n::DOUBLE FROM a12 "
            "UNION ALL SELECT l_returnflag, 'min_d', min_d FROM a13 "
            "UNION ALL SELECT l_returnflag, 'max_d', max_d FROM a13 "
            "UNION ALL SELECT l_returnflag, 'avg_d', avg_d FROM a13 "
            "UNION ALL SELECT l_returnflag, 'med_d', med_d FROM a13"
        ),
        "a10_edge_aggregation": (
            "SELECT user_id AS src, event_id % 100 AS dst, count(*) AS n_events, "
            "epoch_us(max(ts)) AS last_us FROM events "
            "WHERE user_id != event_id % 100 GROUP BY 1, 2"
        ),
        "a14_a15_coverage_multi": (
            "WITH a14 AS ("
            " SELECT source, round(avg(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END), 6)"
            "  AS text_cov, round(avg(CASE WHEN n_chars > 100 THEN 1 ELSE 0 END), 6)"
            "  AS long_ratio FROM documents GROUP BY source) "
            "SELECT 'a14:' || source AS grp, 'text_cov' AS metric, text_cov AS value FROM a14 "
            "UNION ALL "
            "SELECT 'a14:' || source, 'long_ratio', long_ratio FROM a14 "
            "UNION ALL "
            "SELECT 'a15:' || CAST(user_id AS VARCHAR), 'n_types', "
            " CAST(count(DISTINCT event_type) AS DOUBLE) FROM events "
            "GROUP BY user_id HAVING count(DISTINCT event_type) >= 4"
        ),
        "text_repetition_features": (
            "WITH t AS (SELECT doc_id, trim(lower(text)) AS t FROM documents), "
            "lines AS ("
            " SELECT doc_id, trim(l) AS line"
            " FROM t, unnest(string_split(t, chr(10))) AS u(l)"
            " WHERE trim(l) <> ''), "
            "per_line AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2), "
            "line_stats AS ("
            " SELECT doc_id, sum(c) AS n_lines, sum(c) - count(*) AS n_dup,"
            "  sum(c * length(line)) AS chars, sum((c-1) * length(line)) AS dup_chars"
            " FROM per_line GROUP BY 1), "
            "w AS (SELECT doc_id, string_split_regex(t, '\\s+') AS w FROM t), "
            "bigrams AS ("
            " SELECT doc_id, w[i] || ' ' || w[i+1] AS bg"
            " FROM w, unnest(range(1, len(w))) AS u(i) WHERE len(w) >= 2), "
            "per_bg AS (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2), "
            "bg_stats AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg "
            " FROM per_bg GROUP BY 1) "
            "SELECT d.doc_id, coalesce(l.n_lines, 0)::BIGINT AS n_lines, "
            " round(coalesce(l.n_dup::DOUBLE / l.n_lines, 0), 6) AS dup_line_frac, "
            " round(coalesce(l.dup_chars::DOUBLE / l.chars, 0), 6) AS dup_line_char_frac, "
            " round(coalesce(b.top_bg::DOUBLE / b.n_bg, 0), 6) AS top_bigram_frac "
            "FROM documents d LEFT JOIN line_stats l USING (doc_id) "
            "LEFT JOIN bg_stats b USING (doc_id)"
        ),
        "a16_pairwise_f1": (
            "WITH cont AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2), "
            "tp AS (SELECT sum(n * (n - 1) / 2) AS tp FROM cont), "
            "pp AS (SELECT sum(n * (n - 1) / 2) AS pp FROM "
            " (SELECT sum(n) AS n FROM cont GROUP BY lang)), "
            "tr AS (SELECT sum(n * (n - 1) / 2) AS tr FROM "
            " (SELECT sum(n) AS n FROM cont GROUP BY source)) "
            "SELECT round(tp / pp, 6) AS precision, round(tp / tr, 6) AS recall, "
            "round(2 * tp / (pp + tr), 6) AS f1 FROM tp, pp, tr"
        ),
        "a17_topk": (
            "SELECT c_custkey, c_acctbal FROM customer "
            "ORDER BY c_acctbal DESC, c_custkey LIMIT 10"
        ),
        "dedup_exact": (
            "SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_distinct FROM documents"
        ),
        "dedup_ngram_jaccard": (
            "WITH base AS (SELECT doc_id, lang, CAST(floor(n_chars / 100) AS INT) AS bucket, "
            " list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks "
            " FROM documents) "
            "SELECT id_1, id_2, jaccard FROM ("
            " SELECT a.doc_id AS id_1, b.doc_id AS id_2, "
            "  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
            "   len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard "
            " FROM base a JOIN base b ON a.lang = b.lang AND a.bucket = b.bucket "
            "  AND a.doc_id < b.doc_id) WHERE jaccard >= 0.5"
        ),
        "decontam_overlap": (
            # substr-based k=8 shingles: the Spark side's byte-window hash is
            # injective for k<=8 and the corpus is ASCII, so distinct/overlap
            # counts are identical
            "WITH dsh AS (SELECT doc_id, substr(lower(text), i, 8) AS s "
            " FROM documents, unnest(range(1, length(text) - 6)) AS t(i) "
            " GROUP BY 1, 2), "
            "idx AS (SELECT DISTINCT s FROM dsh WHERE doc_id % 41 = 0), "
            "nsh AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY 1), "
            "hits AS (SELECT d.doc_id, count(*) AS n_hits "
            " FROM dsh d JOIN idx USING (s) GROUP BY 1) "
            "SELECT n.doc_id::VARCHAR AS doc_id, n.n_shingles, "
            " coalesce(h.n_hits, 0)::BIGINT AS n_hits, "
            " round(coalesce(h.n_hits, 0)::DOUBLE / n.n_shingles, 6) AS overlap_ratio, "
            " (coalesce(h.n_hits, 0)::DOUBLE / n.n_shingles) >= 0.5 AS contaminated "
            "FROM nsh n LEFT JOIN hits h USING (doc_id)"
        ),
        "redact_counts": (
            "WITH planted AS (SELECT doc_id, "
            " text || ' contact user' || doc_id::VARCHAR || '@example.com' || "
            " ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || "
            " '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || "
            " ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' || "
            " ((doc_id * 7) % 256)::VARCHAR || "
            " CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-' || "
            "  lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END || "
            " CASE WHEN doc_id % 5 = 0 THEN ' key AKIA' || "
            "  lpad((doc_id % 100000)::VARCHAR, 16, '0') ELSE '' END AS text "
            " FROM documents) "
            "SELECT doc_id, "
            " regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            "  regexp_replace(text, "
            "   '" + _PII_EMAIL + "', '[email]', 'g'), "
            "   '" + _PII_PHONE + "', '[phone]', 'g'), "
            "   '" + _PII_IPV4 + "', '[ipv4]', 'g'), "
            "   '" + _PII_SSN + "', '[ssn]', 'g'), "
            "   '" + _PII_API_KEY + "', '[api_key]', 'g') AS redacted, "
            " len(regexp_extract_all(text, '" + _PII_EMAIL + "'))::BIGINT AS pii_email, "
            " len(regexp_extract_all(text, '" + _PII_PHONE + "'))::BIGINT AS pii_phone, "
            " len(regexp_extract_all(text, '" + _PII_IPV4 + "'))::BIGINT AS pii_ipv4, "
            " len(regexp_extract_all(text, '" + _PII_SSN + "'))::BIGINT AS pii_ssn, "
            " len(regexp_extract_all(text, '" + _PII_API_KEY + "'))::BIGINT AS pii_api_key, "
            " (len(regexp_extract_all(text, '" + _PII_EMAIL + "')) + "
            "  len(regexp_extract_all(text, '" + _PII_PHONE + "')) + "
            "  len(regexp_extract_all(text, '" + _PII_IPV4 + "')) + "
            "  len(regexp_extract_all(text, '" + _PII_SSN + "')) + "
            "  len(regexp_extract_all(text, '" + _PII_API_KEY + "')))::BIGINT AS pii_total "
            "FROM planted"
        ),
        "emb_cosine_topk": (
            "WITH ed AS (SELECT vec_id, "
            " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
            " FROM embeddings) "
            "SELECT e.vec_id, round(list_dot_product(e.embedding, q.embedding) / "
            " (sqrt(list_dot_product(e.embedding, e.embedding)) * "
            "  sqrt(list_dot_product(q.embedding, q.embedding))), 5) AS cosine "
            "FROM ed e, (SELECT embedding FROM ed WHERE vec_id = 0) q "
            "WHERE e.vec_id != 0 ORDER BY cosine DESC, e.vec_id LIMIT 20"
        ),
        "text_token_counts_stats": (
            "WITH x AS (" + _SQL_TOKEN_COUNTS + "), y AS (" + _SQL_TOKEN_STATS + ") "
            "SELECT x.doc_id, x.n_chars, x.n_ws_tokens, x.n_bpe_tokens, "
            " y.n_tokens, y.avg_token_len FROM x JOIN y USING (doc_id)"
        ),
        "p3_tokenize": (
            "SELECT p_partkey, "
            " array_to_string(list_sort(list_distinct("
            "  string_split_regex(lower(p_name), '\\s+'))), '|') AS tokens, "
            " len(list_distinct(string_split_regex(lower(p_name), '\\s+'))) AS n_tokens "
            "FROM part"
        ),
        # b3_soundex_blocking: DuckDB has no soundex() builtin, so the oracle
        # implements American Soundex (same US_ENGLISH_MAPPING + h/w rule as
        # Spark's F.soundex) with translate + list_reduce:
        #   map letters to digits (H/W->7), collapse adjacent dups treating 7
        #   as transparent, drop the first-consonant code, strip vowels (0),
        #   pad to 4.  Verified vs the published truth table
        #   (ROBERT=R163, ASHCRAFT=A261, TYMCZAK=T522, PFISTER=P236).
        "b3_soundex_blocking": (
            "WITH w AS (SELECT upper(string_split(p_name, ' ')[1]) AS word, "
            "  p_brand FROM part), "
            "sx AS (SELECT p_brand, "
            "  CASE WHEN NOT regexp_matches(substr(word, 1, 1), '^[A-Z]') "
            "  THEN word ELSE "  # Spark returns the input unchanged when the
            # first char is not a letter
            "  substr(substr(word, 1, 1) || replace(substr("
            # interior non-letters behave like vowels in Spark's soundex
            # (reset the last code): rewrite them to '!' then map '!'->'0'
            "   list_reduce(string_split(translate("
            "     regexp_replace(word, '[^A-Z]', '!', 'g'), "
            "     'ABCDEFGHIJKLMNOPQRSTUVWXYZ!', '012301270224550126230172020'), ''), "
            "    (acc, c) -> CASE WHEN c = '7' THEN acc "
            "     WHEN right(acc, 1) = c THEN acc ELSE acc || c END), "
            "   CASE WHEN translate(substr(word, 1, 1), 'AEIOUY', '000000') = '0' "
            "    THEN 1 ELSE 2 END), '0', '') || '000', 1, 4) END AS sdx "
            " FROM w) "
            "SELECT sdx || '|' || p_brand AS block_key, count(*) AS n "
            "FROM sx GROUP BY 1 HAVING count(*) >= 2"
        ),
        "corpus_boilerplate": (
            "WITH docs2 AS (SELECT doc_id, text || chr(10) || '"
            + _BP_FOOTER.replace("'", "''") + "'"
            "  AS text FROM documents), "
            "normed AS ("
            " SELECT doc_id,"
            "  generate_subscripts(string_split(text, chr(10)), 1) AS pos,"
            "  unnest(string_split(text, chr(10))) AS line,"
            "  trim(lower(unnest(string_split(text, chr(10))))) AS norm"
            " FROM docs2 WHERE text IS NOT NULL), "
            "boiler AS ("
            " SELECT norm FROM (SELECT DISTINCT doc_id, norm FROM normed WHERE norm <> '')"
            " GROUP BY norm HAVING count(*) >= 5), "
            "kept AS ("
            " SELECT n.doc_id, n.pos, n.line FROM normed n"
            " LEFT JOIN boiler b USING (norm)"
            " WHERE b.norm IS NULL OR n.norm = ''), "
            "rebuilt AS ("
            " SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS new_text,"
            "  count(*) AS n_kept FROM kept GROUP BY doc_id), "
            "counts AS (SELECT doc_id, count(*) AS n_lines FROM normed GROUP BY doc_id) "
            "SELECT d.doc_id, "
            " CASE WHEN d.text IS NULL THEN NULL"
            "  ELSE coalesce(r.new_text, '') END AS text, "
            " CAST(coalesce(c.n_lines, 0) - coalesce(r.n_kept, 0) AS INT)"
            "  AS boilerplate_lines_removed "
            "FROM docs2 d LEFT JOIN rebuilt r USING (doc_id) "
            "LEFT JOIN counts c USING (doc_id)"
        ),
        "c1_c2_classify_match_type": (
            "WITH s AS (" + _LI_SCORED_SQL + ") "
            "SELECT id_1, id_2, overall_score, "
            " CASE WHEN npi_match = 0.0 THEN 'non_match' "
            "  WHEN npi_match = 1.0 THEN 'match' "
            "  WHEN overall_score >= 0.85 THEN 'match' "
            "  WHEN overall_score <= 0.30 THEN 'non_match' "
            "  ELSE 'uncertain' END AS decision, "
            " round(CASE WHEN npi_match = 0.0 THEN 1.0 "
            "  WHEN npi_match = 1.0 THEN 0.95 "
            "  WHEN overall_score >= 0.85 THEN least(0.95, (overall_score - 0.85) / 0.15 + 0.7) "
            "  WHEN overall_score <= 0.30 THEN least(0.95, (0.30 - overall_score) / 0.30 + 0.7) "
            "  ELSE 0.3 + abs(overall_score - 0.575) * 0.4 END, 6) AS confidence, "
            " CASE WHEN npi_match = 1.0 THEN 'npi_exact' "
            "  WHEN name_similarity >= 0.9 AND location_score >= 0.7 THEN 'name_location_strong' "
            "  WHEN name_similarity >= 0.9 AND specialty_match IS NOT NULL "
            "   AND specialty_match >= 0.9 THEN 'name_specialty' "
            "  WHEN name_similarity >= 0.9 THEN 'name_strong' "
            "  WHEN name_similarity >= 0.7 AND location_score >= 0.7 THEN 'name_location' "
            "  WHEN name_similarity >= 0.7 THEN 'name_moderate' "
            "  ELSE 'weak' END AS match_type "
            "FROM s"
        ),
        "g3_edge_weights": (
            "WITH rec AS (" + _CUST_REC_SQL + "), m AS (" + _CUST_MATCH_SQL + "), "
            "rel AS (SELECT source_id, source, npi, "
            "  CASE source WHEN 'cms' THEN 1.0 WHEN 'license' THEN 0.9 "
            "   WHEN 'hospital' THEN 0.8 WHEN 'publication' THEN 0.6 ELSE 0.5 END AS rel "
            " FROM rec) "
            "SELECT m.id_1, m.id_2, "
            " CAST(floor(least(0.99, m.overall_score * ((a.rel + b.rel) / 2) * "
            "  CASE WHEN a.source != b.source THEN 1.1 ELSE 1.0 END) * 1e6) "
            "  AS BIGINT) AS weight_micro, "
            " CASE WHEN a.npi IS NOT NULL AND b.npi IS NOT NULL AND a.npi = b.npi "
            "   THEN 'npi_exact' "
            "  WHEN m.overall_score >= 0.85 THEN 'name_strong' "
            "  WHEN m.overall_score >= 0.6 THEN 'name_moderate' "
            "  ELSE 'weak' END AS match_type, "
            " a.source || '|' || b.source AS sources "
            "FROM m JOIN rel a ON m.id_1 = a.source_id JOIN rel b ON m.id_2 = b.source_id"
        ),
        "g10_cluster_labels": (
            "WITH assign AS (SELECT CAST(c_custkey AS VARCHAR) AS id, "
            "  CAST(c_nationkey AS VARCHAR) AS component_id FROM customer), "
            "sizes AS (SELECT component_id, count(*) AS size FROM assign GROUP BY 1), "
            "labeled AS (SELECT component_id, size, "
            "  printf('CLUSTER_%05d', CAST(row_number() OVER "
            "   (ORDER BY size DESC, component_id) AS INT) - 1) AS cluster_label "
            " FROM sizes) "
            "SELECT a.id, a.component_id, l.cluster_label, l.size "
            "FROM assign a JOIN labeled l ON a.component_id = l.component_id"
        ),
        "g4_connected_components": (
            "WITH RECURSIVE e AS (SELECT user_id AS a, 200 + event_id % 300 AS b "
            "  FROM events WHERE event_id % 97 = 0), "
            "u AS (SELECT a, b FROM e UNION SELECT b, a FROM e), "
            "n AS (SELECT DISTINCT a AS id FROM u), "
            "r(id, m) AS (SELECT id, id FROM n "
            "  UNION SELECT u.b, r.m FROM r JOIN u ON u.a = r.id) "
            "SELECT id, min(m) AS component_id FROM r GROUP BY id"
        ),
        "k3_survivorship": (
            "WITH rec AS (SELECT r.*, CASE source WHEN 'cms' THEN 4 WHEN 'license' THEN 3 "
            "   WHEN 'hospital' THEN 2 WHEN 'publication' THEN 1 ELSE 0 END AS prio, "
            "  CASE WHEN regexp_full_match(npi, '[0-9]{10}') THEN npi END AS vnpi "
            " FROM (" + _CUST_REC_SQL + ") r), "
            "npi_pick AS (SELECT component_id, vnpi AS npi FROM ("
            "  SELECT component_id, vnpi, row_number() OVER (PARTITION BY component_id "
            "   ORDER BY count(*) DESC, vnpi) AS rn FROM rec WHERE vnpi IS NOT NULL "
            "  GROUP BY component_id, vnpi) WHERE rn = 1), "
            "name_pick AS (SELECT component_id, name_raw AS name FROM ("
            "  SELECT component_id, name_raw, row_number() OVER (PARTITION BY component_id "
            "   ORDER BY prio DESC, length(name_raw) DESC, name_raw) AS rn "
            "  FROM rec WHERE name_raw IS NOT NULL) WHERE rn = 1), "
            "spec_key AS (SELECT component_id, k FROM ("
            "  SELECT component_id, upper(trim(specialty)) AS k, "
            "   row_number() OVER (PARTITION BY component_id ORDER BY count(*) DESC, "
            "    upper(trim(specialty))) AS rn "
            "  FROM rec WHERE specialty IS NOT NULL GROUP BY 1, 2) WHERE rn = 1), "
            "spec_pick AS (SELECT component_id, specialty FROM ("
            "  SELECT r.component_id, r.specialty, row_number() OVER "
            "   (PARTITION BY r.component_id ORDER BY r.prio DESC, r.specialty) AS rn "
            "  FROM rec r JOIN spec_key sk ON r.component_id = sk.component_id "
            "   AND upper(trim(r.specialty)) = sk.k) WHERE rn = 1), "
            "fac_pick AS (SELECT component_id, f AS primary_facility FROM ("
            "  SELECT component_id, trim(facility_name) AS f, "
            "   row_number() OVER (PARTITION BY component_id ORDER BY count(*) DESC, "
            "    max(prio) DESC, trim(facility_name)) AS rn "
            "  FROM rec WHERE facility_name IS NOT NULL GROUP BY 1, 2) WHERE rn = 1), "
            "city_pick AS (SELECT component_id, v AS city FROM ("
            "  SELECT component_id, trim(facility_city) AS v, row_number() OVER "
            "   (PARTITION BY component_id ORDER BY count(*) DESC, trim(facility_city)) AS rn "
            "  FROM rec WHERE facility_city IS NOT NULL GROUP BY 1, 2) WHERE rn = 1), "
            "state_pick AS (SELECT component_id, v AS state FROM ("
            "  SELECT component_id, trim(facility_state) AS v, row_number() OVER "
            "   (PARTITION BY component_id ORDER BY count(*) DESC, trim(facility_state)) AS rn "
            "  FROM rec WHERE facility_state IS NOT NULL GROUP BY 1, 2) WHERE rn = 1), "
            "base AS (SELECT component_id, count(*) AS source_count, "
            "  array_to_string(list_sort(list(DISTINCT trim(facility_name))), '|') "
            "   AS all_facilities, "
            "  min(source_id) AS min_sid FROM rec GROUP BY component_id) "
            "SELECT CASE WHEN np.npi IS NOT NULL THEN 'PHY_' || np.npi "
            "  ELSE 'PHY_' || substr(sha256(b.min_sid), 1, 12) END AS canonical_id, "
            " b.component_id, np.npi, nm.name, sp.specialty, fp.primary_facility, "
            " cp.city, stp.state, b.all_facilities, b.source_count "
            "FROM base b LEFT JOIN npi_pick np USING (component_id) "
            "LEFT JOIN name_pick nm USING (component_id) "
            "LEFT JOIN spec_pick sp USING (component_id) "
            "LEFT JOIN fac_pick fp USING (component_id) "
            "LEFT JOIN city_pick cp USING (component_id) "
            "LEFT JOIN state_pick stp USING (component_id)"
        ),
        "g11_overmatch_flags": (
            "WITH rec0 AS (" + _CUST_REC_SQL + "), "
            "rec AS (SELECT * REPLACE (CASE CAST(source_id AS INT) % 7 "
            "  WHEN 0 THEN 'PEDIATRICS' WHEN 1 THEN 'GERIATRICS' "
            "  WHEN 2 THEN 'OBSTETRICS' WHEN 3 THEN 'UROLOGY' "
            "  WHEN 4 THEN 'PEDIATRIC MEDICINE' WHEN 5 THEN 'CARDIOLOGY' "
            "  ELSE NULL END AS specialty) FROM rec0), "
            "stats AS (SELECT component_id, count(*) AS size, "
            "  count(DISTINCT npi) AS npi_count, "
            "  count(DISTINCT facility_state) AS state_count "
            " FROM rec GROUP BY 1), "
            "masks AS (SELECT component_id, "
            "  CAST(contains(specialty, 'PEDIATRICS') AS INT) "
            "   + 2 * CAST(contains(specialty, 'GERIATRICS') AS INT) AS m0, "
            "  CAST(contains(specialty, 'OBSTETRICS') AS INT) "
            "   + 2 * CAST(contains(specialty, 'UROLOGY') AS INT) AS m1, "
            "  CAST(contains(specialty, 'DERMATOLOGY') AS INT) "
            "   + 2 * CAST(contains(specialty, 'CARDIOLOGY') AS INT) AS m2, "
            "  CAST(contains(specialty, 'PSYCHIATRY') AS INT) "
            "   + 2 * CAST(contains(specialty, 'ORTHOPEDIC SURGERY') AS INT) AS m3, "
            "  CAST(contains(specialty, 'OPHTHALMOLOGY') AS INT) "
            "   + 2 * CAST(contains(specialty, 'GASTROENTEROLOGY') AS INT) AS m4 "
            " FROM rec WHERE specialty IS NOT NULL), "
            "spec AS (SELECT component_id, "
            "  count(DISTINCT CASE WHEN m0 > 0 THEN m0 END) > 1 "
            "  OR count(DISTINCT CASE WHEN m1 > 0 THEN m1 END) > 1 "
            "  OR count(DISTINCT CASE WHEN m2 > 0 THEN m2 END) > 1 "
            "  OR count(DISTINCT CASE WHEN m3 > 0 THEN m3 END) > 1 "
            "  OR count(DISTINCT CASE WHEN m4 > 0 THEN m4 END) > 1 AS conflict "
            " FROM masks GROUP BY 1), "
            "flagged AS (SELECT s.component_id, s.size, concat_ws('|', "
            "  CASE WHEN s.npi_count > 1 THEN 'npi_conflict' END, "
            "  CASE WHEN s.size > 50 THEN 'very_large' END, "
            "  CASE WHEN s.size > 20 AND s.size <= 50 THEN 'large' END, "
            "  CASE WHEN coalesce(sp.conflict, false) THEN 'specialty_conflict' END, "
            "  CASE WHEN s.state_count > 3 THEN 'geographic_spread' END) AS flags "
            " FROM stats s LEFT JOIN spec sp USING (component_id)) "
            "SELECT component_id, size, flags FROM flagged WHERE flags != ''"
        ),
        # g12_graph_diagnostics: no oracle — bridge/articulation finding is
        # not SQL-expressible (rows-only by design); the SQL-expressible
        # stats half is value-checked below as g12_component_stats
        "g12_component_stats": (
            "WITH m0 AS (" + _CUST_MATCH_SQL + "), "
            "m AS (SELECT * FROM m0 WHERE CAST(id_1 AS INT) < 300), "
            "a AS (SELECT CAST(c_custkey AS VARCHAR) AS id, "
            "  CAST(c_nationkey AS VARCHAR) AS component_id FROM customer), "
            "e AS (SELECT m.id_1, m.id_2, a.component_id FROM m "
            " JOIN a ON m.id_1 = a.id), "
            "n AS (SELECT component_id, count(DISTINCT id) AS n_nodes FROM ("
            "  SELECT component_id, id_1 AS id FROM e "
            "  UNION ALL SELECT component_id, id_2 AS id FROM e) GROUP BY 1), "
            "s AS (SELECT component_id, count(*) AS n_edges FROM e GROUP BY 1) "
            "SELECT n.component_id, n_nodes, n_edges, "
            " CAST(floor(n_edges / (n_nodes * (n_nodes - 1) / 2.0) * 1e6) "
            "  AS BIGINT) AS density_micro "
            "FROM n JOIN s USING (component_id)"
        ),
        "f10_names_match_fuzzy": (
            "WITH base AS (SELECT p_partkey, string_split(p_name, ' ')[1] AS f, "
            "  string_split(p_name, ' ')[-1] AS l FROM part), "
            "j AS (SELECT a.p_partkey AS k, a.f AS f1, a.l AS l1, "
            "  b.f AS f2, b.l AS l2 FROM base a "
            " JOIN base b ON b.p_partkey = a.p_partkey + 1) "
            "SELECT k AS p_partkey, "
            " CASE WHEN coalesce(l1, '') = '' OR coalesce(l2, '') = '' THEN false "
            "  WHEN translate(upper(l1), '''- ', '') != translate(upper(l2), '''- ', '') "
            "   THEN false "
            "  WHEN coalesce(f1, '') != '' AND coalesce(f2, '') != '' THEN "
            "   (upper(f1) = upper(f2) "
            "    OR (length(f1) = 1 AND starts_with(upper(f2), upper(f1))) "
            "    OR (length(f2) = 1 AND starts_with(upper(f1), upper(f2)))) "
            "  ELSE true END AS match_neighbor, "
            " CASE WHEN coalesce(l1, '') = '' THEN false "
            "  WHEN coalesce(f1, '') != '' THEN "
            "   (upper(f1) = upper(substr(f1, 1, 1)) "
            "    OR (length(f1) = 1) "
            "    OR (length(substr(f1, 1, 1)) = 1 "
            "        AND starts_with(upper(f1), upper(substr(f1, 1, 1))))) "
            "  ELSE true END AS match_initial, "
            " CASE WHEN coalesce(l1, '') = '' THEN false ELSE true END AS match_nofirst "
            "FROM j"
        ),
        "k4_k5_confidence": (
            "WITH x AS (" + _SQL_K5 + "), y AS (" + _SQL_K4 + ") "
            "SELECT x.id, x.component_id, x.record_confidence, y.entity_confidence "
            "FROM x JOIN y USING (component_id)"
        ),
        "a7_collect_distinct_sorted": (
            "SELECT c_nationkey, "
            " array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments "
            "FROM customer GROUP BY c_nationkey"
        ),
        "text_doc_profile": (
            "WITH x AS (" + _SQL_LANG + "), y AS (" + _SQL_QUALITY + "), "
            "f AS (" + _SQL_FINGERPRINT + "), s AS (" + _SQL_SIMHASH + ") "
            "SELECT x.doc_id, x.lang_pred, x.lang_score, y.n_tokens, "
            " y.mean_word_len, y.alpha_ratio, y.punct_ratio, y.stopword_ratio, "
            " y.distinct_token_ratio, y.quality_score, f.fingerprint, s.simhash16 "
            "FROM x JOIN y USING (doc_id) JOIN f USING (doc_id) JOIN s USING (doc_id)"
        ),
        "corpus_stratified_sample": (
            "WITH rates AS ("
            " SELECT lang, least(1.0, 20000::DOUBLE / sum(n_chars)) AS sample_rate"
            " FROM documents GROUP BY lang) "
            "SELECT d.doc_id, d.lang, d.n_chars "
            "FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang "
            "WHERE CAST(concat('0x', substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 15))"
            "  AS BIGINT) < r.sample_rate * power(16::DOUBLE, 15)"
        ),
        "dedup_minhash_lsh": (
            "WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, "
            "  list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1, 2), "
            "   i -> substr(t, i, 5))) AS sh0 "
            " FROM (SELECT doc_id, trim(lower(text)) AS t FROM documents)), "
            "hs AS (SELECT id, "
            "  list_transform(sh0, t -> md5('a|' || t)) AS h1, "
            "  list_transform(sh0, t -> md5('b|' || t)) AS h2 FROM base), "
            "basel AS (SELECT id, list_distinct(list_transform(h1, "
            "  s -> CAST(concat('0x', substr(s, 2, 15)) AS BIGINT))) AS sh FROM hs), "
            "sig AS (SELECT id, "
            "  list_min(list_transform(h1, s -> substr(s, 1, 8))) AS m0, "
            "  list_min(list_transform(h1, s -> substr(s, 9, 8))) AS m1, "
            "  list_min(list_transform(h1, s -> substr(s, 17, 8))) AS m2, "
            "  list_min(list_transform(h1, s -> substr(s, 25, 8))) AS m3, "
            "  list_min(list_transform(h2, s -> substr(s, 1, 8))) AS m4, "
            "  list_min(list_transform(h2, s -> substr(s, 9, 8))) AS m5, "
            "  list_min(list_transform(h2, s -> substr(s, 17, 8))) AS m6, "
            "  list_min(list_transform(h2, s -> substr(s, 25, 8))) AS m7 "
            " FROM hs), "
            "keyed AS (SELECT id, m0, m1, m2, m3, m4, m5, m6, m7, "
            "  u.bi AS bi, u.bk AS bk FROM (SELECT *, unnest([ "
            "  {'bi': 0, 'bk': md5(m0 || m1)}, {'bi': 1, 'bk': md5(m2 || m3)}, "
            "  {'bi': 2, 'bk': md5(m4 || m5)}, {'bi': 3, 'bk': md5(m6 || m7)}]) AS u "
            " FROM sig)), "
            "pre AS (SELECT DISTINCT a.id AS id_1, b.id AS id_2 FROM keyed a "
            " JOIN keyed b ON a.bi = b.bi AND a.bk = b.bk AND a.id < b.id "
            " WHERE (CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END + "
            "  CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) >= 4) "
            "SELECT c.id_1, c.id_2, CAST(floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) "
            " / len(list_distinct(list_concat(x.sh, y.sh))) * 1e6) AS BIGINT) AS jaccard_micro "
            "FROM pre c JOIN basel x ON c.id_1 = x.id JOIN basel y ON c.id_2 = y.id "
            "WHERE floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) "
            " / len(list_distinct(list_concat(x.sh, y.sh))) * 1e6) >= 600000"
        ),
        "emb_ann_sign_lsh": (
            "WITH ed AS (SELECT vec_id, "
            "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
            "  CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END + "
            "  CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END + "
            "  CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END + "
            "  CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END AS bucket "
            " FROM embeddings), "
            "q AS (SELECT v AS qv, bucket AS qb FROM ed WHERE vec_id = 0) "
            "SELECT e.vec_id, round(list_dot_product(e.v, q.qv) / "
            " (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) "
            " AS cosine "
            "FROM ed e, q WHERE e.vec_id != 0 AND bit_count(xor(e.bucket, q.qb)) <= 1 "
            "ORDER BY cosine DESC, e.vec_id LIMIT 20"
        ),
        "multimodal_binary_meta": (
            "SELECT doc_id AS media_id, 'text' AS kind, "
            " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            " sha256(text) AS sha256 FROM documents"
        ),
        "p8_affiliation_parse": (
            "SELECT c_custkey, "
            " string_split(aff, ', ')[1] AS facility, "
            " string_split(aff, ', ')[2] AS city, "
            " CASE WHEN length(string_split(aff, ', ')[-1]) = 2 "
            "  THEN string_split(aff, ', ')[-1] END AS state "
            "FROM (SELECT c_custkey, 'FAC ' || CAST(c_custkey % 50 AS VARCHAR) || ', ' || "
            " 'CITY' || CAST(c_custkey % 9 AS VARCHAR) || ', ' || "
            " CASE WHEN c_custkey % 3 = 0 THEN 'IL' ELSE 'OHIO' END AS aff FROM customer)"
        ),
        "j3_canonical_map_join": (
            "WITH m AS (SELECT c_custkey AS raw_id, "
            "  'ENT_' || CAST(c_custkey % 97 AS VARCHAR) AS canonical_id "
            " FROM customer WHERE c_custkey % 2 = 0) "
            "SELECT a.canonical_id AS src, b.canonical_id AS dst, count(*) AS n "
            "FROM events e JOIN m a ON e.user_id = a.raw_id "
            "JOIN m b ON e.event_id % 1500 = b.raw_id "
            "WHERE a.canonical_id != b.canonical_id GROUP BY 1, 2"
        ),
        # g6_conflict_pruning: no oracle — iterative edge-removal fixpoint
        # (rows-only check)
        # n2_pagerank: DuckDB recursive-CTE replay of the 20-iteration power
        # method (dangling mass as uniform edges; zero-weight self-loops keep
        # every node in each iteration's working table).  Verified to agree
        # with a numpy replay of the Spark loop to ~1e-16.
        "n2_pagerank": (
            "WITH RECURSIVE "
            "e0 AS (SELECT user_id AS src, event_id % 50 AS dst, "
            "  CAST(count(*) AS DOUBLE) AS w FROM events "
            "  WHERE user_id != event_id % 50 GROUP BY 1, 2), "
            "nodes AS (SELECT DISTINCT id FROM "
            "  (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)), "
            "cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
            "outw AS (SELECT src, sum(w) AS ow FROM e0 GROUP BY src), "
            "norm AS (SELECT e0.src, e0.dst, e0.w / outw.ow AS p "
            "  FROM e0 JOIN outw USING (src)), "
            "dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM e0)), "
            "ee AS (SELECT src, dst, p FROM norm "
            "  UNION ALL SELECT d.id, nd.id, 1.0 / (SELECT n FROM cnt) "
            "   FROM dang d CROSS JOIN nodes nd "
            "  UNION ALL SELECT id, id, 0.0 FROM nodes), "
            "pr(iter, id, rank) AS ("
            "  SELECT 0, id, 1.0 / (SELECT n FROM cnt) FROM nodes "
            "  UNION ALL "
            "  SELECT min(pr.iter) + 1, ee.dst, "
            "   0.15 / (SELECT n FROM cnt) + 0.85 * sum(ee.p * pr.rank) "
            "  FROM pr JOIN ee ON ee.src = pr.id "
            "  WHERE pr.iter < 20 GROUP BY ee.dst) "
            "SELECT id, CAST(floor(rank * 1e6) AS BIGINT) AS pr_micro "
            "FROM pr WHERE iter = 20"
        ),
        "n3_referral_metrics": (
            "WITH e AS (SELECT user_id AS src, event_id % 50 AS dst, "
            "  count(*) AS referral_count FROM events "
            " WHERE user_id != event_id % 50 GROUP BY 1, 2), "
            "o AS (SELECT src AS id, count(*) AS out_degree, "
            "  CAST(sum(referral_count) AS BIGINT) AS out_volume FROM e GROUP BY src), "
            "i AS (SELECT dst AS id, count(*) AS in_degree, "
            "  CAST(sum(referral_count) AS BIGINT) AS in_volume FROM e GROUP BY dst) "
            "SELECT coalesce(o.id, i.id) AS id, "
            " CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree, "
            " CAST(coalesce(out_volume, 0) AS BIGINT) AS out_volume, "
            " CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree, "
            " CAST(coalesce(in_volume, 0) AS BIGINT) AS in_volume "
            "FROM o FULL JOIN i ON o.id = i.id"
        ),
        "n5_colleague_merge": (
            "WITH ent AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, "
            "  'F' || CAST(s_nationkey % 10 AS VARCHAR) AS facility FROM supplier), "
            "keep AS (SELECT facility FROM ent GROUP BY facility "
            " HAVING count(*) >= 2 AND count(*) <= 100), "
            "fac AS (SELECT e.* FROM ent e JOIN keep k ON e.facility = k.facility) "
            "SELECT a.id AS id_1, b.id AS id_2, 0.5 AS strength, "
            " 'same_facility' AS relation_types "
            "FROM fac a JOIN fac b ON a.facility = b.facility AND a.id < b.id "
            "GROUP BY a.id, b.id"
        ),
        "g13_cluster_quality": (
            "WITH rec AS (" + _CUST_REC_SQL + "), m AS (" + _CUST_MATCH_SQL + "), "
            "node_stats AS (SELECT component_id, count(*) AS size, "
            "  count(DISTINCT npi) AS npi_count, "
            "  count(DISTINCT facility_state) AS state_count, "
            "  count(DISTINCT source) AS source_count FROM rec GROUP BY component_id), "
            "e AS (SELECT m.overall_score AS weight, r.component_id FROM m "
            " JOIN rec r ON m.id_1 = r.source_id), "
            "edge_stats AS (SELECT component_id, count(*) AS n_edges, "
            "  round(avg(weight), 6) AS avg_weight, round(min(weight), 6) AS min_weight "
            " FROM e GROUP BY component_id), "
            "j AS (SELECT ns.*, coalesce(es.n_edges, 0) AS n_edges, "
            "  es.avg_weight, es.min_weight "
            " FROM node_stats ns LEFT JOIN edge_stats es USING (component_id)) "
            "SELECT component_id, size, n_edges, "
            " coalesce(avg_weight, -1.0) AS avg_weight, "
            " coalesce(min_weight, -1.0) AS min_weight, "
            " round(CASE WHEN size > 1 THEN n_edges / (size * (size - 1) / 2.0) "
            "  ELSE 1.0 END, 6) AS density, "
            " npi_count, state_count, source_count, npi_count > 1 AS npi_conflict, "
            " round(coalesce(avg_weight, 0.5) * "
            "  CASE WHEN npi_count > 1 THEN 0.1 ELSE 1.0 END * "
            "  CASE WHEN size > 50 THEN 0.5 ELSE 1.0 END, 6) AS quality_score, "
            " coalesce(array_to_string(list_filter([CASE WHEN npi_count > 1 THEN 'npi_conflict' END, "
            "  CASE WHEN size > 50 THEN 'large_cluster' END, "
            "  CASE WHEN state_count > 3 THEN 'many_states' END, "
            "  CASE WHEN coalesce(min_weight, 1.0) < 0.40 THEN 'weak_edge' END], "
            "  x -> x IS NOT NULL), '|'), '') AS warnings "
            "FROM j"
        ),
    }
