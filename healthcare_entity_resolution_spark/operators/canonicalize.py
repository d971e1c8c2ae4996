"""Canonicalization: survivorship, ids, confidence (SURVEY.md K1–K5).

Reference behavior (studied at /root/reference/src/physician_resolution/
canonicalization/{ids.py:42-58, merge.py:15-205, confidence.py:10-120}),
re-expressed as ONE pass of window-ranked picks + a survivorship
``groupBy(component_id).agg`` — no per-cluster Python.

Selection semantics preserved exactly:
- K1 canonical id: ``PHY_{most-common valid NPI}``; id-less clusters get a
  **deterministic** ``PHY_{sha256(min source_id)[:12]}`` instead of the
  reference's ``uuid4`` (ids.py:58) — reproducibility per SURVEY §7.
- K3 survivorship: npi = mode; name = argmax(priority, length); specialty =
  mode-of-normalized then highest priority; facility = count then priority;
  city/state = mode; all_facilities = sorted distinct list.
- K4 entity confidence: singletons = source-reliability map; else
  ``0.30·avg_w + 0.15·min_w + 0.15·density + 0.25·npi_consistency +
  0.15·min(source_diversity/3, 1)`` (confidence.py:10-69).
- K5 record confidence: ``0.6·avg + 0.4·max`` of the record's intra-cluster
  edge weights; 0.4 if only transitively connected; 0.8 singleton
  (confidence.py:72-109).

All mode/argmax picks use ``row_number()`` windows with total deterministic
orderings (count desc, priority desc, value asc) so results are stable
across partitionings and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# survivorship priority per source (reference canonicalization/merge.py)
SOURCE_PRIORITY = {"cms": 4, "license": 3, "hospital": 2, "publication": 1}


def _priority_expr(col):
    expr = F.lit(0)
    for src, p in SOURCE_PRIORITY.items():
        expr = F.when(col == src, F.lit(p)).otherwise(expr)
    return expr


def canonical_entities(records: DataFrame, assignments: DataFrame) -> DataFrame:
    """K1+K3: one canonical row per component over normalized physician-shaped
    records ``(source_id, source, npi, name_raw, specialty, facility_name,
    facility_city, facility_state)``.

    Plan shape (the 100 TB-safe version of survivorship): ONE hash shuffle on
    ``component_id``, then every field pick is a window over that same
    partitioning — ``HashPartitioning(component_id)`` satisfies the
    ``ClusteredDistribution`` of every ``(component_id, value)`` window, so
    Catalyst inserts local sorts but no further Exchange — and a single
    ``groupBy(component_id)`` collapses the winning rows.  Replaces the
    round-1 design of six ``F.broadcast(pick)`` joins, which was O(#components)
    driver memory (would OOM at 10^8+ entities).
    """
    rec = (
        records.join(assignments.withColumnRenamed("id", "source_id"), "source_id")
        .withColumn("_prio", _priority_expr(F.col("source")))
        .withColumn(
            "_vnpi",
            F.when(F.col("npi").rlike("^[0-9]{10}$"), F.col("npi")),
        )
        .withColumn("_sk", F.upper(F.trim("specialty")))
        .withColumn("_f", F.trim("facility_name"))
        .withColumn("_city", F.trim("facility_city"))
        .withColumn("_state", F.trim("facility_state"))
        .repartition("component_id")  # the one shuffle
    )

    def grp_count(value_col: str):
        # per-(component, value) frequency; null for null values so
        # desc_nulls_last ordering never elects a null
        return F.when(
            F.col(value_col).isNotNull(),
            F.count("*").over(W.partitionBy("component_id", value_col)),
        )

    rec = (
        rec.withColumn("_c_npi", grp_count("_vnpi"))
        .withColumn("_c_sk", grp_count("_sk"))
        .withColumn("_c_f", grp_count("_f"))
        .withColumn(
            "_p_f",
            F.when(
                F.col("_f").isNotNull(),
                F.max("_prio").over(W.partitionBy("component_id", "_f")),
            ),
        )
        .withColumn("_c_city", grp_count("_city"))
        .withColumn("_c_state", grp_count("_state"))
    )

    comp = W.partitionBy("component_id")
    rank_of = {
        # K1: mode of valid NPIs, ties by value asc (ids.py:42-58)
        "_rn_npi": comp.orderBy(
            F.col("_c_npi").desc_nulls_last(), F.col("_vnpi").asc_nulls_last()
        ),
        # name: argmax (priority desc, length desc, name asc)  (merge.py:111-124)
        "_rn_name": comp.orderBy(
            F.when(F.col("name_raw").isNotNull(), F.col("_prio")).desc_nulls_last(),
            F.length("name_raw").desc_nulls_last(),
            F.col("name_raw").asc_nulls_last(),
        ),
        # specialty: most-common normalized key, then highest-priority raw
        # version within that key  (merge.py:127-144)
        "_rn_spec": comp.orderBy(
            F.col("_c_sk").desc_nulls_last(),
            F.col("_sk").asc_nulls_last(),
            F.when(F.col("specialty").isNotNull(), F.col("_prio")).desc_nulls_last(),
            F.col("specialty").asc_nulls_last(),
        ),
        # facility: count desc, then max-priority desc  (merge.py:147-170)
        "_rn_f": comp.orderBy(
            F.col("_c_f").desc_nulls_last(),
            F.col("_p_f").desc_nulls_last(),
            F.col("_f").asc_nulls_last(),
        ),
        "_rn_city": comp.orderBy(
            F.col("_c_city").desc_nulls_last(), F.col("_city").asc_nulls_last()
        ),
        "_rn_state": comp.orderBy(
            F.col("_c_state").desc_nulls_last(), F.col("_state").asc_nulls_last()
        ),
    }
    for name, win in rank_of.items():
        rec = rec.withColumn(name, F.row_number().over(win))

    def winner(rank_col: str, value_col: str):
        return F.max(F.when(F.col(rank_col) == 1, F.col(value_col)))

    out = rec.groupBy("component_id").agg(
        F.count("*").alias("source_count"),
        F.sort_array(F.collect_set("_f")).alias("all_facilities"),
        F.sort_array(F.collect_set("source_id")).alias("source_records"),
        F.min("source_id").alias("_min_sid"),
        winner("_rn_npi", "_vnpi").alias("npi"),
        winner("_rn_name", "name_raw").alias("name"),
        winner("_rn_spec", "specialty").alias("specialty"),
        winner("_rn_f", "_f").alias("primary_facility"),
        winner("_rn_city", "_city").alias("city"),
        winner("_rn_state", "_state").alias("state"),
    )
    canonical_id = F.when(
        F.col("npi").isNotNull(), F.concat(F.lit("PHY_"), F.col("npi"))
    ).otherwise(
        F.concat(F.lit("PHY_"), F.substring(F.sha2(F.col("_min_sid"), 256), 1, 12))
    )
    return out.select(
        canonical_id.alias("canonical_id"),
        "component_id", "npi", "name", "specialty", "primary_facility",
        "city", "state", "all_facilities", "source_records", "source_count",
    )


def source_canonical_mapping(entities: DataFrame) -> DataFrame:
    """K2 (ids.py:13-39): flatten ``source_records`` to (source_id, canonical_id)."""
    return entities.select(
        F.explode("source_records").alias("source_id"), "canonical_id"
    )


def _singleton_confidence_expr(col):
    # singleton confidence map, confidence.py:112-120 (not the edge-weight
    # reliability map, graph.SOURCE_RELIABILITY)
    m = {"cms": 0.85, "license": 0.80, "hospital": 0.70, "publication": 0.50}
    expr = F.lit(0.5)
    for src, v in m.items():
        expr = F.when(col == src, F.lit(v)).otherwise(expr)
    return expr


def entity_confidence(
    records: DataFrame,
    edges: DataFrame,
    assignments: DataFrame,
) -> DataFrame:
    """K4 (confidence.py:10-69): per-component confidence 0..1."""
    rec = records.join(assignments.withColumnRenamed("id", "source_id"), "source_id")
    node_stats = rec.groupBy("component_id").agg(
        F.count("*").alias("size"),
        F.countDistinct("npi").alias("n_npis"),
        F.countDistinct("source").alias("n_sources"),
        F.min(_singleton_confidence_expr(F.col("source"))).alias("_single_rel"),
    )
    e = edges.join(
        assignments.select(F.col("id").alias("id_1"), "component_id"), "id_1"
    )
    edge_stats = e.groupBy("component_id").agg(
        F.count("*").alias("n_edges"),
        F.avg("weight").alias("avg_w"),
        F.min("weight").alias("min_w"),
    )
    j = node_stats.join(edge_stats, "component_id", "left")
    density = F.when(
        F.col("size") > 1,
        F.coalesce(F.col("n_edges"), F.lit(0)) / (F.col("size") * (F.col("size") - 1) / 2),
    ).otherwise(F.lit(0.0))
    npi_score = F.when(F.col("n_npis") <= 1, 1.0).otherwise(0.3)
    diversity = F.least(F.col("n_sources") / 3.0, F.lit(1.0))
    multi = (
        F.col("avg_w") * 0.30 + F.col("min_w") * 0.15 + density * 0.15
        + npi_score * 0.25 + diversity * 0.15
    )
    conf = (
        F.when(F.col("size") == 1, F.col("_single_rel"))
        .when(F.col("n_edges").isNull(), F.lit(0.3))  # no edges somehow
        .otherwise(F.least(F.greatest(multi, F.lit(0.0)), F.lit(1.0)))
    )
    return j.select("component_id", F.round(conf, 6).alias("entity_confidence"))


def record_confidence(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """K5 (confidence.py:72-109): per-record membership confidence.

    Edges exploded in both directions -> groupBy(node) avg/max; records with
    no direct edge in a multi-node cluster get 0.4; singletons 0.8.
    """
    both = edges.select(F.col("id_1").alias("id"), "weight").union(
        edges.select(F.col("id_2").alias("id"), "weight")
    )
    per_node = both.groupBy("id").agg(
        F.avg("weight").alias("avg_w"), F.max("weight").alias("max_w")
    )
    sizes = assignments.groupBy("component_id").agg(F.count("*").alias("size"))
    j = assignments.join(per_node, "id", "left").join(sizes, "component_id")
    conf = (
        F.when(F.col("size") == 1, F.lit(0.8))
        .when(F.col("avg_w").isNull(), F.lit(0.4))
        .otherwise(
            F.least(
                F.greatest(F.col("avg_w") * 0.6 + F.col("max_w") * 0.4, F.lit(0.0)),
                F.lit(1.0),
            )
        )
    )
    return j.select("id", "component_id", F.round(conf, 6).alias("record_confidence"))
