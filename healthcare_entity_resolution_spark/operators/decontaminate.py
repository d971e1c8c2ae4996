"""Benchmark decontamination — flag training documents that overlap a
held-out evaluation set (training-data pipeline surface; no analog in the
reference repo, which resolves entities, not corpora).

The standard LLM-data recipe: hash every char k-shingle of the benchmark
set, then flag any training document whose distinct-shingle overlap ratio
against that index exceeds a threshold.  100 TB shape:

- the benchmark index is small by construction (eval sets are thousands of
  documents, not billions) — AQE broadcasts it once its distinct stage has
  run, so the corpus-side explode joins map-side with NO shuffle of
  document content;
- documents are shingled in ONE Arrow pass (the same numpy kernel the
  MinHash path uses); only (id, shingle_hash) pairs explode, never text;
- per-document ratios come from one groupBy over the exploded hits —
  map-side partial aggregation keeps shuffle volume O(matching shingles).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as textfn

_SHINGLE_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("_shn", T.ArrayType(T.LongType())),
    T.StructField("n_shingles", T.IntegerType()),
])


def shingle_state(df: DataFrame, id_col: str, text_col: str,
                  k: int = 8) -> DataFrame:
    """(id, distinct shingle-hash array, count) in one Arrow pass."""

    def gen(batches):
        for pdf in batches:
            ids, shn, ns = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(str(i))
                h = textfn.shingle_hashes(t, k=k) if t else None
                arr = [] if h is None else h.astype("int64").tolist()
                shn.append(arr)
                ns.append(len(arr))
            yield pd.DataFrame({"id": ids, "_shn": shn, "n_shingles": ns})

    return df.select(
        F.col(id_col).cast("string").alias(id_col), text_col
    ).mapInPandas(gen, schema=_SHINGLE_SCHEMA)


def benchmark_shingle_index(bench: DataFrame, id_col: str, text_col: str,
                            k: int = 8) -> DataFrame:
    """Distinct shingle hashes of the held-out set: one column ``sh``.
    Persist/commit this once per benchmark release and reuse across runs."""
    return (
        shingle_state(bench, id_col, text_col, k=k)
        .select(F.explode("_shn").alias("sh"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    bench_index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.1,
) -> DataFrame:
    """Per-document contamination: (id, n_shingles, n_hits, overlap_ratio,
    contaminated).  ``overlap_ratio`` is |doc-shingles ∩ benchmark| /
    |doc-shingles| — the fraction of the document that appears verbatim (at
    k-gram granularity) in the eval set.

    The join strategy is AQE's: the index is broadcast when its distinct
    shingle set is under ``spark.sql.autoBroadcastJoinThreshold`` (eval sets
    are tiny relative to the corpus, so the join is map-side) and shuffled
    if it ever outgrows it."""
    state = shingle_state(docs, id_col, text_col, k=k).persist()
    exploded = state.select("id", F.explode("_shn").alias("sh"))
    hits = (
        exploded.join(bench_index.select("sh").distinct(), "sh", "left_semi")
        .groupBy("id").agg(F.count("*").alias("n_hits"))
    )
    out = (
        state.select("id", "n_shingles")
        .join(hits, "id", "left")
        .fillna({"n_hits": 0})
        .withColumn(
            "overlap_ratio",
            F.when(F.col("n_shingles") > 0,
                   F.col("n_hits") / F.col("n_shingles")).otherwise(F.lit(0.0)),
        )
        .withColumn("contaminated", F.col("overlap_ratio") >= F.lit(threshold))
    )
    from ._ckpt import checkpoint as _checkpoint

    out = _checkpoint(out)
    state.unpersist(blocking=False)
    return out


def decontaminate(
    docs: DataFrame,
    bench_index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.1,
) -> DataFrame:
    """Drop contaminated documents; the report side carries exact counts so
    removal is never silent (same lineage discipline as blocking drops)."""
    report = contamination_report(
        docs, bench_index, id_col, text_col, k=k, threshold=threshold
    )
    keep = report.where(~F.col("contaminated")).select(
        F.col("id").alias(id_col + "__keep")
    )
    return docs.join(
        keep,
        docs[id_col].cast("string") == keep[id_col + "__keep"],
        "left_semi",
    )
