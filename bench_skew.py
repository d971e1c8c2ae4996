#!/usr/bin/env python3
"""Skew stress evidence: salted vs unsalted blocking on a deliberately
hot-keyed corpus (the 'javascript' hot-band hazard SURVEY §7 warns about).

Builds an sf1-equivalent keyed frame (20k rows, derived deterministically
from the sf0.1 documents table — no external data) where HALF the corpus
lands in ONE block, then times `blocking.candidate_pairs` under the
production salted config (max_block_size=200) against the exact/unsalted
config (max_block_size=2^31), reporting wall seconds, pairs generated,
and the exact dropped-pair lineage the salted path logs.

Usage: python bench_skew.py   (prints one JSON line; ~1-2 min on local[32])
"""

from __future__ import annotations

import dataclasses
import json
import os
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import blocking as B
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog
    from healthcare_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="her_bench_skew", cores=cpus)

    # sf1-equivalent skewed keyed frame: 4 replicas of sf0.1 docs = 20k ids;
    # ids with doc_id % 2 == 0 all share ONE hot block, the rest spread
    # over 64 cold blocks
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    rep = spark.range(4).select(F.col("id").alias("rep"))
    keyed = (
        docs.crossJoin(rep)
        .select((F.col("doc_id") * 4 + F.col("rep")).alias("_id"))
        .select(
            F.col("_id").cast("string").alias("_id"),
            F.when(F.col("_id") % 2 == 0, F.lit("lang:hot"))
            .otherwise(F.concat(F.lit("lang:cold"), (F.col("_id") % 64)))
            .alias("_bk"),
        )
    )
    keyed.persist().count()

    out: dict[str, object] = {
        "metric": "skew_blocking_salted_vs_unsalted",
        "rows": keyed.count(),
        "hot_block_rows": keyed.where(F.col("_bk") == "lang:hot").count(),
        "cpus": cpus,
        "sf": sf_dir,
    }

    for label, mbs in (("salted_200", 200), ("unsalted_exact", 2**31)):
        cfg = dataclasses.replace(DEFAULT_CONFIG, max_block_size=mbs)
        lin = LineageLog()
        t0 = time.perf_counter()
        pairs = B.candidate_pairs(keyed, cfg, lin)
        n = pairs.count()
        secs = round(time.perf_counter() - t0, 3)
        drops = next(
            (e for e in lin.events if e["stage"] == "blocking.salting"), {}
        )
        out[label] = {
            "seconds": secs,
            "pairs": n,
            "pairs_per_sec": round(n / secs, 1),
            "hot_blocks": drops.get("hot_blocks", 0),
            "pairs_dropped": drops.get("pairs_dropped", 0),
            "pairs_kept": drops.get("pairs_kept", 0),
        }

    s, u = out["salted_200"], out["unsalted_exact"]
    out["speedup"] = round(u["seconds"] / s["seconds"], 2)
    out["drop_fraction_of_hot"] = round(
        s["pairs_dropped"] / max(1, s["pairs_dropped"] + s["pairs_kept"]), 4
    )
    keyed.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
