#!/usr/bin/env python3
"""Distributed connected components at scale: Spark jobs, rounds and seconds
of ``components.connected_components`` on a generated graph.

The graph (bigint ids, written to parquet once in 8 files, then read back
for every run, as an unbounded caller's input would be):

- ``--edges`` random edges inside blocks of 50 consecutive ids (mostly
  one component per block, some isolated ids);
- one path of ``--chain`` edges: a long-diameter component that needs
  O(log n) large/small-star rounds.

Usage: python bench_cc.py [--edges 1200000] [--chain 100000] [--reps 3]
Prints one JSON line per run (seconds, Spark jobs, rounds, an
order-independent hash of the ``(id, component_id)`` rows) and a summary
line.  Runs on ``local[4]`` by default (``--cores``).  Run it from the
root of the checkout to measure, or with ``PYTHONPATH`` set to it (Spark's
Python workers import the package by name).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import tempfile
import time

BLOCK = 50
PARTITIONS = 8


def write_graph(spark, path: str, n_edges: int, chain: int) -> None:
    from pyspark.sql import functions as F

    n_nodes = n_edges * 5 // 6
    i = F.col("id")
    u = F.pmod(F.xxhash64(i, F.lit(1)), F.lit(n_nodes))
    blocks = spark.range(n_edges, numPartitions=PARTITIONS).select(
        u.alias("id_1"),
        ((u / BLOCK).cast("long") * BLOCK + F.pmod(F.xxhash64(i, F.lit(2)), F.lit(BLOCK)))
        .alias("id_2"))
    path_edges = spark.range(chain, numPartitions=PARTITIONS).select(
        (i + n_nodes).alias("id_1"), (i + n_nodes + 1).alias("id_2"))
    blocks.unionByName(path_edges).repartition(PARTITIONS).write.parquet(path)


def run_once(spark, path: str, tag: str) -> dict:
    from pyspark.sql import functions as F

    from healthcare_entity_resolution_spark.operators.components import connected_components
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    sc = spark.sparkContext
    edges = spark.read.parquet(path)
    log = LineageLog()
    sc.setJobGroup(tag, tag)
    t0 = time.perf_counter()
    out = connected_components(edges, lineage=log)
    out.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
    sc.setJobGroup("check", "check")
    row = out.agg(F.count("*").alias("n"),
                  F.sum(F.xxhash64("id", "component_id").cast("decimal(38,0)")).alias("h"),
                  F.countDistinct("component_id").alias("components")).collect()[0]
    cc = [e for e in log.events if e["stage"].startswith("cc.")]
    return {"sec": round(sec, 2), "jobs": jobs,
            "rounds": sum(e["iterations"] for e in cc), "stage": cc[-1]["stage"],
            "rows": row["n"], "components": row["components"], "hash": str(row["h"])}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--edges", type=int, default=1_200_000)
    ap.add_argument("--chain", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from healthcare_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="her_bench_cc", cores=args.cores)
    tmp = tempfile.mkdtemp(prefix="her_bench_cc_")
    path = os.path.join(tmp, "edges")
    try:
        write_graph(spark, path, args.edges, args.chain)
        runs = []
        for rep in range(args.reps):
            runs.append(run_once(spark, path, f"cc-{rep}"))
            print(json.dumps(runs[-1]), flush=True)
        print(json.dumps({"metric": "cc_at_scale", "edges": args.edges + args.chain,
                          "cores": args.cores,
                          "sec_median": statistics.median(r["sec"] for r in runs),
                          "sec": [r["sec"] for r in runs], "jobs": runs[-1]["jobs"],
                          "rounds": runs[-1]["rounds"]}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
