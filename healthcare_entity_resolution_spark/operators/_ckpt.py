"""Checkpoint helper shared by the operators that truncate lineage
(connected components, pruning, blocking, dedup, decontamination, curation).

Reliable (HDFS/disk) checkpoints truncate lineage AND survive executor loss
— that is the north_rule resume story on a cluster.  When the hosting
SparkSession never called ``setCheckpointDir`` (e.g. the driver harness's
own session), fall back to ``localCheckpoint`` — same plan truncation,
executor-local storage — rather than failing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _strip_stats(df: DataFrame) -> DataFrame:
    """Rewrap a *materialized* (checkpointed) DataFrame's RDD in a fresh
    LogicalRDD with default statistics.

    Why: since Spark 3.4, ``checkpoint``/``localCheckpoint`` copy the source
    plan's ``Statistics`` (sizeInBytes as an unbounded BigInt) into the new
    LogicalRDD.  An iterative job that joins the checkpointed frame back to
    itself k times per iteration multiplies those BigInts, so sizeInBytes
    grows as stat^(k^iter) — with k=2 (e.g. connected components' large-star
    step reads the checkpointed edge frame on both sides of its neighbor-min
    join) the BigInt *bit length doubles every iteration* and Catalyst's
    stats estimation becomes exponential (BigInteger.multiplyByInt OOM
    around iteration ~20).  Rebuilding the LogicalRDD from the
    already-computed InternalRow RDD resets the stat to the session default
    and costs nothing (no recompute, no job)."""
    spark = df.sparkSession
    try:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            df._jdf.queryExecution().toRdd(), df._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception:  # private-API drift: fall back to the un-stripped frame
        return df


def checkpoint(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    try:
        has_dir = not sc._jsc.sc().getCheckpointDir().isEmpty()
    except Exception:
        has_dir = False
    if has_dir:
        return _strip_stats(df.checkpoint(eager=True))
    return _strip_stats(df.localCheckpoint(eager=True))
