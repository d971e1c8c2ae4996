"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

All settings are plain public Spark confs.  AQE is on so skewed blocking
joins get runtime re-planned; Arrow is on for the pandas-UDF scoring path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_CHECKPOINT_DIR = os.path.join(tempfile.gettempdir(), "her_spark_checkpoints")


def _default_driver_mem() -> str:
    """Half the host's physical memory, at most 24g.  A heap larger than the
    host can back is not an upper bound but a target: the JVM grows into it
    and is OOM-killed (a full test run on a 15 GB host with a 24g heap)."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(24, half_gib))}g"


def get_spark(
    app_name: str = "healthcare_entity_resolution_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``cores=None`` -> ``local[*]``.  ``shuffle_partitions`` defaults to the
    core count — the right size for local mode; on a real cluster this is
    overridden via spark-submit conf (and AQE coalesces at runtime anyway).
    """
    cpus = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = f"local[{cpus}]"
    nshuffle = shuffle_partitions or max(int(cpus), 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory",
                os.environ.get("HER_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    os.makedirs(_CHECKPOINT_DIR, exist_ok=True)
    spark.sparkContext.setCheckpointDir(_CHECKPOINT_DIR)
    return spark
