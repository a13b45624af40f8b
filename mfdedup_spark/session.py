"""SparkSession builder with the engine's defaults.

Tuned for correctness-at-scale first: AQE on (skew joins, coalescing),
Arrow enabled for the pandas-UDF signature stage, shuffle partitions
proportional to cores (BASELINE.md scaling protocol: both bench runs must
be shuffle-shaped alike).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "mfdedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 256,
) -> SparkSession:
    # arrow_batch: 256-row batches pipeline JVM feed with python compute
    # (~5MB batches for image rows); 2048 doubled signature-stage wall
    # time by serializing 40MB feed/compute phases per batch.
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "4"
        shuffle_partitions = (os.cpu_count() or 4) if n == "*" else int(n)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.locality.wait", "0")  # local mode: never stall task launch
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        # no \r progress frames on stderr: they interleave with a tool's
        # stdout lines under 2>&1 and break grep over its log
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return b.getOrCreate()
