"""SparkSession factory tuned for the engine.

The reference is single-node pandas (no session concept); here the session
encodes the execution policy the whole engine assumes:
  - AQE on (runtime re-plan, skew-join splitting) — SURVEY.md §4
  - Arrow execution on (every Python kernel is a vectorized pandas UDF)
  - shuffle partitions proportional to cores so local[8] vs local[32]
    scaling runs are apples-to-apples (BASELINE.md scaling protocol)
  - PySpark's DataFrame call-site capture off
    (`spark.python.sql.dataFrameDebugging.enabled=false`). With it on, every
    Column method makes four py4j round trips (active session, conf read,
    origin set/clear) and walks the Python stack — about two thirds of a
    constructor's driver calls. Errors keep their class and message; what is
    lost is only PySpark's Python `file:line` in a DataFrame error's query
    context (the JVM still records its own origin).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "giga-spatial-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    cores=None → local[*]. shuffle_partitions defaults to 2×cores so that
    per-core work is constant across parallelism levels (scaling protocol).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
