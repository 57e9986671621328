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
  - driver-built tables (zone dims, covers, rings, lookup lists) go through
    `local_df`: one Arrow batch planned as a `LocalTableScan`, never the
    pickled-Python-RDD list path (`Scan ExistingRDD`, one Python-worker task
    per core for a few hundred rows).
"""

from __future__ import annotations

import os
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


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


def local_df(spark: SparkSession, rows: Iterable[tuple],
             schema: str | StructType) -> DataFrame:
    """A driver-built table as a local relation: `rows` (tuples) become one
    Arrow table of `schema` (DDL string or StructType), column by column.
    No job, no Python worker and no py4j call per row. A value of the wrong
    type raises (`pa.array` does not coerce a str into a long, nor wrap an
    int past a column's width)."""
    struct = (schema if isinstance(schema, StructType)
              else _parse_datatype_string(schema))
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
