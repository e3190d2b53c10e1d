"""SparkSession factory — one place for every scale-relevant knob.

Defaults target the sandbox (local[32], single JVM); on a real cluster the
same settings hold except master/memory come from spark-submit.  AQE is on
so the linking join gets runtime skew splitting on top of our explicit
salting (SURVEY.md §4 skew row).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """48g, or half of physical memory on a smaller host: a local-mode
    heap larger than the host never comes under GC pressure, so it grows
    until the kernel's OOM killer takes the JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 << 10, kb // 2048)}m"


def get_spark(
    app: str = "kgraphmemory_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY",
                                                   _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_frame(spark: SparkSession, rows: list[tuple],
                 schema: str) -> DataFrame:
    """Rows held on the driver (tuples in ``schema`` order, DDL string) as
    a DataFrame built in the JVM: they cross as one Arrow table, where a
    Python list would go through ``parallelize`` and the Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    table = pa.table({f.name: [r[i] for r in rows]
                      for i, f in enumerate(struct.fields)},
                     schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
