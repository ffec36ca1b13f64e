"""SparkSession factory with the engine's standard configuration.

Local-mode testing stands in for a multi-executor cluster; all scale-sensitive
settings are explicit so the same code runs under spark-submit --py-files on a
real cluster (the north rule's deployment mode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app_name: str = "parquet_cpp_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Arrow-vectorized UDF transfer (the pandas UDFs of functions/);
        # row-at-a-time transfer would defeat the design.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow record batches so jumbo token rows can't blow a batch
        # (Arrow 2 GiB record-batch limit; SURVEY §7 hard part (e)).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
