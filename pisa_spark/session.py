"""SparkSession factory.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen so the *same* logical plans scale to 1000 executors:
AQE for runtime re-planning (skew joins, partition coalescing),
shuffle partitions sized to the core count (overridable per-job),
Arrow enabled for every pandas-UDF edge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap default: half the machine's physical memory (local
    mode runs the executors inside the driver JVM, and the Python
    workers and page cache need the other half)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "pisa_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(cores, 32) — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces small partitions.
    The driver heap is $PISA_SPARK_DRIVER_MEM, else default_driver_memory().
    """
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None:
        cores_s = env_cores if env_cores else "*"
    else:
        cores_s = str(cores)
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores_s), 32)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("PISA_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
