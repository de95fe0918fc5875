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


def task_wave_partitions(spark: SparkSession) -> int:
    """Partition count for a stage of Python (Arrow/pandas) tasks: one
    partition per core (defaultParallelism), so the stage runs in ONE
    wave of task slots. A Python task carries fixed worker and Arrow
    overhead whether or not it gets rows, and on 4 cores each wave
    beyond the first adds ~0.2 s. Every serving-side bucket repartition
    (query/bm25.py bucket_arranged) and every block-encode stage (index
    build, static pruning, quantized and BM25F-quantized builds) sizes
    its shuffle here."""
    return spark.sparkContext.defaultParallelism


def local_frame(spark: SparkSession, rows, schema: str):
    """A small driver-made DataFrame (lineage rows, the corpus_stats
    row, an id list) built from pandas through Arrow with ONE partition.
    spark.createDataFrame(list_of_tuples) instead ships the rows through
    Python worker tasks, and a write of it leaves one file per core;
    this one runs no Python task and a write leaves one file.

    rows: a list of tuples in ``schema`` order (a DDL string)."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    names = [f.name for f in _parse_datatype_string(schema).fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema).coalesce(1)


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
