"""SparkSession factory.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen so the *same* logical plans scale to 1000 executors:
AQE for runtime re-planning (skew joins, partition coalescing),
shuffle partitions sized to the core count (overridable per-job),
Arrow enabled for every pandas-UDF edge.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def install_zip_stat_cache() -> None:
    """Make zipimporter.invalidate_caches() re-read an archive's zip
    directory only when the archive's (st_mtime_ns, st_size) changed
    since the last read, as CPython 3.13 made it lazy.

    A Spark Python worker calls importlib.invalidate_caches() at the
    start of every task (pyspark worker_util.setup_spark_files), and
    its sys.path starts with pyspark.zip, the py4j zip and the
    spark-core jar. On CPython <= 3.12 each call re-parses all of
    those zip directories in pure Python: 118-222 ms (median 187 ms)
    of every task in a warm worker, ~0.1 ms with this cache (4-vCPU
    box, CPython 3.11, Spark 4.1.2).
    A changed or re-shipped archive (addPyFile) still gets re-read, so
    imports see its new contents. No-op on 3.13+ and when already
    installed."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    directories = zipimport._zip_directory_cache
    # archive -> ((st_mtime_ns, st_size) taken before the read, files)
    read_at: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        last = read_at.get(self.archive)
        if (
            key is not None
            and last is not None
            and last[0] == key
            and directories.get(self.archive) is last[1]
        ):
            self._files = last[1]
            return
        reread(self)
        if key is not None:
            read_at[self.archive] = (key, self._files)

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
    overhead whether or not it gets rows: on 4 cores, one extra wave
    cost ~0.2 s, mostly the per-task zip re-read that
    install_zip_stat_cache now skips. Every serving-side bucket
    repartition (query/bm25.py bucket_arranged) and every block-encode
    stage (index build, static pruning, quantized and BM25F-quantized
    builds) sizes its shuffle here; a query's kernel stage may take
    fewer (bm25.kernel_partitions)."""
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
