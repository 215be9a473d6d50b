"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are the
ones that also matter on a real multi-executor cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to the environment (cores locally; on a cluster
  this would be ~2-3x total cores, or left to AQE's initialPartitionNum)
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are stable across clusters
- Arrow enabled for the few Pandas-UDF paths (multimodal decode)
- driver memory from the host: half its RAM unless ``SPARK_DRIVER_MEMORY``
  says otherwise (local mode runs the executor inside the driver JVM)
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


@contextlib.contextmanager
def case_sensitive_analysis(spark: SparkSession) -> Iterator[None]:
    """Temporarily force case-sensitive column resolution.

    Venue wire keys collide case-insensitively (Binance "s" symbol vs "S"
    side), so the normalizers need ``spark.sql.caseSensitive=true`` while
    their struct-field references are *analyzed*. Classic PySpark analyzes
    each transformation eagerly, so wrapping the plan construction is
    enough — the setting is restored before control returns to the caller,
    leaving a shared session's name resolution untouched.
    """
    prev = spark.conf.get("spark.sql.caseSensitive", "false")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)


def _host_driver_memory() -> str:
    """Half the host's physical memory, in whole GiB (at least 1g). In
    local mode the driver JVM is also the executor; the other half is left
    to the Python workers, the page cache and the OS."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, total // 2 // 1024**3)}g"


def get_spark(
    app_name: str = "liq_stream_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # venue wire keys are case-significant (Binance "s" symbol vs "S" side)
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet (events.ts) is otherwise unreadable;
        # read as long and convert in the loader (plans/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
