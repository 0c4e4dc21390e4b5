"""SparkSession factory tuned for this engine.

Local test runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster (AQE on, UTC session time, Arrow for the few
Pandas-UDF paths). Shuffle partitions default to the local core count — on a
real cluster AQE coalescing makes the static number far less important.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _install_stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file on disk changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``). Before CPython 3.13 that
    eagerly re-parses the whole central directory of every zip on the
    import path, once per ``zipimporter`` instance: a worker holds 14-17
    over ``pyspark.zip`` (1,328 entries) and py4j, so every Python task
    (Avro decode, exact-name write, cleaner read-back) paid ~100 ms of CPU
    before its UDF ran. Here an archive whose ``os.stat`` matches the one
    taken before its last read rebinds the shared directory-cache entry
    instead; a changed, replaced or missing archive falls through to the
    stdlib method. This module is imported by the package ``__init__``, so
    the method is replaced in every worker that unpickles an engine UDF.
    """
    cls = zipimport.zipimporter
    stdlib_invalidate = getattr(cls, "invalidate_caches", None)  # 3.10+
    if (
        stdlib_invalidate is None
        or sys.version_info >= (3, 13)
        or not hasattr(zipimport, "_zip_directory_cache")
        or getattr(stdlib_invalidate, "_stat_checked", False)
    ):
        return
    # archive -> (stat taken before the read, directory dict it produced)
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            last_read.pop(archive, None)
            stdlib_invalidate(self)
            return
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(archive)
        seen = last_read.get(archive)
        if seen is not None and seen[0] == key and seen[1] is files:
            self._files = files
            return
        stdlib_invalidate(self)
        if zipimport._zip_directory_cache.get(archive) is self._files:
            last_read[archive] = (key, self._files)
        else:
            last_read.pop(archive, None)

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches


_install_stat_checked_zip_invalidation()


def get_spark(
    app_name: str = "radar-output-restructure-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Parquet scans: keep file-split sizing explicit so huge inputs split
        # and tiny test inputs don't over-parallelize.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the driver-generated testdata uses TIMESTAMP(NANOS); Spark reads it
        # as long with this flag, and sources/tables.py converts to timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def avro_supported(spark: SparkSession) -> bool:
    """True when the spark-avro DataSource jar is on the classpath.

    Avro works EITHER way: with the jar, `read_topic_tree` uses the native
    DataSource; without it (pip pyspark), the distributed pure-Python
    container reader in sources/avro_io.py takes over. This predicate only
    reports which path is active."""
    from radar_output_restructure_spark.sources.kafka_tree import (
        has_native_avro,
    )

    return has_native_avro(spark)
