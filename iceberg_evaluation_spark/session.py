"""SparkSession builder for the engine.

Re-expresses the reference session setup
(``src/data_curation/glue_jobs/pyspark_functions.py:318-334``: Iceberg
extensions, GlueCatalog, parallelism 2000) as an idiomatic local/cluster
Spark config: AQE replaces the hardcoded shuffle-partition magic number,
UTC session time zone pins oracle comparability, Arrow accelerates any
pandas exchange. The Iceberg runtime jar is not available in this
environment, so the snapshot-table capabilities live in
:mod:`iceberg_evaluation_spark.tables` instead of a catalog plugin.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_driver_memory", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    48g, or half of physical memory where that is less, so the heap of
    one long-lived driver JVM stays within what the machine holds."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf (Windows)
        return "48g"
    return f"{min(48 << 10, phys // (2 << 20))}m"


def get_spark(
    app_name: str = "iceberg-evaluation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults are sized for the local[32] test rig but every knob scales to
    a real cluster: AQE coalesces/splits shuffle partitions at runtime, the
    skew-join handler splits hot keys, and broadcast threshold lets
    dimension tables (region/nation/supplier/part at any SF) skip shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        # Scan-split and AQE-coalesce target sizes (guide §2.2/§6/§9).
        # Local defaults match Spark's own (128 MB splits, 64 MB advisory)
        # so the driver's bench stays comparable across rounds; at cluster
        # scale both should rise — 512 MB–1 GB splits for big sequential
        # scans and a 256 MB advisory size so AQE coalesces post-shuffle
        # partitions into the 100 MB–1 GB band instead of Spark's
        # small-cluster default — set via env without a code change.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)
            ),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get(
                "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", str(64 * 1024 * 1024)
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
