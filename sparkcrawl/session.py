"""SparkSession factory tuned for the crawl engine.

Local-mode knobs per /opt/skills/guides/pyspark_guide.md; on a real
cluster the same builder is used by spark-submit (only master/memory
come from the submit command).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkcrawl",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARKCRAWL_MASTER", "local[32]")
    cores = _parallelism_of(master)
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # runtime bloom-filter join prefilters large anti-joins (SURVEY §4.2)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # generated-class cache (static, JVM-wide): a bootstrap plus one
        # superstep compiles ~170 classes, and Spark's default of 100
        # entries evicted each one before its next use, so every crawl
        # pass recompiled ~265 classes (CodegenMetrics compile count,
        # crawl_wide, 4 cores); with room for all of them a warm pass
        # compiles none
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARKCRAWL_DRIVER_MEM", "16g"))
    )
    # local-mode shuffle goes through spark.local.dir on the driver host;
    # route it through tmpfs when available so scaling measurements see
    # CPU, not one shared disk (a real cluster shuffles per-executor).
    local_dir = os.environ.get("SPARKCRAWL_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/sparkcrawl-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32
