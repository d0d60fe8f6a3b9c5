"""SparkSession construction tuned for the data-lake workload.

Local test mode runs ``local[N]`` in one JVM, but every config choice
is made for the 1000-executor / 100 TB deployment this engine targets:

- **AQE on** (coalesce + skew-join): runtime re-planning fixes
  partition-count and skew decisions that static planning gets wrong
  at scale.
- **shuffle.partitions ~= cores locally**; at cluster scale this is
  overridden per-deployment (AQE coalescing makes the initial number
  a ceiling, not a critical constant).
- **UTC session timezone**: lake data is cross-region (reference
  ``config/globalConfig.json:4-5`` declares two regions); a fixed TZ
  is the only sane choice, and it pins oracle comparisons.
- **Arrow enabled**: every pandas-UDF path (LLM ops, multimodal)
  moves batches, not rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` when set, else half
    of physical memory, at least 1 GiB.  ``local[N]`` runs every
    executor inside the driver JVM, so a heap sized past the host lets
    the kernel's OOM killer take the JVM instead of Spark spilling."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    return f"{max(1024, _mem_total_mb() // 2)}m"


def _mem_total_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def get_spark(
    app_name: str = "aws-datalake-framework-api-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at
    cluster scale set it to ~2-3x total executor cores (AQE coalesces
    the excess).
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # 200-row dims (part) are far under this; keep the default 10MB
        # threshold but make the intent explicit for cluster configs.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # 128 MiB scan splits: with ~5-10x decompression/decode expansion
        # a task peaks near 1 GiB — sized so a 4-8 GiB executor core runs
        # several concurrent tasks without spill; raise only with memory.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
