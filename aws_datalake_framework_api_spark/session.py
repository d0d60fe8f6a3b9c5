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
- **Codegen cache sized to the working set**: Spark keeps compiled
  whole-stage classes in one JVM-wide cache (``CODEGEN_CACHE_ENTRIES``
  entries; Spark's default is 100).  In ``local[N]`` each class is
  cached twice, because the driver's and the executors'
  ``MutableURLClassLoader`` are part of the key.  perfbench's
  lake_cdc (merge, replication, range reads, catalog calls) holds
  94–157 entries, so at 100 every round evicted the merge's classes
  and compiled them again; C1/C2 JIT and Janino were then the
  largest CPU consumer of a steady round.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: ``spark.sql.codegen.cache.maxEntries`` (a static conf).  Measured
#: working sets: lake_cdc's warm-up and first rounds 94–157 entries,
#: bench.py's 20 headline ids 367.  1000 holds both with room for the
#: engine's other plan shapes.
CODEGEN_CACHE_ENTRIES = 1000


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
