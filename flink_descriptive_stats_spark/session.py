"""SparkSession helpers.

Local-mode defaults are sized from the host: one task thread per CPU and a
driver heap of a quarter of its memory (1-8 GiB), unless
``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say otherwise. The config is
what we would also set on a real cluster: AQE on (runtime re-planning,
skew-join handling), shuffle partitions sized to the parallelism rather
than the 200 default (our aggregations produce tiny results; AQE coalesces
anyway), UTC session timezone so epoch math is deterministic, Arrow enabled
for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_heap() -> str:
    """A quarter of the host's memory, within 1-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8 << 10, max(1 << 10, kib >> 12))}m"


def get_spark(app_name: str = "flink_descriptive_stats_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or _host_heap()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the single-pass profile agg carries ~10 aggregate buffers per
        # column; the default maxFields=100 silently disables whole-stage
        # codegen for it (2.5x slower) — raise it
        .config("spark.sql.codegen.maxFields", "500")
        # the generated-class cache defaults to 100 entries; this repo's
        # query surface compiles several hundred codegen units, so warmup
        # compilations were evicted before reuse (re-paying ~6s on the
        # largest aggs). Static conf — takes effect at session creation.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fewer, larger Arrow batches for the pandas-UDF paths (F2 length,
        # GEMM prefilter): per-batch Python/serialization overhead dominates
        # at the 10k default
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
