"""SparkSession factory.

Local test/bench runs use ``local[N]`` (one JVM); the config below is chosen
so the same code scales to a multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle partitions
sized to the parallelism, Arrow enabled for the pandas seams.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's physical memory (MemTotal in /proc/meminfo),
    capped at 16g — a local-mode driver heap that leaves room for the
    Python workers and the page cache. 16g where /proc is unreadable."""
    cap_mb = 16 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(cap_mb, total_mb // 2)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "nba_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores, and the driver heap
    to $SPARK_DRIVER_MEMORY or half the host's memory (at most 16g). On a
    real cluster the master/resource settings come from spark-submit;
    everything set here is master-agnostic except ``local[N]``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # local mode: match cores (not the 200 default) so small-SF runs don't
        # pay 200 empty-task launches; a cluster deployment overrides this.
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
