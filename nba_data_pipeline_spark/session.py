"""SparkSession factory.

Local test/bench runs use ``local[N]`` (one JVM); the config below is chosen
so the same code scales to a multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle partitions
sized to the parallelism, Arrow enabled for the pandas seams.

Python workers fork from :mod:`nba_data_pipeline_spark.pydaemon` instead of
``pyspark.daemon``. It is ``pyspark.daemon`` with one patch: the per-task
``importlib.invalidate_caches()`` no longer makes every cached
``zipimporter`` re-read its archive (``pyspark.zip``: 1,328 entries,
0.13-0.33 s of every Python task on a 4-core host). That is safe because the
zips already on a worker's path do not change while the worker lives; a zip
that arrives later (``addPyFile``, SparkFiles) is a new path with a fresh
importer, and ``FileFinder`` caches are still invalidated. The workers find
the daemon module through ``spark.executorEnv.PYTHONPATH``, which adds this
package's parent directory to their path (Spark merges it with any
``PYTHONPATH`` the caller set), so workers import the package from any
working directory.

On a real cluster the executors' daemon starts before ``--py-files``
arrive, so the daemon module only resolves where the package is installed
on the executors, and the driver-side path is meaningless there: a cluster
deployment drops both confs (or overrides them through ``extra_conf``)
rather than setting them blindly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds this package, for the workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def mem_total_mb() -> int | None:
    """The host's physical memory in MiB (MemTotal in /proc/meminfo), or
    None where /proc is unreadable. The one place that sizes a local run
    from the host: the driver heap below and the DuckDB oracle in
    ``tools/check.py`` both read it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _default_driver_memory() -> str:
    """Half of the host's physical memory, capped at 16g — a local-mode
    driver heap that leaves room for the Python workers and the page cache.
    16g where /proc is unreadable."""
    cap_mb = 16 * 1024
    total_mb = mem_total_mb()
    return f"{cap_mb if total_mb is None else min(cap_mb, total_mb // 2)}m"


def get_spark(
    app_name: str = "nba_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores, and the driver heap
    to $SPARK_DRIVER_MEMORY or half the host's memory (at most 16g). Python
    workers fork from :mod:`nba_data_pipeline_spark.pydaemon`, which skips
    the per-task re-read of ``pyspark.zip``, with this package's parent
    directory on their path (see the module docstring for why that is
    safe). ``extra_conf`` is applied last, so it overrides any of these.

    The master is always ``local[N]``. On a real cluster the master and
    resource settings come from spark-submit, and the daemon and worker-path
    confs are dropped unless the package is installed on the executors.
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
        .config("spark.python.daemon.module", "nba_data_pipeline_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
