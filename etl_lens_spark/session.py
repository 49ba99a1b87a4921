"""SparkSession factory tuned for the engine.

Local test profile runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM);
the same configs are the right defaults on a real cluster: AQE handles
runtime re-planning (partition coalescing, skew-join splitting), the
session timezone is pinned to UTC so results are comparable across
engines, and Arrow is enabled for every pandas interchange path.

Scale posture (100 TB): nothing here assumes local mode except the
``master`` default. ``spark.sql.shuffle.partitions`` is a floor — AQE
coalesces small shuffles and splits skewed ones, so on a cluster you
set it to ~2-3x total cores and let AQE do the rest.

Python workers fork from ``etl_lens_spark.pydaemon``, not
``pyspark.daemon``. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and up to
CPython 3.11 that re-parses the central directory of every zip on the
worker's path right away: ``pyspark.zip`` and the ``spark-core`` jar,
once per package imported from them. On a 4-core x86 box with CPython
3.11.7 a one-partition no-op ``mapPartitions`` took 0.21-0.26 s, and
0.09-0.11 s once the re-read was gone, so every Python task paid about
0.13 s whatever its row count. The daemon re-reads only an archive
whose mtime or size changed; on a worker interpreter >= 3.12, which
re-reads lazily, it changes nothing (see its docstring). Two settings enable it:

- ``spark.python.daemon.module``: the worker-module setting cannot
  carry it, as ``pyspark.daemon`` honours only worker modules named
  ``pyspark*``;
- ``spark.executorEnv.PYTHONPATH`` = the directory holding this
  package, so workers import it (and the UDFs defined in it) whatever
  the driver's working directory is. On a cluster the package must be
  at the same path on the executors, or shipped there and this
  setting overridden through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the ``etl_lens_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "etl-lens-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. All configs are
    cluster-safe; only ``master`` is local-specific.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime partition coalescing, skew-join mitigation, and
        # dynamic join-strategy switching — load-bearing at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Pin UTC so timestamps agree with the DuckDB oracle and any
        # other engine reading the same parquet.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas/Python interchange (pandas_udf,
        # toPandas, applyInPandas / mapInPandas batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dims (region/nation/supplier at TPC-H
        # ratios) broadcast; big fact-fact joins shuffle. AQE can still
        # promote to broadcast at runtime from actual sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw ns LongType and convert (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # fork Python workers from a daemon that stops each task from
        # re-parsing the zip directories on the worker's path (above)
        .config("spark.python.daemon.module", "etl_lens_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
