"""SparkSession factory with the engine's standard configuration.

The reference executes everything in one Python process (see SURVEY.md §4
"physical execution"); here the session is configured for distributed
execution — AQE on, Arrow on for any pandas-UDF path, UTC session time so
naive parquet timestamps compare bit-for-bit with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Number of shuffle partitions used when the caller does not override it.
#: Sized for local[32] test runs; on a real cluster this should be set to
#: ~2-3x total executor cores (or left to AQE coalescing, which is enabled).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: The directory that holds the ``usgs_lidar_spark`` package. Python
#: workers need it on their path to start the engine's worker daemon.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "usgs-lidar-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or return) the configured SparkSession.

    Configuration highlights and why:
      * ``spark.sql.adaptive.enabled`` — runtime re-planning: shuffle
        coalescing, skew-join splitting, dynamic join-strategy switch.
      * ``spark.sql.session.timeZone=UTC`` — parquet TIMESTAMP (naive)
        round-trips with identical wall-clock values as DuckDB reads them.
      * ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's
        ``events.parquet`` carries TIMESTAMP(NANOS) which Spark has no
        native type for; we read the raw int64 nanos and convert with
        ``timestamp_micros`` (see catalog.load_table).
      * Arrow enabled — every pandas UDF / mapInPandas transfer is
        columnar-batched, never per-row pickling.
      * Runtime bloom-filter joins stay at the Spark default (ON): when
        a selective dim side is too large to broadcast, the optimizer
        injects bloom_filter_agg/might_contain to pre-filter the fact
        scan (pinned by tests/test_plans.py::
        test_runtime_bloom_filter_injects_on_shuffle_join). On a real
        cluster the relevant knobs are runtime.bloomFilter.
        creationSideThreshold (dim build cap) and
        applicationSideScanSizeThreshold (fact floor, default 10GB).
      * ``spark.python.daemon.module`` — the engine's worker daemon
        (``worker_daemon.py``): Python tasks stop re-reading the
        pyspark and py4j zips. ``spark.executorEnv.PYTHONPATH`` puts
        the package root first so the workers can import it.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource filter pushdown (sources/pydatasource.py):
        # off by default in Spark 4.1, required for pushFilters() readers.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "usgs_lidar_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p for p in (PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
