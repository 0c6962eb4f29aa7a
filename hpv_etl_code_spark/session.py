"""SparkSession factory with scale-appropriate defaults.

The reference (``/root/reference/src/main.py``) has no session concept —
it is a single-process pandas script. Here every job runs through one
factory so AQE, timezone, Arrow, and shuffle sizing are uniform.

Defaults are chosen for the 100-TB design target (AQE on, skew-join
handling on, partition coalescing on); tests/local runs override
parallelism via ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the directory holding this package: Python workers import it from
# here whatever the driver's working directory or PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hpv_etl_code_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    - AQE enabled: runtime shuffle-partition coalescing, skew-join
      splitting, and dynamic join-strategy switching — the mechanisms
      that keep plans healthy at 1000-executor scale.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle and are cluster-location independent.
    - Arrow enabled for the (few) pandas-UDF paths.
    - Python workers get this package's parent directory on their
      PYTHONPATH, so a driver started from any directory can run the
      package's Python UDFs (a path absent on a node is ignored there).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp —
        # read as long and convert in sources.registry (µs truncation, same
        # as DuckDB's ns→µs behavior so the oracle agrees).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep parquet scan splits reasonable on local runs; on a real
        # cluster this is the default 128m anyway.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local[N] runs the executor inside the driver JVM. 8g measured
        # FASTER than 24g on the headline set (26.5s vs 47.9s at sf0.1,
        # back-to-back A/B): a larger heap inflates per-task execution
        # memory, so hash aggregates grow huge before spilling and lose
        # cache locality. Override with SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
