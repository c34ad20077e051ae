"""SparkSession builder with the engine's required configuration.

Scale notes (100 TB target, SURVEY.md §4):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  runtime broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it ≈ 2-3× total cores and let AQE coalesce.
- Arrow enabled for the pandas-UDF operators (vectorized Python exchange).
- The legacy nanos conf is kept so a TIMESTAMP(NANOS)-era ``events``
  fixture still reads (as int64 nanos); the current fixture is
  TIMESTAMP(MICROS) and needs no conf. sources/loader.py dispatches on
  the dtype actually read and also pins the confs at runtime for
  sessions we did not build (the driver's own session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ≈ cores; AQE coalesces below this at runtime.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce by advisory size (64 MB), not up to the parallelism cap:
        # the Spark docs recommend false on busy clusters for efficient
        # resource use; locally it stops tiny shuffles fanning into 32
        # one-row tasks (pure scheduling overhead at any scale).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's SMJ→hash-join conversion stays off: it cost serving ~35% (r13).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master.startswith("local"):
        # List partition directories on the driver, however many: above
        # the default threshold of 32 paths Spark lists them with a job of
        # one task per directory, which in one JVM only adds scheduling.
        # Reading a 40-day materialized view (serving/matview.py) on a
        # 4-vCPU host: 3 jobs, 45 tasks, 0.68-0.82 s at the default; 2
        # jobs, 5 tasks, 0.26-0.28 s listing on the driver. The job left
        # infers the schema, which the view's reader skips: 1 job, 4
        # tasks, 0.14-0.23 s.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
    return builder.getOrCreate()
