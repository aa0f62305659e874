"""SparkSession factory.

One place to encode the engine's execution-model choices so every
entry point (tests, bench, driver contract) runs with the same plan
environment:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
  — subsumes the reference's fixed ``nReduce=10``
  (main/mrcoordinator.go:23) with runtime re-planning.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on
  a real cluster AQE coalesces upward/downward from this hint.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled so the few Pandas-UDF paths batch-transfer.
- The serial collector in the driver JVM, which in local mode is also
  the executor. G1 sizes its young generation from pause-time
  predictions, so the heap it commits (and the process's peak RSS)
  swings with the timing of concurrent tasks; the serial collector
  resizes only from the free ratio after each collection, so the
  footprint follows the live set. Measured on 4 vCPU with a 4g heap
  (perfbench, sf0.01): peak RSS median 1342 -> 1134 MB with the
  interquartile range 110 -> 48 MB on ingest_sf0.01, and 1744 -> 1297
  MB with 121 -> 48 MB on iterative_sf0.01.
- Tungsten pages of 4 MiB (``spark.buffer.pageSize``). Every task that
  runs a hash aggregate, a sort or the serialized shuffle writer takes
  at least one page on the heap (off-heap memory is off), and Spark's
  default page is ``min(64 MiB, nextPow2(execution memory / cores /
  16))``: 64 MiB here at a 4g or 16g heap on 4 cores, for tasks that
  hold a few hundred KB of rows. Under the serial collector those
  ``long[]`` pages force young collections, copies and heap growth.
  4 MiB is the smallest power of two whose page table still covers
  the largest heap built here: a ``TaskMemoryManager`` holds at most
  8192 pages, and 8192 x 4 MiB = 32 GiB >= the 16g default (1 MiB
  would cap a task at 8 GiB and fail a task that needs more). A
  record bigger than a page still gets a page of its own size.
  Measured warm on 4 vCPU with a 4g heap (JMX collector beans,
  sketch_heavy_hitters at sf0.01): 4-9 collections costing up to
  160-340 ms of a 0.5-0.7 s run with 64 MiB pages, 3 collections and
  16-24 ms with 4 MiB pages; the committed heap after the perfbench
  ingest items fell from 660-970 MB to 244 MB.
- ``spark.executorEnv.PYTHONPATH`` names the directory this package
  sits in, so Python workers import it wherever the driver runs.
  Every Python worker invocation (a task or UDF, a data-source
  planner, a streaming-sink write or commit) pays a fixed set-up cost
  before any user code. Measured warm on 4 vCPU as whole one-task
  jobs: 0.08–0.10 s in a reused worker that has run this package's
  code, which keeps pyspark.zip's parsed directory (``_zipdir``), and
  0.18–0.30 s in one that has not.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mapreduce_cs416_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Return the active session, or build a local one with engine defaults."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    n = default_parallelism()
    sp = shuffle_partitions if shuffle_partitions is not None else n
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT64 micros, not the deprecated INT96: timestamps written by
        # this engine carry row-group min/max stats so readers can prune
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Python workers import this package from where the driver found it,
        # also through sys.path with another working directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # managed tables (bucketed joins) live outside the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/spark_graft_derby -XX:+UseSerialGC",
        )
        # Tungsten pages sized for the local heap, not Spark's 64 MiB
        # (see the module docstring)
        .config("spark.buffer.pageSize", "4m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
