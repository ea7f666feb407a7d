"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the conf below is chosen so the same
logical plans survive a 1000-executor cluster: AQE on (runtime skew-join
+ coalesce), broadcast threshold sized for dimension tables, Arrow
enabled for the few Pandas-UDF boundaries.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CONF = {
    # AQE: runtime re-plan (coalesce post-shuffle partitions, skew joins).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/customer at test SF) are
    # broadcast; on a real cluster raise with data size, not hardcoded.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the mapInPandas/pandas_udf boundaries (multimodal, ANN).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone: testdata timestamps are naive UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Parquet scans: keep splits big enough to amortize footer reads.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Long-session hygiene (round 13): localCheckpoint blocks from
    # FINISHED queries are reclaimed by the ContextCleaner only after
    # a driver GC notices the dead RDD references — with an 8g heap
    # and small per-query data, no GC fires for the length of a
    # 322-query sweep and dead blocks pile up in the block manager
    # (measured: the same 16-query probe list ran 46.2s late in a
    # session vs 38.4s with this set; tail queries inflated up to 3x).
    # The default interval (30min) never fires inside a bench run.
    # 5min, not seconds: System.gc() in local mode is a stop-the-world
    # pause shared with executor tasks, so fire rarely — a 45s/300s/
    # off 3-way measurement of the heavy-query list was a wash
    # (35.2/35.5/37.0s), and 300s still bounds block buildup across a
    # 322-query sweep.
    "spark.cleaner.periodicGC.interval": "300s",
    # PySpark captures the Python call site of every F.col and Column
    # method (an inspect stack walk plus extra py4j round trips) to
    # attach a "DataFrame query context" (file:line) to errors. That is
    # about half of a doc-store build's construction: 727 -> 347 py4j
    # call commands with it off. The trade: an AnalysisException loses
    # the Python file:line context; Spark's own error message and plan
    # stay the same. PySpark reads this once per process, at the first
    # Column call, so it must be in the session conf before then
    # (get_spark sets it as the session is built).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "document-parsing-etl-spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def concurrently(spark: SparkSession,
                 calls: Sequence[Callable[[], T]]) -> list[T]:
    """Run each zero-argument callable in its own thread, so the Spark
    jobs they submit run concurrently; return their results in order.

    Each target is wrapped in its own
    ``pyspark.inheritable_thread_target(spark)``, so every thread
    inherits the caller's job group and local properties. One wrap per
    call, because ``setLocalProperties`` installs the copied
    ``Properties`` object itself and SQL executions write their
    execution id into it. Every call runs to its end; then the first
    failure, in call order, is raised."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c))
                   for c in calls]
    return [f.result() for f in futures]
