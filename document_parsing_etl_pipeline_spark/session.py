"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the conf below is chosen so the same
logical plans survive a 1000-executor cluster: AQE on (runtime skew-join
+ coalesce), broadcast threshold sized for dimension tables, Arrow
enabled for the few Pandas-UDF boundaries.

Generated code. Spark compiles each whole-stage-codegen stage and each
generated projection / ordering into a Java class (Janino, about 9-16
ms each) and keeps the compiled classes in one JVM-wide LRU cache keyed
on the generated source. Measured working sets (distinct classes one
pass compiles, 8 shuffle partitions, a cache too large to evict):
``registry_mix``'s three heavy queries 120-129 after its light ones
(``q_naive_bayes_lang`` alone 71-73; local[4]); the whole 322-query
registry 3,545 at sf0.001 and 3,543 at sf0.01 (local[2]). Spark's
default cache of 100 entries holds less than the heavy set, so a warm
round of ``registry_mix``'s eight queries recompiled 151 classes (123
of them heavy), and a warm second sweep of the registry at sf0.001
recompiled 5,842 (52 s of Janino). ``DEFAULT_CONF`` sizes the cache at
4,096, the next power of two, and keeps class names free of the
codegen stage id: AQE re-optimizes after each finished stage,
concurrent stages finish in a varying order, and a stage id in the
class name turned unchanged code into a new cache key.

The cost: cached classes stay in Metaspace. After a cold registry
sweep at sf0.001 and a full GC the JVM held 210 MB of Metaspace with
this cache and 182 MB with Spark's default, about 8 KB per cached class
(a full 4,096-entry cache: about 33 MB). Stack traces name
``GeneratedIterator``, not ``GeneratedIteratorForCodegenStage<N>``;
``Dataset.debugCodegen`` still prints each class's ``codegenStageId``
comment, which maps a frame to its stage. A warm pass still compiles
code whose source differs from run to run, such as an inlined numeric
literal: 37 classes in a warm registry sweep. API reads keep their keys
out of the source (``docstore.key_predicate`` passes each key as an
array literal, a reference object), so a read of a new ``doc_id``
compiles nothing; with a plain ``doc_id == <key>`` it compiled 2
classes, and a detail request's three reads 6. ``codegen_stats`` reads
the JVM's compile count and compile seconds.
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
    # Dimension tables (region/nation/supplier/customer at test SF) are
    # broadcast; on a real cluster raise with data size, not hardcoded.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the mapInPandas/pandas_udf boundaries (multimodal, ANN).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone: testdata timestamps are naive UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
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
    # Compiled generated classes kept (Spark's default: 100). The
    # registry's working set is 3,545 classes at sf0.001 and 3,543 at
    # sf0.01, registry_mix's heavy set 120-129 (module docstring);
    # with 100 a warm heavy pass recompiled about 120 classes. Each
    # cached class holds about 8 KB of Metaspace (a full cache: about
    # 33 MB). A static conf: the JVM reads it once, when it compiles
    # its first class.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # No codegen stage id in generated class names: AQE finishes
    # concurrent stages in a varying order, so the same code got a new
    # name, a new cache key and a new compile (q_naive_bayes_lang 10-18
    # classes per warm run with the larger cache alone). Stack traces
    # lose the stage suffix; debugCodegen still prints codegenStageId.
    "spark.sql.codegen.useIdInClassName": "false",
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


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by Spark's code
    generator in this JVM since it started: the count of Janino
    compilations (``CodegenMetrics.METRIC_COMPILATION_TIME``, one
    update per codegen-cache miss) and ``CodeGenerator.compileTime``
    (nanoseconds). Take the difference of two reads to count one
    query's compiles. In local mode the executors share the driver's
    JVM, so every compile is counted; on a cluster this is the
    driver's share."""
    jvm = spark._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount())
    nanos = (jvm.org.apache.spark.sql.catalyst.expressions.codegen
             .CodeGenerator.compileTime())
    return int(compiles), nanos / 1e9


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
