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

Session start. Every process pays a driver JVM start before its first
document, and most of it is class loading. A ``get_spark`` that
launches the JVM (the first of a process, or the first after the
gateway was stopped) starts it from a dynamic class-data-sharing (CDS)
archive of JDK 17: the classes a session start loads are mapped from
the archive instead of being read, parsed and verified from Spark's
jars. Through perfbench (fresh processes, local[2], 2g driver, 4-core
box): ``getOrCreate`` plus the first job 3.76 s plain and 2.33 s from
the archive (traced ``session.start_s``, seed 7); the driver JVM then
loads 8,201 classes from the archive and 6,413 from jars, against
13,384 from jars plain.

The archive lives outside the checkout, so a fresh checkout reuses it:
``$XDG_CACHE_HOME/<package>/cds/`` (else ``~/.cache/...``), named
``<key>.jsa``. The key hashes stat-only facts, so no ``java -version``
runs per start: the real path of the JDK that ``spark-class`` runs,
the size and mtime of its ``release`` and ``libjvm.so``, and the names
and sizes of Spark's jars. Driver memory is not in the key: the
figures above are perfbench's 2g driver on an archive the test
suite's 8g driver dumped. An archive holds the classes its dumping process loaded before it
exited, so what ran first on a machine sets its gain: 99 MB dumped by
a short pytest session, 172 MB by a ``paper_path`` bench leg, whose
next legs then set up in 5.0-5.1 s and 4.4 s (6.7 s plain). Publishing
an archive deletes the archives of other keys.

The first start that finds no archive builds it: the JVM runs with
``-XX:ArchiveClassesAtExit=<key>.<pid>.part`` and writes the file as
it exits. A cold ``paper_path`` leg set up in 8.3 s against 6.7 s
plain, and its process ran 5.3 s longer (21.2 against 15.9 s), the
rest of it the dump at JVM exit. The ``.part`` is renamed to the final
name with ``os.replace`` only after its JVM exited with code 0:
perfbench's ``stop_jvm`` waits for the JVM, and in a process that does
not, an exit hook ends it the same way (stdin closed, a bounded wait).
A file is never visible at the final name before it is whole, because
a JVM that maps a truncated archive (the first 1 MB of a real one)
dies of SIGBUS and pyspark reports ``JAVA_GATEWAY_EXITED``; a file of
garbage, in contrast, is refused and the start goes on without it. A
``.part`` is never read. The dump writes hundreds of warnings (543
lines after a bare session start, most of them "Pre JDK 6 class not
supported by CDS") to the JVM's stdout, which is this process's
stdout: ``-Xlog:cds=off -Xlog:cds+dynamic=off`` turn them off (on a
start from the archive too).

JDK 17 refuses to dump with a non-empty directory on the classpath
("Cannot have non-empty directory in paths"), and an archive dumped
with an empty conf directory is ignored when the real one is on the
classpath. Spark puts its conf directory there, so both the dump and
the use launch the gateway with ``SPARK_CONF_DIR`` pointing at an
empty directory under the cache; ``os.environ`` is restored after.
That is done only when ``SPARK_CONF_DIR`` is unset and
``$SPARK_HOME/conf`` holds nothing but ``*.template`` files, which
Spark does not read, so the session's settings are the same. The
archive is not used, and the start is the same as without it, when a
gateway is already up (``getOrCreate`` reuse, or a vanilla session
started first), when ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
``SPARK_DIST_CLASSPATH`` add to the classpath, when the cache cannot
be written, or after this process started a dumping JVM. The
caller's ``spark.driver.extraJavaOptions`` is kept; the archive's
options follow it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import SparkContext, inheritable_thread_target
from pyspark.find_spark_home import _find_spark_home
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
    """Build (or reuse) a SparkSession with the engine's defaults. A
    start that launches the driver JVM starts it from the class-data
    archive when one is published, and builds one otherwise (module
    docstring, "Session start")."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    plan = _archive_plan()
    if plan is not None:
        opts, conf_dir, dump = plan
        key = "spark.driver.extraJavaOptions"
        conf[key] = " ".join(filter(None, (conf.get(key), opts)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if plan is None:
        spark = builder.getOrCreate()
    else:
        spark = _launch(builder, conf_dir, dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Class-data-sharing archive of the driver JVM (module docstring,
# "Session start"). Set, each of these puts something besides Spark's
# jars and the empty conf directory on the classpath; a non-empty
# directory there stops a dumping JVM at start.
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH")
# the dump's warnings (hundreds of lines) go to the JVM's stdout,
# which is this process's stdout
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# seconds the exit hook waits for a dumping JVM to end (the dump takes
# about 4 s)
_DUMP_WAIT_S = 120
# (.part path, archive path) of the dumping JVM this process started;
# a process starts one at most
_DUMPS: list[tuple] = []


def _archive_plan() -> tuple[str, str, tuple | None] | None:
    """(java options, empty conf directory, dump) for a start that
    launches the driver JVM from the archive (dump ``None``) or builds
    it (dump ``(.part path, archive path)``); ``None`` to start as
    without an archive: a gateway is already up, something else is on
    the classpath, or the cache cannot be written."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or any(v in os.environ for v in _CLASSPATH_ENV)):
        return None
    home = _find_spark_home()
    conf = os.path.join(home, "conf")
    if os.path.isdir(conf) and not all(
            n.endswith(".template") for n in os.listdir(conf)):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME")
        or os.path.join(os.path.expanduser("~"), ".cache"),
        __package__, "cds")
    empty = os.path.join(cache, "conf")
    key = _archive_key(home)
    try:
        os.makedirs(empty, exist_ok=True)
        if (key is None or os.listdir(empty)
                or not os.access(cache, os.W_OK | os.X_OK)
                or any(c.isspace() or c in "'\"\\" for c in cache)):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", empty, None
    if _DUMPS:  # this process's dump is published at its exit
        return None
    part = os.path.join(cache, f"{key}.{os.getpid()}.part")
    return (f"-XX:ArchiveClassesAtExit={part} {_CDS_QUIET}", empty,
            (part, archive))


def _archive_key(spark_home: str) -> str | None:
    """A hash of stat-only facts about what the driver JVM loads: the
    JDK that ``spark-class`` runs (its real path, and the size and
    mtime of ``release`` and ``libjvm.so``) and Spark's jars (names and
    sizes); ``None`` when one cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java:
        return None
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    facts = [jdk]
    try:
        for f in ("release", os.path.join("lib", "server", "libjvm.so")):
            st = os.stat(os.path.join(jdk, f))
            facts.append(f"{f} {st.st_size} {st.st_mtime_ns}")
        with os.scandir(os.path.join(spark_home, "jars")) as jars:
            facts += sorted(f"{e.name} {e.stat().st_size}" for e in jars
                            if e.name.endswith(".jar"))
    except OSError:
        return None
    return hashlib.sha256("\n".join(facts).encode()).hexdigest()[:24]


def _launch(builder, conf_dir: str, dump: tuple | None) -> SparkSession:
    """``builder.getOrCreate()`` with ``SPARK_CONF_DIR`` set to the
    empty conf directory while the gateway launches; a dumping JVM is
    recorded for the exit hook to publish its archive."""
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if dump is not None:
            _remove(dump[0])
        raise
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if dump is not None:
        _DUMPS.append(dump)
        atexit.register(_publish_at_exit, os.getpid(),
                        SparkContext._gateway.proc, *dump)
    return spark


def _publish_at_exit(pid: int, proc: subprocess.Popen, part: str,
                     archive: str) -> None:
    """End the dumping JVM the way pyspark's JVM ends (stdin closed,
    then it exits and writes the archive), killing it if it is not gone
    in ``_DUMP_WAIT_S``, and publish its archive. A JVM that
    ``stop_jvm`` already waited for has ended."""
    if pid != os.getpid():  # a forked child does not own the JVM
        return
    if proc.poll() is None:
        try:
            proc.stdin.close()
            proc.wait(_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _publish(proc.returncode, part, archive)


def _publish(returncode: int, part: str, archive: str) -> None:
    """Rename a finished dump to the archive's name, only once its JVM
    exited with code 0: a JVM that maps a partly written archive dies
    of SIGBUS, so no reader may see the file before it is whole. A
    published archive replaces the archives of other keys and the
    leftover parts of ended processes; a failed dump's part is
    removed."""
    if returncode != 0 or not os.path.isfile(part):
        _remove(part)
        return
    os.replace(part, archive)
    with os.scandir(os.path.dirname(archive)) as entries:
        for e in entries:
            if (e.is_file() and e.path != archive
                    and not (e.name.endswith(".part")
                             and _alive(e.name.rsplit(".", 2)[-2]))):
                _remove(e.path)


def _alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except OSError:  # alive, owned by another user
        pass
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


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
