"""Run context shared by the workloads: the Spark session, the work
directory, the tracer, the operation tally and the layer metrics."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from report import PER_LAYER
from tracing import SparkCounters, Tracer

# Two task threads on a four-core box leave cores for the driver, the
# JIT and GC; with four, run-to-run spread was wider and no run faster.
MASTER = "local[2]"
DRIVER_MEMORY = "2g"


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    tracer: Tracer = None
    spark: object = None
    counters: SparkCounters = None
    attempted: int = 0
    failed: int = 0
    # checks of the program's outputs that went wrong (wrong answers
    # and errors); known durability losses are tallied apart
    wrong: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0))
    detail: dict = field(default_factory=dict)
    overhead_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    # ------------------------------------------------ operation tally

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, msg: str, wrong_answer: bool = True) -> None:
        self.attempted += 1
        self.failed += 1
        if wrong_answer:
            self.wrong += 1
        self.failures.append(msg)

    def check(self, cond: bool, msg: str) -> None:
        """One correctness check, outside any timed region."""
        if cond:
            self.ok()
        else:
            self.fail(msg)

    @contextmanager
    def op(self, label: str):
        """A timed operation: an exception counts as a failed
        operation and the run continues."""
        try:
            yield
        except Exception as e:  # the run must go on and report it
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{label}: {type(e).__name__}: {str(e)[:80]}")

    # ------------------------------------------------ instrumentation

    @contextmanager
    def instrumenting(self):
        """Time spent in bench-side instrumentation (counter reads,
        plan walks); reported as the tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def stage_totals(self) -> dict:
        with self.instrumenting():
            return self.counters.stage_totals()

    def record_stage_totals(self, before: dict) -> None:
        """Executor totals since ``before`` as the ``spark.*`` layer."""
        after = self.stage_totals()
        self.layers.update({f"spark.{k}": after[k] - before[k] for k in after})


def start_session(run: Run):
    """Start Spark through the program's session factory, with every
    file it writes kept inside the work directory."""
    from document_parsing_etl_pipeline_spark.session import get_spark

    tmp = run.path("tmp")
    local = run.path("spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM this process starts keeps its temp files (and no
    # hsperfdata) out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        # keep every stage and job in the status store for the totals
        conf.update({
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        })
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{run.workload}", master=MASTER,
                      extra_conf=conf)
    spark.range(1).collect()
    run.layers["session.start_s"] = time.perf_counter() - t
    run.spark = spark
    run.counters = SparkCounters(spark)
    return spark


def stop_session(run: Run) -> None:
    """Stop the queries and the session, then the JVM behind it."""
    try:
        if run.spark is not None:
            try:
                for q in run.spark.streams.active:
                    q.stop()
            finally:
                run.spark.stop()
    finally:
        run.spark = None
        stop_jvm()


def _descendants(pid: int) -> dict[int, str]:
    """pid -> start time of every live process below ``pid``."""
    parent, start = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(p)] = int(fields[1])
        start[int(p)] = fields[19]
    out, todo = {}, [pid]
    while todo:
        ppid = todo.pop()
        for p, pp in parent.items():
            if pp == ppid and p not in out:
                out[p] = start[p]
                todo.append(p)
    return out


def _alive(pid: int, start: str) -> bool:
    """Whether ``pid`` is still the process that started at ``start``
    and has not exited (ours are reaped here; a zombie of another
    parent runs nothing and does not count)."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except OSError:  # not our child
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def _wait_gone(procs: dict[int, str], timeout_s: float) -> dict[int, str]:
    """Wait up to ``timeout_s`` for ``procs`` to end; the ones left."""
    deadline = time.monotonic() + timeout_s
    while True:
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs or time.monotonic() > deadline:
            return procs
        time.sleep(0.05)


def stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM that pyspark launched and every process below this
    one (Python workers included), and wait until each has ended. Left
    alone, the JVM outlives this process: it only exits once it sees
    its stdin close, and then runs its shutdown hooks."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits at end of input
            proc.wait(timeout_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    left = _wait_gone(kids, timeout_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        left = _wait_gone(left, 10)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
