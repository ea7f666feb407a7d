"""The driver JVM's class-data-sharing archive (``session.get_spark``,
module docstring "Session start"). Each start runs in a fresh Python
process with its own cache directory (``XDG_CACHE_HOME``), so the
archive it builds or reads is the test's own."""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from document_parsing_etl_pipeline_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One session start; prints one JSON line: the gateway JVM's pid, this
# process's pid, the SparkConf, and whether SPARK_CONF_DIR is set after
# the start. argv: extra_conf as JSON, then what to do after the first job: "exit",
# "kill-jvm" (SIGKILL the JVM, then exit normally) or "kill-self"
# (SIGKILL this process, so no exit hook runs).
_START = """
import json, os, signal, sys
sys.path.insert(0, {root!r})
from document_parsing_etl_pipeline_spark.session import get_spark
extra = dict(json.loads(sys.argv[1]), **{{"spark.driver.memory": "1g"}})
spark = get_spark("cds-test", master="local[1]", extra_conf=extra)
spark.range(1).collect()
sc = spark.sparkContext
pid = sc._gateway.proc.pid
print(json.dumps({{"pid": pid, "self": os.getpid(),
                  "conf": dict(sc.getConf().getAll()),
                  "conf_dir_set": "SPARK_CONF_DIR" in os.environ}}),
      flush=True)
if sys.argv[2] == "kill-jvm":
    os.kill(pid, signal.SIGKILL)
elif sys.argv[2] == "kill-self":
    os.kill(os.getpid(), signal.SIGKILL)
""".format(root=ROOT)

_OPTS = "spark.driver.extraJavaOptions"


def _start(cache, extra=None, then="exit", env=None):
    """(result of one start, the process's whole stdout)."""
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), **(env or {})}
    out = subprocess.run(
        [sys.executable, "-c", _START, json.dumps(extra or {}), then],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300).stdout
    return json.loads(out.splitlines()[0]), out


def _cds_dir(cache) -> str:
    return os.path.join(str(cache), session.__package__, "cds")


def _archive(cache) -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_cds_dir(cache),
                        f"{session._archive_key(_find_spark_home())}.jsa")


def _gone(pid: int, timeout_s: float = 60) -> bool:
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.2)
    return False


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache whose archive the first (dumping) start built: (cache,
    that start's result, its stdout). Starts need an unset
    ``SPARK_CONF_DIR`` to use the archive at all."""
    if any(v in os.environ for v in session._CLASSPATH_ENV):
        pytest.skip("the classpath holds more than Spark's jars here")
    cache = tmp_path_factory.mktemp("cds-cache")
    res, out = _start(cache)
    yield cache, res, out
    shutil.rmtree(cache, ignore_errors=True)


def test_dumping_start_publishes_quietly_and_leaves_no_process(built):
    """The first start dumps with ``-XX:ArchiveClassesAtExit`` into a
    ``.part`` file, prints nothing from the JVM to stdout (the dump's
    warnings are off), restores the environment, and by the time its
    process has exited the JVM is gone and the archive is published
    under its final name with no ``.part`` left."""
    cache, res, out = built
    assert out.splitlines() == [out.splitlines()[0]]
    assert "-XX:ArchiveClassesAtExit=" in res["conf"][_OPTS]
    assert not res["conf_dir_set"]
    assert _gone(res["pid"], 0.1)
    assert sorted(os.listdir(_cds_dir(cache))) == [
        os.path.basename(_archive(cache)), "conf"]
    assert os.listdir(os.path.join(_cds_dir(cache), "conf")) == []


def test_second_start_maps_the_archive(built, tmp_path):
    """A fresh start after the dump loads most of its classes from the
    archive's top layer, and keeps the caller's own JVM options in
    front of the archive's."""
    cache, _, _ = built
    log = tmp_path / "class-load.log"
    res, _ = _start(cache, {_OPTS: f"-Xlog:class+load:file={log}"})
    opts = res["conf"][_OPTS]
    assert f"-XX:SharedArchiveFile={_archive(cache)}" in opts
    assert opts.index("-Xlog:class+load") < opts.index("-XX:SharedArchive")
    text = log.read_text()
    shared = text.count("source: shared objects file (top)")
    jars = text.count("source: jar:") + text.count("source: file:")
    assert shared > 2000 and shared > 3 * jars, (shared, jars)


def test_archive_start_has_the_conf_of_a_plain_start(built):
    """The empty conf directory changes no setting: the SparkConf of a
    start from the archive equals that of a start with Spark's own conf
    directory (``SPARK_CONF_DIR`` set, so no archive is used), apart
    from the application id, ports, start time and the JVM options."""
    from pyspark.find_spark_home import _find_spark_home

    cache, res, _ = built
    plain, _ = _start(cache, env={
        "SPARK_CONF_DIR": os.path.join(_find_spark_home(), "conf")})
    assert "Archive" not in plain["conf"].get(_OPTS, "")
    assert res["conf"][_OPTS].startswith(plain["conf"].get(_OPTS, ""))

    def settings(conf):
        return {k: v for k, v in conf.items() if k not in (
            "spark.app.id", "spark.app.startTime", "spark.app.submitTime",
            "spark.driver.port", _OPTS)}

    assert settings(res["conf"]) == settings(plain["conf"])


def test_garbage_archive_still_starts(tmp_path, spark):
    """A file of garbage at the archive's name is refused by the JVM,
    and the start goes on without it. A process whose gateway is up
    plans no archive."""
    if any(v in os.environ for v in session._CLASSPATH_ENV):
        pytest.skip("the classpath holds more than Spark's jars here")
    os.makedirs(_cds_dir(tmp_path))
    with open(_archive(tmp_path), "wb") as f:
        f.write(b"not an archive " * 4096)
    res, _ = _start(tmp_path)
    assert "-XX:SharedArchiveFile=" in res["conf"][_OPTS]
    assert session._archive_plan() is None


def test_killed_dump_publishes_nothing(tmp_path):
    """A dump that ends before its archive is published leaves nothing
    at the final name, and the next start builds a new archive instead
    of reading the ``.part``: the process killed before its exit hook
    ran (its JVM still writes the ``.part``), then a JVM killed while
    its process lives (the hook sees the failed exit and removes the
    ``.part``)."""
    if any(v in os.environ for v in session._CLASSPATH_ENV):
        pytest.skip("the classpath holds more than Spark's jars here")
    first, _ = _start(tmp_path, then="kill-self")
    assert _gone(first["pid"])
    assert not os.path.exists(_archive(tmp_path))
    second, _ = _start(tmp_path, then="kill-jvm")
    assert "-XX:ArchiveClassesAtExit=" in second["conf"][_OPTS]
    assert _gone(second["pid"])
    key = os.path.basename(_archive(tmp_path))[:-len(".jsa")]
    assert sorted(os.listdir(_cds_dir(tmp_path))) == [
        f"{key}.{first['self']}.part", "conf"]
