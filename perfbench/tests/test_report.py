"""Output contract of the benchmark: the printed summary stays inside
its byte budget in the worst case, the result line has exactly the
contract's keys, and BENCHMARK.json names what the code reports.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
from report import (  # noqa: E402
    END_TO_END, PER_LAYER, SUMMARY_BUDGET, result_line, summary_line,
)

WORKLOADS = ("paper_path", "registry_mix")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_worst_case_summary_fits_budget():
    # every metric with a long value, every workload, and far more
    # (and longer) failure messages than any run produces
    results = {
        wl: {
            "metrics": {k: 123456789.123456789 for k in END_TO_END},
            "attempted": 10**9, "failed": 10**9,
            "failures": [f"doc {i} " + "x" * 300 for i in range(5000)],
        }
        for wl in WORKLOADS
    }
    meta = {"nproc": 512, "load1": "1234.56/1234.56",
            "master": "local[512]", "shuffle_partitions": 100000,
            "seed": 2**63, "seconds": 60.0, "trace": 1,
            "commit": "src-" + "f" * 40}
    line = summary_line(results, meta)
    assert "\n" not in line
    assert len(line.encode()) < SUMMARY_BUDGET
    for wl in WORKLOADS:
        assert f"{wl}:" in line
    for k, unit in END_TO_END.items():
        assert f"{k}=" in line and unit in line
    assert "more" in line  # the cut is announced, not silent


def test_result_line_has_exactly_the_contract_keys():
    for units in (END_TO_END, PER_LAYER):
        line = result_line(True, 3, 1, dict.fromkeys(units, 1.5), units)
        obj = json.loads(line)
        assert set(obj) == {"correct", "attempted", "failed", "metrics"}
        assert set(obj["metrics"]) == set(units)
        assert all(set(v) == {"value", "unit"} for v in obj["metrics"].values())


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_corpus_is_seeded_and_expectations_follow_the_chunk_contract():
    a, b = corpus.make_documents(7, 300), corpus.make_documents(7, 300)
    assert a.docs == b.docs and a.n_chunks == b.n_chunks
    assert corpus.make_documents(8, 300).docs != a.docs
    for d in a.docs:
        n = len(d["text"])
        full = max(n - 1, 0) // corpus.CHUNK_SIZE + 1
        tail = n - (full - 1) * corpus.CHUNK_SIZE
        want = full - (1 if full > 1 and tail < corpus.MIN_CHUNK else 0)
        assert a.n_chunks[d["doc_id"]] == want
    stats = a.realised()
    assert stats["max_chunks_per_doc"] >= 10  # tens of chunks occur
    assert min(a.n_chunks.values()) == 1
    assert all(v > 0 for v in a.entities.values())
    assert stats["charts_per_doc"] > 0


def test_stop_jvm_ends_and_waits_for_every_child():
    import subprocess
    import time

    import harness
    import pytest
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        pytest.skip("stop_jvm would end the Spark session other tests share")
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(120)"])
    # a process two levels down, as Spark's Python workers are
    shell = subprocess.Popen(["bash", "-c", "sleep 120 & wait"])
    deadline = time.monotonic() + 10
    while not harness._descendants(shell.pid):
        assert time.monotonic() < deadline
        time.sleep(0.01)
    below = harness._descendants(os.getpid())
    assert len(below) >= 3
    harness.stop_jvm(timeout_s=0.2)
    assert child.poll() is not None and shell.poll() is not None
    assert not any(harness._alive(p, s) for p, s in below.items())
