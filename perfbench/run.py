"""Benchmark of the document ETL engine: the paper's ingest → doc store
→ API → watcher path, and a registry query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload paper_path --seed 1 --seconds 6 --trace 0

Each run starts one Spark session through the program's session
factory, builds its inputs from ``--seed``, repeats the cheap input
set-up three times and does the one-off warm-up once (``setup_s`` is the
session start, plus the median input set-up, plus the warm-up), measures
an amount of work sized from ``--seconds`` (a fixed count per run, not
a deadline, so a slow run measures the same operations as a fast one),
checks the program's outputs outside the timed region, and prints two
lines: a compact summary, then the result object. ``--trace 1`` records
bench-side spans and Spark counters and prints the per-layer metrics
instead of the end-to-end ones; ``trace.overhead_share`` is the share of
the measured time spent in that instrumentation, and the report file
compares the traced run's end-to-end numbers with the last untraced
run of the same workload and seed. Full detail, per-layer data and the
trace go to ``.perfbench_out/<workload>-seed<n>-trace<t>.json``.

End-to-end metrics, per workload (``WHY`` says why each exists):

- ``throughput_per_s``: paper_path, documents per second of one batch
  ingest (median over ingests); registry_mix, heavy-set queries per
  second.
- ``latency_ms``: the geometric mean, over request or query types, of
  each type's median latency (so every type weighs the same and the
  figure does not jump between types as a pooled median does):
  paper_path, the four API request types; registry_mix, the light-set
  queries. Pooled p50, p90 and the sample count go to the report file:
  a run holds tens of samples, too few for a p90 with ten samples
  beyond it.
- ``ok_op_share``: operations and output checks that succeeded, over
  those attempted. Mutations lost across a reopen count as failed; the
  ``correct`` flag covers wrong answers only.
- ``setup_s``: see above.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# the cheap, repeatable part of set-up runs this many times and
# ``setup_s`` takes its median
SETUP_REPS = 3

WHY = {
    "paper_path": "the paper's path in one session: batch ingest into the "
                  "doc store, then one-client API reads over it (the traced "
                  "run adds uploads through the watcher); per-request and "
                  "per-file fixed cost",
    "registry_mix": "light doc-store/parse and heavy text-analytics "
                    "registry queries in seeded order; construction, "
                    "planning and exchanges dominate",
}


def source_id() -> str:
    """The git commit when run from a clone, else a hash of the
    program's sources (a checkout need not be a repository; git is not
    asked then, since it would search the directories above)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                                 cwd=ROOT, capture_output=True, text=True,
                                 timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "document_parsing_etl_pipeline_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(p, "rb") as f:
            h.update(f.read())
    return "src-" + h.hexdigest()[:10]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program must be importable; a directory holding only the
    # benchmark fails here, before any result is printed
    import document_parsing_etl_pipeline_spark.processor  # noqa: F401

    import harness
    import wl_paper_path
    import wl_registry
    from report import END_TO_END, PER_LAYER, median, result_line, summary_line
    from tracing import Tracer

    module = {"paper_path": wl_paper_path,
              "registry_mix": wl_registry}[args.workload]
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run = harness.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace),
        work_dir=harness.fresh_dir(os.path.join(OUT_DIR, f"work-{tag}-{os.getpid()}")),
        tracer=Tracer(False),
    )
    load_start = os.getloadavg()[0]
    t_run = time.perf_counter()
    try:
        spark = harness.start_session(run)
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            state = module.setup(run)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        state = module.warm(run, state)
        warm = time.perf_counter() - t
        run.metrics["setup_s"] = (run.layers["session.start_s"]
                                  + median(setups) + warm)
        run.detail["setup_reps_s"] = setups
        run.detail["warm_s"] = warm
        run.tracer = Tracer(run.trace)
        run.overhead_s = 0.0
        t_measure = time.perf_counter()
        module.measure(run, state)
        measured = time.perf_counter() - t_measure
        shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        try:
            harness.stop_session(run)
        finally:
            shutil.rmtree(run.work_dir, ignore_errors=True)
    run.metrics["ok_op_share"] = (run.attempted - run.failed) / run.attempted

    meta = {
        "nproc": os.cpu_count(),
        "load1": f"{load_start:.2f}/{os.getloadavg()[0]:.2f}",
        "master": harness.MASTER,
        "shuffle_partitions": shuffle_partitions,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": source_id(),
    }
    if run.trace:
        run.layers["trace.overhead_share"] = run.overhead_s / measured
        untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            run.detail["traced_vs_untraced"] = {
                k: run.metrics[k] / base[k] - 1 for k in END_TO_END
                if base.get(k)}
    summary = summary_line(
        {args.workload: {"metrics": run.metrics, "failed": run.failed,
                         "attempted": run.attempted, "failures": run.failures}},
        meta)
    report = {
        "workload": args.workload, "why": WHY[args.workload], "meta": meta,
        "attempted": run.attempted, "failed": run.failed, "wrong": run.wrong,
        "failures": run.failures, "metrics": run.metrics,
        "layers": run.layers, "detail": run.detail,
        "run_s": time.perf_counter() - t_run,
        "self_s": {k: sum(v) for k, v in run.tracer.self_seconds().items()},
        "spans": run.tracer.export(t_measure) if run.trace else [],
    }
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    units = PER_LAYER if run.trace else END_TO_END
    values = run.layers if run.trace else run.metrics
    print(summary)
    print(result_line(run.wrong == 0, run.attempted, run.failed,
                      values, units))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its session and JVM (main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:  # report and exit non-zero without a result line
        traceback.print_exc()
        sys.exit(1)
