"""Measure the round-13 append-refresh path against a full rebuild.

Builds a directory-table corpus from the sf0.1 documents (standing
90%), appends the remaining 10% as new files, and times:
  build_sec    — initial artifact build (pairs + components),
  refresh_sec  — incremental refresh after the append (batch pairs +
                 contraction, pairs committed as a table APPEND),
  rebuild_sec  — from-scratch build of a fresh store over the grown
                 corpus (what every append cost before round 13).
Writes one JSON line + REFRESH_BENCH_r13.json.

Usage: python scripts/refresh_bench.py [out.json] [docs_parquet]
(docs_parquet defaults to the sf0.1 documents table; pass the sf1eq
derived corpus's documents dir for the pair-heavy regime where the
avoided re-pairing dominates.)
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_parsing_etl_pipeline_spark.session import get_spark


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "REFRESH_BENCH_r14.json"
    docs_src = sys.argv[2] if len(sys.argv) > 2 else \
        "/root/testdata/sf0.1/documents.parquet"
    spark = get_spark()
    from document_parsing_etl_pipeline_spark.plans import queries as Q
    from document_parsing_etl_pipeline_spark.sources import artifacts

    work = tempfile.mkdtemp(prefix="refresh_bench_")
    try:
        src = os.path.join(work, "corpus")
        docs_dir = os.path.join(src, "documents.parquet")
        base = spark.read.parquet(docs_src)
        n_docs = base.count()
        hi = base.agg({"doc_id": "max"}).collect()[0][0]
        cut = int(hi * 0.9)
        base.where(f"doc_id < {cut}").repartition(8).write.parquet(docs_dir)

        store = os.path.join(work, "store")
        os.environ["SPARK_GRAFT_ARTIFACTS"] = store
        Q._NEARDUP_MEMO.clear()
        artifacts.REFRESH_EVENTS.clear()
        t0 = time.time()
        Q._standing_setsim_pairs(spark, src).count()
        n1 = Q._standing_setsim_components(spark, src).count()
        Q._standing_setsim_index(spark, src)  # standing index too
        build_sec = round(time.time() - t0, 3)
        # round 14: the capped-LSH verified-candidate family too
        from document_parsing_etl_pipeline_spark.plans import (
            _prelude as P,
        )
        t0 = time.time()
        v1 = P._verified_candidates(spark, src).count()
        P._jaccard_pairs(spark, src).count()
        vbuild_sec = round(time.time() - t0, 3)

        base.where(f"doc_id >= {cut}").repartition(2).write.mode(
            "append").parquet(docs_dir)
        Q._NEARDUP_MEMO.clear()
        artifacts.REFRESH_EVENTS.clear()
        t0 = time.time()
        Q._standing_setsim_pairs(spark, src).count()
        n2 = Q._standing_setsim_components(spark, src).count()
        refresh_sec = round(time.time() - t0, 3)
        modes = {e["name"]: e["mode"] for e in artifacts.REFRESH_EVENTS}
        assert modes.get("setsim_pairs") == "refresh", modes
        assert modes.get("setsim_components") == "refresh", modes
        t0 = time.time()
        v2 = P._verified_candidates(spark, src).count()
        P._jaccard_pairs(spark, src).count()
        vrefresh_sec = round(time.time() - t0, 3)
        modes = {e["name"]: e["mode"] for e in artifacts.REFRESH_EVENTS}
        # "refresh" when the cap-stability gate passes at this split;
        # recorded (not asserted) — a cap/bucket drift is the honest
        # rebuild fallback
        vmode = modes.get("neardup_verified")

        # from-scratch over the grown corpus, fresh store
        store2 = os.path.join(work, "store2")
        os.environ["SPARK_GRAFT_ARTIFACTS"] = store2
        Q._NEARDUP_MEMO.clear()
        t0 = time.time()
        Q._standing_setsim_pairs(spark, src).count()
        n3 = Q._standing_setsim_components(spark, src).count()
        Q._standing_setsim_index(spark, src)  # index rebuilt too
        rebuild_sec = round(time.time() - t0, 3)
        assert n2 == n3, (n2, n3)
        t0 = time.time()
        v3 = P._verified_candidates(spark, src).count()
        P._jaccard_pairs(spark, src).count()
        vrebuild_sec = round(time.time() - t0, 3)
        assert v2 == v3, (v2, v3)

        out = {
            "metric": "artifact_refresh_vs_rebuild",
            "docs_src": docs_src,
            "n_docs": n_docs, "standing_docs": cut,
            "appended_docs": n_docs - cut,
            "build_sec": build_sec,
            "refresh_sec": refresh_sec,
            "rebuild_sec": rebuild_sec,
            "speedup": round(rebuild_sec / refresh_sec, 2)
            if refresh_sec else None,
            "component_rows": {"standing": n1, "grown": n2},
            "verified_candidates": {
                "build_sec": vbuild_sec,
                "refresh_sec": vrefresh_sec,
                "rebuild_sec": vrebuild_sec,
                "refresh_mode": vmode,
                "speedup": round(vrebuild_sec / vrefresh_sec, 2)
                if vrefresh_sec else None,
                "rows": {"standing": v1, "grown": v2},
            },
        }
        print(json.dumps(out))
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    finally:
        os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
