"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count + order-insensitive value hash.

Full runs (no query filter) also write VALIDATION.json next to
__spark_entry__.py — the committed proof that the WHOLE registry was
hash-validated, not just the driver's 50-entry window.

Usage: python scripts/validate.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_parsing_etl_pipeline_spark.catalog import TABLES
from document_parsing_etl_pipeline_spark.session import get_spark
from __spark_entry__ import oracle_sql, queries


def normalize(rows, columns):
    """Sort columns by name, then rows, stringify values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                # repr = shortest round-trip form: two distinct doubles
                # ALWAYS stringify differently, matching the driver's
                # full-precision hash. The old %.6g collapsed
                # 3509.4199/3509.4203 (the r08 q_gumbel_maxima driver
                # FAIL passed this gate) — the local gate must be at
                # least as strict as the driver.
                v = repr(v)
            elif isinstance(v, bytes):
                v = v.hex()
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("validate")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single parquet FILES; derived corpora
        # (scaling_probe's /tmp/sf1eq etc.) are Spark-written parquet
        # DIRECTORIES — glob those for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    qs, oracles = queries(), oracle_sql()
    failed = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failed.append(name)
            results[name] = {"status": "spark_error",
                             "err": str(e)[:200]}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(srows),
                             "secs": round(time.time() - t0, 2)}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failed.append(name)
            results[name] = {"status": "duckdb_error",
                             "err": str(e)[:200]}
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failed.append(name)
            results[name] = {"status": "column_mismatch"}
            continue
        sn, on = normalize(srows, scols), normalize(orows, ocols)
        if len(sn) != len(on):
            print(f"FAIL {name}: rowcount {len(sn)} != {len(on)}")
            failed.append(name)
            results[name] = {"status": "rowcount_mismatch",
                             "spark_rows": len(sn), "oracle_rows": len(on)}
        elif sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failed.append(name)
            results[name] = {"status": "value_mismatch", "rows": len(sn)}
        else:
            print(f"ok   {name}: {len(sn)} rows match ({time.time()-t0:.1f}s)")
            results[name] = {"status": "hash_pass", "rows": len(sn),
                             "secs": round(time.time() - t0, 2)}
    n_run = len(results)
    print(f"\n{n_run - len(failed)}/{n_run} queries pass")
    if not only:
        # full-registry run → commit-able artifact
        out = {
            "sf_dir": sf_dir,
            "generated_utc": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(timespec="seconds"),
            "n_queries": n_run,
            "n_pass": n_run - len(failed),
            "n_fail": len(failed),
            "results": results,
        }
        path = os.path.join(os.path.dirname(__file__), "..",
                            "VALIDATION.json")
        with open(os.path.abspath(path), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote VALIDATION.json ({n_run} queries)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
