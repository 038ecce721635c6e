"""Simulate the driver's CORRECTNESS gate: vanilla SparkSession (no engine
profile confs), sf0.01, every queries() entry run and hash-compared against
its oracle_sql() in DuckDB. Catches anything that only works under our own
session factory (the round-1 failure mode).

Usage: python tools/driver_sim.py [names...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    # Vanilla session, mirroring the driver: no engine profile.
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    import __spark_entry__ as e
    from tests.oracle_harness import compare

    queries = e.queries()
    oracles = e.oracle_sql()
    only = set(sys.argv[1:])

    results: dict[str, dict] = {}
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            if name in oracles:
                compare(df, con, oracles[name])
                status = "hash_match"
            else:
                n = df.count()
                status = f"rows_only({n})"
        except Exception as ex:  # noqa: BLE001
            status = "FAIL"
            results[name] = {"status": status, "err": traceback.format_exc(limit=5)}
            print(f"FAIL {name}: {ex}", flush=True)
            continue
        results[name] = {"status": status, "sec": round(time.time() - t0, 2)}
        print(f"ok   {name}: {status} ({results[name]['sec']}s)", flush=True)

    fails = [n for n, r in results.items() if r["status"] == "FAIL"]

    # Self-documenting timing outliers (round-5): the sim's per-query
    # seconds include sweep-position effects (first-touch JIT, Arrow
    # worker spin-up, a predecessor's cache eviction), which made r04's
    # slowest rows unexplainable from the artifact alone. Re-run the
    # top-5 slowest once, warm, and record the verdict inline.
    ok_names = [n for n, r in results.items() if r["status"] != "FAIL"]
    for name in sorted(
        ok_names, key=lambda n: -results[n].get("sec", 0)
    )[:5]:
        t0 = time.time()
        try:
            df = queries[name](spark, SF_DIR)
            if name in oracles:
                compare(df, con, oracles[name])
            else:
                df.count()
        except Exception:  # noqa: BLE001 — note stays best-effort
            continue
        rerun = round(time.time() - t0, 2)
        first = results[name]["sec"]
        results[name]["sec_rerun"] = rerun
        results[name]["timing_note"] = (
            "sweep-position cold cost (warm rerun is "
            f"{rerun}s vs {first}s first run)"
            if rerun < first * 0.67
            else "intrinsic (warm rerun within 1.5x of first run)"
        )

    out_path = os.environ.get("SPARK_GRAFT_SIM_OUT")
    if out_path:
        # Committed round artifact (SIM_r{N}.json) so the sim results the
        # round's claims rest on are auditable/diffable next round.
        with open(out_path, "w") as fh:
            json.dump(
                {"sf_dir": SF_DIR, "total": len(results),
                 "fails": fails, "results": results},
                fh, indent=1, sort_keys=True,
            )
    print(json.dumps({"total": len(results), "fails": fails}))
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
