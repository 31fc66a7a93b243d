"""Simulate the driver's correctness gate EXACTLY as the driver runs it.

Rounds 1 and 2 both had a "local harness passes, driver fails" incident
(q10, then q72): tools/check_oracle.py runs on the ENGINE session
(get_spark), while the driver builds its own vanilla SparkSession with
none of the engine confs and checks only the FIRST ``--limit`` entries of
``queries()`` (observed window: 50).  This tool replays that contract:

- vanilla ``SparkSession.builder.master("local[4]")`` — no engine confs;
  everything correctness-critical must self-heal at runtime
  (``ensure_engine_confs`` inside load_table) or it fails HERE first
- iterates ``queries()`` in declared order, stopping at the window limit
- DuckDB oracle compare with the same normalization as check_oracle

Usage: python tools/driver_sim.py [sf_dir] [--limit N]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import TABLES, hash_rows, norm_cell  # noqa: E402  (same dir)

SF_DEFAULT = "/root/testdata/sf0.01"


def main() -> None:
    args = [a for a in sys.argv[1:]]
    limit = 50
    if "--limit" in args:
        i = args.index("--limit")
        limit = int(args[i + 1])
        del args[i : i + 2]
    sf = args[0] if args else SF_DEFAULT

    from pyspark.sql import SparkSession

    import __spark_entry__ as ent

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, osql = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for pos, (key, fn) in enumerate(qs.items()):
        if pos >= limit:
            break
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            spdf = sdf.toPandas()  # pandas path: same as the driver
            scols = list(spdf.columns)
            srows = list(spdf.itertuples(index=False, name=None))
        except Exception:
            print(f"FAIL {key}: SPARK ERROR (vanilla session)")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if key not in osql:
            print(f"rows {key}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            dpdf = con.execute(osql[key]).df()  # pandas path: as the driver
            dcols = list(dpdf.columns)
            drows = list(dpdf.itertuples(index=False, name=None))
        except Exception:
            print(f"FAIL {key}: DUCKDB ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems and hash_rows(scols, srows) != hash_rows(dcols, drows):
            idx_s = sorted(range(len(scols)), key=lambda i: scols[i])
            idx_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            ls = sorted("|".join(norm_cell(r[i]) for i in idx_s) for r in srows)
            ld = sorted("|".join(norm_cell(r[i]) for i in idx_d) for r in drows)
            problems.append("value-hash mismatch")
            for a, b in [(a, b) for a, b in zip(ls, ld) if a != b][:3]:
                problems.append(f"  spark: {a[:200]}")
                problems.append(f"  duck : {b[:200]}")
        if problems:
            print(f"FAIL {key}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("   " + p)
            n_fail += 1
        else:
            print(f"PASS {key}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(
        f"\n== window {limit}: {n_pass} pass / {n_fail} fail / "
        f"{n_rows_only} rows-only =="
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
