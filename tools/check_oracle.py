"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a given sf dir and the matching
``oracle_sql()`` on DuckDB over the same parquet files, then compares
row count, sorted column names, and an order-insensitive value hash
(cells normalized: floats by exact repr, timestamps/dates by str, arrays
recursively; rows sorted lexicographically before hashing).

Both result sets are pulled through **pandas** (``toPandas()`` /
``.df()``) because that is how the driver's comparator materializes them
(its q116 crash traceback shows ``DataFrame.sort_values``).  fetchall/
collect hid a whole divergence class for three rounds: DuckDB HUGEINT and
DECIMAL reach pandas as float64, so a value that stringifies as "3059"
from ``fetchall`` stringifies as "3059.0" from ``.df()`` and hash-fails
against Spark's int64 — see tools/dtype_audit.py for the structural
check over all hash-gated entries.

Usage: python tools/check_oracle.py [sf_dir] [query_key ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback
from datetime import date, datetime

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DEFAULT = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # treat NaN as NULL on both sides
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def hash_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else SF_DEFAULT
    keys = [a for a in args if "/" not in a]

    import __spark_entry__ as ent
    from live_market_data_orderflow_analysis_big_data_project__spark import get_spark

    qs, osql = ent.queries(), ent.oracle_sql()
    if keys:
        qs = {k: qs[k] for k in keys}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )

    spark = get_spark("oracle-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    n_pass = n_fail = n_rows_only = 0
    for key, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = list(spdf.itertuples(index=False, name=None))
        except Exception:
            print(f"FAIL {key}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if key not in osql:
            print(f"rows {key}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            dpdf = con.execute(osql[key]).df()
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
        if not problems:
            hs, hd = hash_rows(scols, srows), hash_rows(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                idx_s = sorted(range(len(scols)), key=lambda i: scols[i])
                idx_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(norm_cell(r[i]) for i in idx_s) for r in srows)
                ld = sorted("|".join(norm_cell(r[i]) for i in idx_d) for r in drows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
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
    print(f"\n== {n_pass} pass / {n_fail} fail / {n_rows_only} rows-only ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
