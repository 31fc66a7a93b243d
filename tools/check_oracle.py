"""The driver's correctness gate, replayed locally.

Runs every ``queries()`` entry on Spark at a given sf dir and the matching
``oracle_sql()`` on DuckDB over the same parquet files, then compares
row count, sorted column names, and an order-insensitive value hash
(cells normalized: floats by exact repr, timestamps/dates by str, arrays
recursively; rows sorted lexicographically before hashing).

Spark runs on the driver's own session: a vanilla
``SparkSession.builder.master("local[4]")`` with none of the engine
confs, so everything correctness-critical must self-heal at runtime
(``ensure_engine_confs`` inside load_table) or it fails here first.
``tools/sweep_oracle.py`` covers the engine session at three sfs.

Both result sets are pulled through **pandas** (``toPandas()`` /
``.df()``) because that is how the driver's comparator materializes them
(its q116 crash traceback shows ``DataFrame.sort_values``).  fetchall/
collect hide a whole divergence class: DuckDB HUGEINT and DECIMAL reach
pandas as float64, so a value that stringifies as "3059" from
``fetchall`` stringifies as "3059.0" from ``.df()`` and hash-fails
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


def _lines(cols, rows) -> list[str]:
    """Each row's normalized cells in column-name order, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in idx) for r in rows)


def hash_rows(cols, rows):
    h = hashlib.md5()
    for ln in _lines(cols, rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def cols_rows(pdf) -> tuple[list, list]:
    """A pandas frame's column names and row tuples."""
    return list(pdf.columns), list(pdf.itertuples(index=False, name=None))


def compare(scols, srows, dcols, drows) -> list[str]:
    """The problems between a Spark and a DuckDB result; [] is a pass.
    A value mismatch lists the first three differing normalized lines."""
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if problems:
        return problems
    ls, ld = _lines(scols, srows), _lines(dcols, drows)
    if ls != ld:
        problems.append("value mismatch")
        for a, b in [(a, b) for a, b in zip(ls, ld) if a != b][:3]:
            problems.append(f"  spark: {a[:200]}")
            problems.append(f"  duck : {b[:200]}")
    return problems


def duck(sf_dir: str):
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main():
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else SF_DEFAULT
    keys = [a for a in args if "/" not in a]

    from pyspark.sql import SparkSession

    import __spark_entry__ as ent

    qs, osql = ent.queries(), ent.oracle_sql()
    if keys:
        qs = {k: qs[k] for k in keys}

    con = duck(sf)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("oracle-check")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_pass = n_fail = n_rows_only = 0
    for key, fn in qs.items():
        t0 = time.time()
        try:
            scols, srows = cols_rows(fn(spark, sf).toPandas())
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
            dcols, drows = cols_rows(con.execute(osql[key]).df())
        except Exception:
            print(f"FAIL {key}: DUCKDB ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        problems = compare(scols, srows, dcols, drows)
        if problems:
            print(f"FAIL {key}: {problems[0]}")
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
