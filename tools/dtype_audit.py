"""Audit pandas-dtype parity between Spark results and DuckDB oracles.

The driver's correctness gate canonicalizes BOTH sides through pandas
(observed: its comparator calls ``DataFrame.sort_values`` — the q116
TypeError traceback).  That makes dtype drift a hash
failure even when the VALUES are identical:

- DuckDB ``SUM``/``list_sum`` over integers returns HUGEINT, which
  ``.df()`` materializes as float64 → ``3059.0`` vs Spark's int64 ``3059``.
- DuckDB DECIMAL → float64, Spark DecimalType → object(decimal.Decimal).
- array<...> columns arrive as numpy arrays and crash pandas sort_values
  (unhashable) — the q116 failure.

This tool runs every hash-gated ``oracle_sql()`` entry on both engines at
a small sf and reports any column whose pandas dtype differs (after
sorting columns by name), plus any array-typed output column.  Clean
output = the whole class of driver-only hash fails is structurally
impossible.

Usage: python tools/dtype_audit.py [sf_dir] [query_key ...]
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import duck  # noqa: E402  (same dir)

SF_DEFAULT = "/root/testdata/sf0.001"


def main() -> None:
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else SF_DEFAULT
    keys = [a for a in args if "/" not in a]

    import __spark_entry__ as ent
    from live_market_data_orderflow_analysis_big_data_project__spark import get_spark

    qs, osql = ent.queries(), ent.oracle_sql()
    if keys:
        qs = {k: qs[k] for k in keys}

    con = duck(sf)

    spark = get_spark("dtype-audit", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    n_ok = n_bad = 0
    for key, fn in qs.items():
        if key not in osql:
            continue
        try:
            spd = fn(spark, sf).toPandas()
            dpd = con.execute(osql[key]).df()
        except Exception as exc:
            print(f"ERR  {key}: {type(exc).__name__}: {exc}")
            n_bad += 1
            continue
        problems = []
        scols, dcols = sorted(spd.columns), sorted(dpd.columns)
        if scols != dcols:
            problems.append(f"cols spark={scols} duck={dcols}")
        else:
            for c in scols:
                sdt, ddt = spd[c].dtype, dpd[c].dtype
                # int32 vs int64 stringifies identically ("7" == "7") and is
                # driver-verified harmless (q40/q61/q64 hash-pass); the fatal
                # class is integer-vs-float ("3059" != "3059.0") — DuckDB
                # HUGEINT/DECIMAL → float64 — plus Decimal objects and arrays.
                kinds = {np.dtype(sdt).kind if sdt != object else "O",
                         np.dtype(ddt).kind if ddt != object else "O"}
                if kinds == {"i", "f"} or kinds == {"u", "f"}:
                    problems.append(f"{c}: spark={sdt} duck={ddt}")
                for side, pd_df in (("spark", spd), ("duck", dpd)):
                    # probe the first NON-NULL cell: a leading NULL/NaN
                    # row would otherwise hide arrays/Decimals further
                    # down the column.
                    non_null = pd_df[c].dropna() if len(pd_df) else pd_df[c]
                    if len(non_null):
                        v = non_null.iloc[0]
                        if isinstance(v, (np.ndarray, list)):
                            problems.append(
                                f"{c}: ARRAY-typed on {side} "
                                "(crashes driver sort)"
                            )
                        if type(v).__name__ == "Decimal":
                            problems.append(
                                f"{c}: Decimal object on {side} "
                                "(stringifies with trailing zeros)"
                            )
        if problems:
            print(f"BAD  {key}: " + "; ".join(problems))
            n_bad += 1
        else:
            n_ok += 1
    print(f"\n== dtype audit: {n_ok} ok / {n_bad} bad ==")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
