"""Partitioning-determinism check: every hash-gated query must produce
the identical value hash when executed under different shuffle-partition
counts (and therefore different row orders / partial-agg groupings).

Catches the class of bug the single-run oracle gate cannot see:
shuffle-order-dependent aggregates (first/last without ordering),
float sums whose value depends on partial-agg grouping, and
non-deterministic tie-breaks.

Usage: python tools/determinism_check.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import hash_rows  # reuse the gate's canonicalizer  # noqa: E402

SF_DEFAULT = "/root/testdata/sf0.01"
PARTITION_COUNTS = (3, 32)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else SF_DEFAULT

    import __spark_entry__ as ent
    from live_market_data_orderflow_analysis_big_data_project__spark import get_spark

    spark = get_spark("determinism-check")
    spark.sparkContext.setLogLevel("ERROR")

    hash_keys = set(ent.oracle_sql())
    qs = {k: v for k, v in ent.queries().items() if k in hash_keys}

    bad = []
    for key, fn in qs.items():
        hashes = []
        for n in PARTITION_COUNTS:
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            df = fn(spark, sf)
            hashes.append(hash_rows(df.columns, df.collect()))
        if len(set(hashes)) != 1:
            bad.append(key)
            print(f"NONDETERMINISTIC {key}: {hashes}")
        else:
            print(f"ok {key}")
    print(
        f"\n== {len(qs) - len(bad)} deterministic / {len(bad)} "
        f"partition-dependent (over partitions={PARTITION_COUNTS}) =="
    )
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
