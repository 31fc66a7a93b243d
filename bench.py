"""Benchmark harness: runs the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec}, "sf": ...}.

Usage: python bench.py            # every queries() entry
       python bench.py q146 s22   # a subset: full names or q/s prefixes

Each query executes through the noop sink (full plan runs, nothing is
collected to the driver) so timings measure engine execution.  Each
sample is timed in two parts: build (the entry callable returns its
DataFrame, including any eager driver-side jobs) and execute (the noop
write).

The driver records only the LAST ~2000 characters of stdout (an
83-entry line once overflowed that window and was recorded
unparseable), so the full-suite stdout line uses compact separators and
short query keys (the unique q/s-number prefix, e.g. ``q91b``); the
same payload with full query names and every sample's build/execute
parts is written to ``BENCH_full.json`` at the repo root.  A subset run
prints that full record as its line and leaves ``BENCH_full.json``
alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Median-of-N per query.  A single sample cannot tell a plan regression
# from suite-position noise: a query moved to the FIRST slot of the run
# absorbed the residual session cold-start (measured 5.7 / 2.2 / 1.9 /
# 1.7 s over 4 repeats).  Streaming queries (s01..) get 2 samples: a
# real regression shows in both while a checkpoint-init hiccup shows in
# one, and a third sample would add half again to the streaming wall
# for no further signal on plans the batch twins pin.
N_SAMPLES = 3
N_S_SAMPLES = 2


def resolve(args: list[str], keys) -> list[str]:
    """Map each argument (a full entry name or its unique q/s-number
    prefix, e.g. ``q146``) to its entry name; exit 2 on an unknown or
    ambiguous one."""
    out = []
    for a in args:
        match = [k for k in keys if k == a or k.split("_", 1)[0] == a]
        if len(match) != 1:
            print(f"bench: key {a!r} matches {match}", file=sys.stderr)
            sys.exit(2)
        out.append(match[0])
    return out


def main(argv: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # The streaming entries create their checkpoint/sink dirs with
    # tempfile.mkdtemp, which honors $TMPDIR: point it at the engine
    # session's scratch (session.scratch_dir, the same directory as
    # spark.local.dir/java.io.tmpdir) so the per-micro-batch checkpoint
    # file creates and renames stay off the shared /tmp block device.
    # Pre-set TMPDIR or SPARK_GRAFT_SCRATCH="" disables.
    from live_market_data_orderflow_analysis_big_data_project__spark.session import (
        default_master,
        scratch_dir,
    )

    _scratch = None if "TMPDIR" in os.environ else scratch_dir(default_master())
    if _scratch:
        os.environ["TMPDIR"] = _scratch
        import tempfile as _tempfile

        _tempfile.tempdir = None  # re-read TMPDIR on next gettempdir()
    import __spark_entry__ as ent

    qmap = ent.queries()
    if argv:
        qmap = {k: qmap[k] for k in resolve(argv, qmap)}
    # host-load provenance: four contaminated records each post-dated a
    # CPU burst on the host; recording the 1/5/15-min load at bench START
    # makes a contaminated record self-identifying instead of a forensic
    # reconstruction.
    loadavg = [round(x, 2) for x in os.getloadavg()]
    from live_market_data_orderflow_analysis_big_data_project__spark.session import (
        get_spark,
        query_scope,
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the session (JVM codegen, filesystem metadata, parquet footers)
    # so the first measured query reflects plan cost, not session startup.
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (
        TABLES,
        load_table,
    )

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # Warm the Python-worker path too: the first Arrow stage in a session
    # pays ~2.5 s of worker fork + numpy/pandas import (measured), which
    # otherwise lands on whichever mapInPandas query happens to run first.
    spark.range(64).repartition(8).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ...and the shuffle/agg machinery (first exchange in a session pays
    # codegen + shuffle-system init that otherwise lands on the first
    # grouped query).
    from pyspark.sql import functions as _F

    spark.range(10_000).groupBy((_F.col("id") % 16).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()
    # ...and the Structured Streaming machinery: the first streaming
    # query would otherwise absorb the engine's stream-execution init
    # (checkpoint manager, micro-batch thread, state-store provider).
    import shutil as _sh
    import tempfile as _tf

    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (  # noqa: E501
        drain as _drain,
        run_paced_to_memory as _paced,
    )

    _warm_ckpt = _tf.mkdtemp(prefix="bench_warm_ckpt_")
    _wq = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", _warm_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # A warm stream still running after 60 s would compete with the
    # timed samples below: drain stops it and fails the bench.
    _drain(_wq, 60)
    _sh.rmtree(_warm_ckpt, ignore_errors=True)
    # ...and the Python streaming DataSource path (s11's first-in-session
    # run was measured at ~3x its steady state — the cold cost is the
    # per-partition Python stream-reader workers, which the JVM rate
    # source above does not touch).
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.pydatasource import (  # noqa: E501
        register as _register_pyds,
    )

    _register_pyds(spark)
    _paced(
        spark.readStream.format("tick_synth")
        .option("maxTicks", 64)
        .option("rowsPerBatch", 64)
        .option("numPartitions", 4)
        .load(),
        "bench_warm_pyds",
        expected_rows=64,
    )

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    phases: dict[str, dict[str, list[float]]] = {}
    for key, fn in qmap.items():
        reps = N_S_SAMPLES if key.startswith("s") else N_SAMPLES
        runs: list[float] = []
        parts: dict[str, list[float]] = {"build": [], "execute": []}
        phases[key] = parts
        try:
            with query_scope(spark, key):
                for _ in range(reps):
                    t0 = time.perf_counter()
                    df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    parts["build"].append(round(t1 - t0, 3))
                    parts["execute"].append(round(t2 - t1, 3))
                    runs.append(round(t2 - t0, 3))
                    # Queries that persist() a diamond dependency (q124's
                    # selection stage) would otherwise have samples 2/3
                    # served from the CacheManager (identical analyzed plan
                    # => cache substitution), turning the median into a
                    # warm-cache read instead of the operator's cost.
                    spark.catalog.clearCache()
            runs.sort()
            samples[key] = runs
            # lower-middle order statistic: the true median for odd N,
            # and for the 2-sample streaming entries the SMALLER run —
            # drain fixed cost is present in both samples, so the larger
            # one carries any one-off checkpoint/state-store init.
            timings[key] = runs[(len(runs) - 1) // 2]
        except Exception as exc:  # record failures as -1, keep benching
            print(f"bench: {key} failed: {exc}", file=sys.stderr)
            timings[key] = -1.0
            samples[key] = runs
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    n_failed = sum(1 for t in timings.values() if t < 0)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        # value sums only succeeding queries, so a refreshed total can't
        # silently hide failures: n_failed must be 0 for totals to compare.
        "n_queries": len(timings),
        "n_failed": n_failed,
        "samples": N_SAMPLES,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_start": loadavg,
    }
    record = {**payload, "query_samples": samples, "query_phases": phases}
    if argv:
        print(json.dumps(record, separators=(",", ":")))
        spark.stop()
        return
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_full.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")

    # Stdout line must fit the driver's ~2000-char tail window: shorten
    # each query key to its unique q/s-number prefix ("q91b_..." -> "q91b")
    # and AUTO-FIT the per-query precision — at 158 entries the 3-decimal
    # line measured 2083 chars, which would truncate the line's HEAD
    # (metric/value) and record an unparseable BENCH row.  Full-precision values always live in BENCH_full.json;
    # the stdout line degrades 3 -> 2 -> 1 decimals until it fits.
    short = {k.split("_", 1)[0]: v for k, v in timings.items()}
    assert len(short) == len(timings), "short query keys must stay unique"
    budget = 1900  # headroom under the observed ~2000-char window
    for nd in (3, 2, 1, 0):
        rounded = {k: round(v, nd) if nd else int(round(v))
                   for k, v in short.items()}
        line = json.dumps({**payload, "queries": rounded},
                          separators=(",", ":"))
        if len(line) <= budget:
            break
    if len(line) > budget:
        # Even 0-decimal doesn't fit: drop per-query detail rather than
        # emit a head-truncated (unparseable) BENCH row — the headline
        # metric/value survives, and the loss is loud, not silent.
        line = json.dumps(
            {**payload, "queries": "OVERFLOW: see BENCH_full.json"},
            separators=(",", ":"),
        )
        assert len(line) <= budget, "bench stdout line overflows even bare"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
