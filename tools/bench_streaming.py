"""Tick-replay streaming throughput bench (BASELINE.md comparison).

The reference publishes only streaming operational numbers (reference
README.md:538-548): 50+ ticks/s sustained ingest and 1-2 s micro-batch
time on an 8 GB host.  This harness replays the events fixture through the
flagship streaming pipeline (classify -> watermark -> 1-minute OHLC
candles, the data_processor.py:81-165 shape) as N parquet chunk files
drained by micro-batches, and reports sustained events/sec plus micro-batch
latency percentiles from the query's own progress metrics.

Usage: python tools/bench_streaming.py [sf_dir] [n_chunks] [n_repeats]
Prints ONE JSON line; the driver-facing wall number is events/sec.

Stress mode:

    python tools/bench_streaming.py --stress [sf_dir] [mult] [n_chunks]

replays MULT x the events fixture (default 10 -> 1M events) with
PER-COPY KEY OFFSETS (key cardinality scales with the data, 15k
instruments at 10x) through the same pipeline, with chunks split by
EVENT TIME and written sequentially so the file source delivers them in
order — the watermark then advances realistically batch over batch and
must EVICT closed windows.  Reports p50/p95/max micro-batch latency plus
the state-store numbers that make the watermark-bounded-state claim
measurable: max/last stateOperators numRowsTotal across batches (bounded
=> state does not grow with total events) and max memoryUsedBytes.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# host-load provenance at import (== harness start) — the bench.py rule
_LOADAVG = [round(x, 2) for x in os.getloadavg()]

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from live_market_data_orderflow_analysis_big_data_project__spark import get_spark  # noqa: E402
from live_market_data_orderflow_analysis_big_data_project__spark.operators.candles import (  # noqa: E402
    ohlc_candles,
)
from live_market_data_orderflow_analysis_big_data_project__spark.operators.ticks import (  # noqa: E402
    aggressor_side,
)
from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (  # noqa: E402
    load_table,
)
from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (  # noqa: E402
    drain,
    kafka_sink_capture,
)


def replay_candles(spark, schema, src: str):
    """The flagship pipeline over the chunk files in ``src``, one file
    per micro-batch: events -> ticks (aggressor side) -> watermarked
    1-minute OHLC candles."""
    ticks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            F.col("user_id").cast("string").alias("instrument"),
            F.col("ts").alias("event_time"),
            F.col("value").alias("ltp"),
            F.lit(1).cast("long").alias("ltq"),
        )
        .withColumn(
            "side", aggressor_side(F.col("ltp"), F.lit(50.0), F.lit(150.0))
        )
    )
    return ohlc_candles(ticks, window="1 minute", watermark="5 minutes")


def drain_noop(candles, timeout_s: int) -> tuple[float, list[dict]]:
    """Drain ``candles`` into the noop sink; return the wall seconds and
    the progress of every micro-batch that read input."""
    t0 = time.time()
    q = (
        candles.writeStream.format("noop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout_s)
    wall = time.time() - t0
    return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]


def batch_ms(progresses: list[dict]) -> list[int]:
    """Sorted micro-batch trigger times (ms)."""
    return sorted(p["durationMs"].get("triggerExecution", 0) for p in progresses)


def pct(sorted_ms: list[int], p: float) -> int:
    """Nearest-rank percentile: ceil(p*n)-1 (int(p*n) overshoots to the
    max for small n, overstating p95); -1 when there are no batches."""
    if not sorted_ms:
        return -1
    n = len(sorted_ms)
    return sorted_ms[max(0, min(n - 1, math.ceil(p * n) - 1))]


def stress(sf_dir: str, mult: int, n_chunks: int) -> None:
    spark = get_spark(
        "stream-stress",
        # default retention is 100 progress updates: a long stress run
        # would silently compute state/latency stats over the TAIL only
        # (hiding early-batch state spikes) — retain everything.
        extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "10000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, sf_dir, "events")
    # MULT copies with offset keys: cardinality scales with the data (the
    # honest formulation, same rule as tools/scale_probe.py replicas);
    # event times are unchanged so per-window key density scales too.
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    big = events.crossJoin(F.broadcast(copies)).select(
        (F.col("user_id") + F.col("copy") * 10_000).alias("user_id"),
        "ts",
        "value",
    )
    n_events = big.count()
    n_keys = big.select("user_id").distinct().count()

    # Time-ordered arrival: chunk by event-time ntile and write each chunk
    # as its own file IN ORDER (the file stream source picks files up by
    # modification time, so the watermark advances monotonically and closed
    # windows are evicted batch over batch — random chunk order would mark
    # most data late instead).
    src = tempfile.mkdtemp(prefix="streamstress_")
    chunked = big.withColumn(
        "chunk", F.ntile(n_chunks).over(Window.orderBy("ts")) - 1
    ).cache()
    chunked.count()
    for i in range(n_chunks):
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(
            1
        ).write.mode("append").parquet(src)
    chunked.unpersist()

    wall, progresses = drain_noop(replay_candles(spark, big.schema, src), 1800)
    ms = batch_ms(progresses)
    state_rows = [
        s["numRowsTotal"]
        for p in progresses
        for s in p.get("stateOperators", [])
    ]
    state_mem = [
        s.get("memoryUsedBytes", 0)
        for p in progresses
        for s in p.get("stateOperators", [])
    ]
    print(
        json.dumps(
            {
                "metric": "stream_stress_events_per_sec",
                "value": round(n_events / wall, 1),
                "unit": "events/sec",
                "loadavg_start": _LOADAVG,
                "mult": mult,
                "n_events": n_events,
                "n_keys": n_keys,
                "wall_sec": round(wall, 2),
                "n_micro_batches": len(ms),
                "micro_batch_ms_p50": pct(ms, 0.5),
                "micro_batch_ms_p95": pct(ms, 0.95),
                "micro_batch_ms_max": ms[-1] if ms else -1,
                "state_rows_max": max(state_rows, default=-1),
                "state_rows_last": state_rows[-1] if state_rows else -1,
                "state_memory_bytes_max": max(state_mem, default=-1),
                "arrival": "event-time-ordered chunks (watermark evicts)",
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--stress":
        stress(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1",
            int(sys.argv[3]) if len(sys.argv) > 3 else 10,
            int(sys.argv[4]) if len(sys.argv) > 4 else 32,
        )
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    # Run-to-run variance on unchanged code measured ~1.5x (host
    # state), so a single sample can silently cherry-pick.  The drain
    # runs N times and the HEADLINE is the conservative end (min
    # events/sec, max p50) COMPUTED here, not chosen by hand;
    # min/median/max are all recorded.
    n_repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    spark = get_spark(
        "stream-bench",
        extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "10000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, sf_dir, "events")
    n_events = events.count()

    # Chunk the fixture into n_chunks files: each micro-batch drains one.
    src = tempfile.mkdtemp(prefix="streambench_")
    events.withColumn(
        "chunk", F.abs(F.hash("event_id")) % n_chunks
    ).repartition(n_chunks, "chunk").drop("chunk").write.mode(
        "overwrite"
    ).parquet(src)

    runs = [
        drain_noop(replay_candles(spark, events.schema, src), 600)
        for _ in range(max(1, n_repeats))
    ]
    # conservative headline run = the SLOWEST drain; batch_ms percentiles
    # are computed from that run's own progress, so the (value, p50) pair
    # stays internally consistent.
    wall, progresses = max(runs, key=lambda r: r[0])
    ms = batch_ms(progresses)
    eps_runs = sorted(round(n_events / w, 1) for w, _ in runs)

    # --- Kafka wire-shape path (reference data_processor.py:177-183) -----
    # Same replay through candles -> serialize_json -> kafka_sink_capture:
    # the exact (key, value) frame the Kafka writer would get, through the
    # checkpointed idempotent foreachBatch sink.  This measures the
    # serialize+sink cost the parquet-path number leaves out.
    wire_out = tempfile.mkdtemp(prefix="streambench_wire_")
    wire_ck = tempfile.mkdtemp(prefix="streambench_wireck_")
    t1 = time.time()
    q2 = kafka_sink_capture(
        replay_candles(spark, events.schema, src),
        wire_out,
        wire_ck,
        key_col="instrument",
    )
    drain(q2, 600)
    kafka_wall = time.time() - t1

    print(
        json.dumps(
            {
                "metric": "stream_events_per_sec",
                # headline = the slowest of n_repeats drains — the
                # conservative end is computed, not hand-picked
                "value": round(n_events / wall, 1),
                "unit": "events/sec",
                "loadavg_start": _LOADAVG,
                "n_events": n_events,
                "wall_sec": round(wall, 2),
                "repeats": {
                    "n": len(runs),
                    "events_per_sec_min": eps_runs[0],
                    "events_per_sec_median": eps_runs[len(eps_runs) // 2],
                    "events_per_sec_max": eps_runs[-1],
                    "statistic": "value/p50 reported from the slowest run",
                },
                "n_micro_batches": len(ms),
                "micro_batch_ms_p50": pct(ms, 0.5),
                "micro_batch_ms_max": ms[-1] if ms else -1,
                "kafka_shape": {
                    "events_per_sec": round(n_events / kafka_wall, 1),
                    "wall_sec": round(kafka_wall, 2),
                    "sink": "serialize_json + checkpointed idempotent "
                            "foreachBatch (wire-frame capture; no broker "
                            "in env)",
                },
                "baseline_ref": {
                    "ingest_events_per_sec": 50,
                    "micro_batch_sec": "1-2",
                    "source": "reference README.md:538-548",
                },
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
