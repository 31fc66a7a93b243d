"""The benchmark's workloads.

One closed-loop query mix (one client, next entry only after the previous
one's noop write returns, entry order shuffled by the seed) and one
open-loop tick feed (files published on a fixed schedule whatever the
pipeline does).  Every workload returns a :class:`Outcome`; set-up work is
timed apart from the measured region, and output checks run outside it.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from . import tape as tp
from . import trace as tr
from .tables import write_tables

# Entry-number prefixes of the ``queries()`` keys the mix runs: scans,
# joins, windows and shuffles, with a third of a pass in query build.
MIX = ("q07", "q21", "q26", "q48", "q150", "q155")
MIX_SF = 0.01
# Untimed noop passes after the first (collecting) pass.  In a fresh session
# pass time keeps falling for about four passes (JIT), from ~5.5 s to ~3.5 s
# on a 4-vCPU VM, and sampling that slope made runs disagree.
WARM_PASSES = 3
PHASES = ("analysis", "optimization", "planning")  # QueryPlanningTracker phases


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


def _spark(app: str, work: str, traced: bool, cpus: int):
    from live_market_data_orderflow_analysis_big_data_project__spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under the system /tmp; the heap is the session's own
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # zstd is the default codec and its Python reader is absent
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app, master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (Linux ``clear_refs``), so the
    peak of the benchmark's own input generation is not counted."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of the driver JVM and of this Python process (since
    :func:`reset_peak_rss`), in MB; ``peak_rss_mb`` is their sum."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": _vm_hwm_kb(jvm_pid) / 1024.0, "python": _vm_hwm_kb("self") / 1024.0}


def host_steal(since: tuple[int, int] | None = None):
    """The VM's CPU steal counter: (steal, total) jiffies over every CPU
    from ``/proc/stat``; given an earlier reading, the share of CPU time the
    hypervisor gave to other guests since then.  A run that slowed with the
    host, not with the program, shows a high share here."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    now = (f[7], sum(f))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def _load_tables(spark, sf_dir: str) -> float:
    """Resolve every table through ``load_table``; return the seconds spent."""
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (
        TABLES,
        load_table,
    )

    t0 = time.time()
    for name in TABLES:
        load_table(spark, sf_dir, name)
    return time.time() - t0


def run_mix(workload: str, seed: int, seconds: float, traced: bool, work: str, cpus: int) -> Outcome:
    import duckdb

    import __spark_entry__ as ent
    from tools.check_oracle import hash_rows

    out = Outcome()
    keys_all = ent.queries()
    oracle = ent.oracle_sql()
    full = {k.split("_", 1)[0]: k for k in keys_all}
    keys = [full[s] for s in MIX]
    rng = random.Random(seed)

    t_setup = time.time()
    sf_dir = os.path.join(work, "tables")
    rows = write_tables(sf_dir, seed, MIX_SF)
    reset_peak_rss()
    t1 = time.time()
    spark = _spark(f"perfbench-{workload}", work, traced, cpus)
    t2 = time.time()
    progress = tr.ProgressLog() if traced else None
    if progress is not None:
        spark.streams.addListener(progress)
    load_s = _load_tables(spark, sf_dir)

    # First pass in a fresh session: the cold start (JVM codegen, Python
    # workers), and the results the output check compares (collected, not
    # timed as a sample); then the warm passes.
    results = {}
    for key in rng.sample(keys, len(keys)):
        out.attempted += 1
        try:
            pdf = keys_all[key](spark, sf_dir).toPandas()
            results[key] = (list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
        except Exception as exc:  # a failing entry is counted, the run goes on
            out.fail(1, f"{key}: raised {type(exc).__name__}: {str(exc)[:300]}")
        spark.catalog.clearCache()
    t3 = time.time()
    for _ in range(WARM_PASSES):
        for key in rng.sample(keys, len(keys)):
            out.attempted += 1
            try:
                keys_all[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                out.fail(1, f"{key}: raised {type(exc).__name__}: {str(exc)[:300]}")
            finally:
                spark.catalog.clearCache()
    t4 = time.time()
    setup_s = t4 - t_setup

    # A traced run alternates untraced and traced passes (event log
    # detached, no planning tracker; then both on) and reports the traced
    # ones; each adjacent pair gives one tracing-overhead sample.
    gate = tr.EventLogGate(spark) if traced else None
    spans = tr.Spans()
    passes: list[dict] = []
    steal0 = host_steal()
    t_meas = time.time()
    min_passes = 4 if traced else 2
    while len(passes) < min_passes or time.time() - t_meas < seconds or (traced and len(passes) % 2):
        on = traced and tr.traced_turn(len(passes))
        if gate is not None:
            gate.set(on)
        rec = {"traced": on, "lat": {}, "build": 0.0, "exec": 0.0, **dict.fromkeys(PHASES, 0.0)}
        t_pass = time.time()
        for key in rng.sample(keys, len(keys)):
            out.attempted += 1
            a = time.time()
            try:
                df = keys_all[key](spark, sf_dir)
                b = time.time()
                if on:
                    for k, v in tr.planning_phases(df).items():
                        rec[k] += v
                c = time.time()
                df.write.format("noop").mode("overwrite").save()
                d = time.time()
            except Exception as exc:
                out.fail(1, f"{key}: raised {type(exc).__name__}: {str(exc)[:300]}")
                continue
            finally:
                spark.catalog.clearCache()
            if on:
                spans.record(key, "build", a, b)
                spans.record(key, "exec", c, d)
            rec["lat"][key] = (b - a) + (d - c)
            rec["build"] += b - a
            rec["exec"] += d - c
        rec["wall"] = time.time() - t_pass
        passes.append(rec)
    steal_share = host_steal(steal0)
    shown = [p for p in passes if p["traced"] == traced]
    lat = {k: [p["lat"][k] for p in shown if k in p["lat"]] for k in keys}
    rss = peak_rss_mb(spark)
    spark.stop()

    # Output checks, outside every timed region.
    con = duckdb.connect()
    for name in rows:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    for key, (cols, rws) in results.items():
        if key in oracle:
            d = con.execute(oracle[key]).df()
            dcols, drows = list(d.columns), list(d.itertuples(index=False, name=None))
            if sorted(cols) != sorted(dcols) or hash_rows(cols, rws) != hash_rows(dcols, drows):
                out.fail(1, f"{key}: result differs from its DuckDB twin")
        elif not rws:
            out.fail(1, f"{key}: no rows (entry has no DuckDB twin)")
    con.close()

    # one latency per entry, its median over the measured passes; the
    # percentiles are taken across entries
    entry_lat = [statistics.median(v) for v in lat.values() if v]
    out.e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000.0 * statistics.median(entry_lat),
        "latency_p95_ms": 1000.0 * tp.percentile(entry_lat, 95),
        "pass_wall_s": statistics.median(p["wall"] for p in shown),
    }
    out.detail = {
        "peak_rss_mb": sum(rss.values()), "peak_rss_parts_mb": rss,
        "passes": len(shown), "pass_walls_s": [round(p["wall"], 3) for p in shown],
        "host_steal_share": steal_share,
        "entries": len(keys), "latency_samples": sum(map(len, lat.values())),
        "mix_wall_s": out.e2e["pass_wall_s"], "query_p50_s": statistics.median(entry_lat),
        "entry_latency_s": {k: statistics.median(v) for k, v in lat.items() if v},
        "entry_samples_s": {k: [round(x, 3) for x in v] for k, v in lat.items()},
        "sf": MIX_SF, "table_rows": rows,
        "setup_parts_s": {"tables": t1 - t_setup, "session": t2 - t1, "first_pass": t3 - t2,
                          "warm_passes": t4 - t3},
    }
    if traced:
        events = tr.read_event_log(os.path.join(work, "eventlog"))
        layers = tr.exec_layers(events, spans, len(shown))
        layers.update(tr.streaming_layers(
            [p for p in progress.progress if t_meas <= p["_received"]]))
        layers.update(tr.overhead([(u["wall"], t["wall"]) for u, t in tr.pairs(passes, lambda p: p["traced"])]))
        layers.update({
            "session.start_s": t2 - t1,
            "session.peak_rss_mb": sum(rss.values()),
            "session.warm_s": t4 - t2,
            "sources.load_s": load_s,
            "queries.build_s": statistics.median(p["build"] for p in shown),
            "exec.run_s": statistics.median(p["exec"] for p in shown),
            **{f"catalyst.{k}_s": statistics.median(p[k] for p in shown) for k in PHASES},
        })
        out.layers = layers
    return out


# --- open-loop tick feed ---------------------------------------------------

RATE_TICKS_S = 2000        # well below the ~20k ticks/s where 4 cores saturate
# Ten files a second.  Each file costs the file source a fixed amount; at
# 25 files/s that cost kept a 4-vCPU host's micro-batches about a third
# busy, and tick latency doubled whenever the host slowed.  A latency
# sample is one file.
FILE_INTERVAL_S = 0.1
MIN_LATENCY_FILES = 60
WARM_FILES = 1
# A schedule and two bursts run before anything is timed: micro-batch time
# falls for the first ten to twenty batches (JIT) and is flat after that,
# and burst drains keep falling for the first bursts (~0.95 s, then
# ~0.87 s, then ~0.8 s on a 4-vCPU VM).  The timed bursts follow, and the
# sampled schedule comes last.
LEAD_S = 4.0
RAMP_S = 1.0               # start of the sampled schedule, not sampled
WARM_BURSTS = 2
N_BURSTS = 5
BURST_TICKS = 20_000
BURST_FILES = 4          # divides BURST_TICKS
WAIT_S = 60
IDLE_S = 0.2             # no batch planned for this long: the stream is idle


def _await_commit(ckpt: str, names: list[str], timeout_s: float = WAIT_S) -> dict[str, float]:
    """Block until every named file is in a committed micro-batch; return
    each file's commit time."""
    deadline = time.time() + timeout_s
    seen: set[int] = set()
    fb: dict[str, int] = {}
    while True:
        # commit times are file stamps, so the poll rate does not bound
        # their resolution; the source log is re-read only after a commit
        commits = tp.commit_times(ckpt)
        if set(commits) != seen:
            seen, fb = set(commits), tp.file_batches(ckpt)
            if all(n in fb and fb[n] in commits for n in names):
                return {n: commits[fb[n]] for n in names}
        if time.time() > deadline:
            raise TimeoutError(f"{sum(n not in fb for n in names)} of {len(names)} files not consumed in {timeout_s}s")
        time.sleep(0.02)


def _await_idle(ckpt: str) -> None:
    """Block until every planned micro-batch is committed and none has been
    planned for ``IDLE_S``: the no-data batch that follows a batch closing
    windows has run, so a burst starts on an idle stream."""
    off_dir = os.path.join(ckpt, "offsets")
    deadline = time.time() + WAIT_S
    while time.time() < deadline:
        last = max(int(n) for n in os.listdir(off_dir) if n.isdigit())
        done = tp.commit_times(ckpt).get(last)
        if done is not None and time.time() - done >= IDLE_S:
            return
        time.sleep(0.01)
    raise TimeoutError(f"stream not idle within {WAIT_S}s")


def _play(files: list[tp.TapeFile], staging: str, feed: str, ckpt: str) -> tp.Publisher:
    """Publish ``files`` on their schedule and wait until every one is in a
    committed micro-batch."""
    pub = tp.Publisher(files, staging, feed, time.time() + 0.05)
    pub.start()
    pub.join(files[-1].due_s + WAIT_S)
    if pub.is_alive() or pub.error is not None:
        raise RuntimeError(f"publisher did not finish: {pub.error!r}")
    _await_commit(ckpt, [f.name for f in files])
    return pub


def _batch_candles(spark, feed_dir: str, tape: tp.Tape) -> list[tuple[str, int]]:
    """Batch twin of the streaming pipeline over every published file:
    (candle wire value, priced ticks in the candle) for each closed tape
    window."""
    from pyspark.sql import functions as F

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.candles import (
        ohlc_candles,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.ticks import (
        best_bid_ask,
        classify_aggressor,
        parse_ticks,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (
        serialize_json,
    )

    ticks = classify_aggressor(best_bid_ask(parse_ticks(spark.read.text(feed_dir))))
    lo = F.timestamp_millis(F.lit(tape.late_before_ms))
    hi = F.timestamp_millis(F.lit(tape.flush_from_ms))
    candles = ohlc_candles(ticks, extra_last=("tbq", "tsq")).filter(
        (F.col("window_start") >= lo) & (F.col("window_start") < hi))
    out = []
    for r in serialize_json(candles, key_col="instrument").collect():
        v = json.loads(r["value"])
        start_ms = int(datetime.fromisoformat(v["window_start"]).timestamp() * 1000)
        out.append((r["value"], tape.candle_ticks[(start_ms, v["instrument"])]))
    return out


def run_tick_feed(seed: int, seconds: float, traced: bool, work: str, cpus: int) -> Outcome:
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.candles import (
        ohlc_candles,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.ticks import (
        best_bid_ask,
        classify_aggressor,
        parse_ticks,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (
        kafka_sink_capture,
    )

    out = Outcome()
    t_setup = time.time()
    # the first WARM_BURSTS warm up; a traced run alternates untraced and
    # traced bursts, as many of each
    n_bursts = WARM_BURSTS + N_BURSTS * (2 if traced else 1)
    tape = tp.build_tape(seed, RATE_TICKS_S, FILE_INTERVAL_S, LEAD_S, RAMP_S + seconds, WARM_FILES,
                         BURST_TICKS, n_bursts, BURST_FILES)
    feed, staging, ckpt, sink = (os.path.join(work, d) for d in ("feed", "staging", "ckpt", "sink"))
    for d in (feed, staging):
        os.makedirs(d)
    reset_peak_rss()
    t1 = time.time()
    spark = _spark("perfbench-tick_feed", work, traced, cpus)
    t2 = time.time()
    progress = tr.ProgressLog() if traced else None
    if progress is not None:
        spark.streams.addListener(progress)
    t_load = time.time()
    raw = spark.readStream.format("text").load(feed)
    t_build = time.time()
    ticks = classify_aggressor(best_bid_ask(parse_ticks(raw)))
    candles = ohlc_candles(ticks, window="1 minute", watermark="5 minutes",
                           extra_last=("tbq", "tsq"))
    t_built = time.time()
    q = kafka_sink_capture(candles, sink, ckpt, key_col="instrument", available_now=False)
    spans = tr.Spans()
    try:
        for f in tape.by_kind("warm"):
            tp.publish([f], staging, feed)
            _await_commit(ckpt, [f.name])
        lead = _play(tape.by_kind("lead"), staging, feed, ckpt)
        for b in range(WARM_BURSTS):
            _await_idle(ckpt)
            tp.publish(tape.by_kind(f"burst{b}"), staging, feed)
            _await_commit(ckpt, [f.name for f in tape.by_kind(f"burst{b}")])
        t3 = time.time()
        setup_s = t3 - t_setup

        steal0 = host_steal()
        gate = tr.EventLogGate(spark) if traced else None
        bursts: list[tuple[bool, float]] = []  # (traced, drain seconds) in burst order
        _await_idle(ckpt)
        for b in range(WARM_BURSTS, n_bursts):
            on = traced and tr.traced_turn(b - WARM_BURSTS)
            if gate is not None:
                gate.set(on)
            files = tape.by_kind(f"burst{b}")
            tb = tp.publish(files, staging, feed)
            done = max(_await_commit(ckpt, [f.name for f in files]).values())
            bursts.append((on, done - tb))
            _await_idle(ckpt)  # the burst's jobs include the no-data batch after it
            if on:
                spans.record(f"burst{b}", "stream", tb, time.time())
        if gate is not None:
            gate.set(True)
        t4 = time.time()
        steady = tape.by_kind("steady")
        sampled = [f for f in steady if f.due_s >= RAMP_S]
        pub = _play(steady, staging, feed, ckpt)
        t5 = time.time()
        spans.record("steady", "stream", pub.start_at + RAMP_S, t5)
        flush = tape.by_kind("flush")[0]
        tp.publish([flush], staging, feed)
        _await_commit(ckpt, [flush.name])
        flush_batch = tp.file_batches(ckpt)[flush.name]
        deadline = time.time() + WAIT_S
        # the no-data batch after the flush emits every closed window
        while flush_batch + 1 not in tp.commit_times(ckpt):
            if time.time() > deadline:
                raise TimeoutError("no-data batch after the flush tick never committed")
            time.sleep(0.01)
        steal_share = host_steal(steal0)
        rss = peak_rss_mb(spark)
    finally:
        q.stop()
    recent = q.recentProgress
    batches = tp.file_batches(ckpt)
    commits = tp.commit_times(ckpt)

    # latency: scheduled publish time -> commit of the consuming batch
    lat = [commits[batches[f.name]] - pub.published[f.name][0] for f in sampled]
    lag = [actual - due for p in (lead, pub) for due, actual in p.published.values()]
    last_pub = max(actual for _, actual in pub.published.values())
    backlog_end = sum(commits[batches[f.name]] > last_pub for f in sampled)

    # Output checks, outside every timed region.
    t6 = time.time()
    n_ticks = sum(f.ticks for f in tape.files)
    n_msgs = sum(f.messages for f in tape.files)
    out.attempted = n_ticks
    seen_msgs = sum(p["numInputRows"] for p in recent)
    if seen_msgs != n_msgs:
        out.fail(abs(n_msgs - seen_msgs), f"source read {seen_msgs} messages, {n_msgs} published")
    dropped = sum(s.get("numRowsDroppedByWatermark", 0) for p in recent for s in p.get("stateOperators", []))
    if dropped != tape.late_ticks:
        out.fail(abs(dropped - tape.late_ticks),
                 f"watermark dropped {dropped} ticks, {tape.late_ticks} are late by design")
    # the sink holds one parquet directory per micro-batch (Kafka wire frames)
    stream_vals = set(pq.read_table(sink, columns=["value"]).column("value").to_pylist())
    expected = _batch_candles(spark, feed, tape)
    lost = sum(n for v, n in expected if v not in stream_vals)
    extra = len(stream_vals - {v for v, _ in expected})
    if lost or extra:
        out.fail(lost + extra, f"{lost} ticks in candles missing or wrong, {extra} unexpected candles")
    # every priced on-time tick of the tape is in some batch candle
    on_time = sum(n for (w, _), n in tape.candle_ticks.items()
                  if tape.late_before_ms <= w < tape.flush_from_ms)
    in_candles = sum(n for _, n in expected)
    if in_candles != on_time:
        out.fail(abs(on_time - in_candles), f"batch candles hold {in_candles} of {on_time} on-time ticks")
    if len(lat) < MIN_LATENCY_FILES:
        out.problems.append(f"only {len(lat)} latency samples")
    lag_p95_ms = 1000.0 * tp.percentile(lag, 95)
    if lag_p95_ms > 1000.0 * FILE_INTERVAL_S:
        out.problems.append(f"generator fell behind: lag p95 {lag_p95_ms:.1f} ms")
    spark.stop()

    out.e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000.0 * statistics.median(lat),
        "latency_p95_ms": 1000.0 * tp.percentile(lat, 95),
        "pass_wall_s": statistics.median(d for on, d in bursts if on == traced),
    }
    out.detail = {
        "peak_rss_mb": sum(rss.values()), "peak_rss_parts_mb": rss,
        "tick_latency_samples": len(lat), "tick_latency_p50_ms": out.e2e["latency_p50_ms"],
        "tick_latency_p95_ms": out.e2e["latency_p95_ms"],
        "offered_ticks_s": RATE_TICKS_S, "file_interval_s": FILE_INTERVAL_S,
        "burst_ticks": BURST_TICKS, "bursts": N_BURSTS,
        "burst_drains_s": [d for on, d in bursts if on == traced], "burst_ticks_per_s": BURST_TICKS / out.e2e["pass_wall_s"],
        "host_steal_share": steal_share,
        "ticks": n_ticks, "late_ticks": tape.late_ticks, "no_price_ticks": tape.no_price_ticks,
        "gen.lag_p95_ms": lag_p95_ms,
        "steady_batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in recent
                            if batches[sampled[0].name] <= p["batchId"] <= batches[sampled[-1].name]],
        "phases_s": {"tape": t1 - t_setup, "session": t2 - t1, "warm": t3 - t2,
                     "bursts": t4 - t3, "steady": t5 - t4, "checks": time.time() - t6},
    }
    if traced:
        burst_ids = {batches[f.name] for b in range(WARM_BURSTS, n_bursts) if tr.traced_turn(b - WARM_BURSTS)
                     for f in tape.by_kind(f"burst{b}")}
        layers = tr.exec_layers(tr.read_event_log(os.path.join(work, "eventlog")), spans, 1)
        layers.update(tr.streaming_layers(
            [p for p in progress.progress if p["batchId"] >= min(burst_ids)], burst_ids))
        layers.update(tr.overhead([(u[1], t[1]) for u, t in tr.pairs(bursts, lambda x: x[0])]))
        layers.update({
            "session.start_s": t2 - t1,
            "session.peak_rss_mb": sum(rss.values()),
            "session.warm_s": t3 - t2,
            "sources.load_s": t_build - t_load,
            "queries.build_s": t_built - t_build,
            "gen.lag_p95_ms": lag_p95_ms,
            "gen.ticks_published": float(n_ticks),
            "streaming.backlog_files_end": float(backlog_end),
        })
        out.layers = layers
    return out
