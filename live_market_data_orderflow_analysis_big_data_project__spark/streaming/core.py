"""Structured Streaming sources, sinks, and stateful operators.

Reference parity (SURVEY.md section 2.1): the reference IS a streaming
pipeline — Kafka source (data_processor.py:65-69), 5-minute watermark
(:142), windowed stateful agg (:144-157), Kafka sink (:177-183), and a
date-partitioned parquet sink with a 10-second processing-time trigger and
checkpoint (tick_to_hdfs.py:62-71).  This container has no Kafka broker, so
the replay source is Spark's FILE streaming source over the driver's
parquet fixtures — the same micro-batch machinery (offsets log, watermark
state, checkpointed sinks) with a swappable source; ``kafka_source`` below
shows the one-line Kafka equivalent for a real deployment.

Scale posture: every stateful op is keyed (watermark bounds state, no
global aggregation without a window), sinks partition by date (reference
tick_to_hdfs.py:67), and for 100 TB state the session factory can opt into
the RocksDB state store (see session.py).
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..sources.tables import load_table

_qid = itertools.count()


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source replay of the ``events`` fixture as a streaming frame."""
    return stream_table(spark, sf_dir, "events", max_files_per_trigger)


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source replay of a fixture table as a streaming frame.

    Streaming twin of sources/tables.py::load_table: the file source
    needs an explicit schema, taken from the batch loader (which
    remembers it per session), and the same timestamp normalization
    follows; the glob pins the single table file so sibling tables in
    the fixture dir are not picked up."""
    raw_schema = load_table(spark, sf_dir, name, normalize=False).schema
    reader = spark.readStream.schema(raw_schema).option(
        "pathGlobFilter", f"{name}.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ts(reader.parquet(sf_dir))


def stream_events_dir(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream an arbitrary directory of event-shaped parquet files
    (replay harness / tests): files appearing later are later micro-batches.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ts(reader.parquet(path))


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize the event-time column to session-tz TIMESTAMP.

    Handles both fixture encodings: int64 nanoseconds (legacy nanos read)
    and TIMESTAMP_NTZ (naive micros under Spark 4's NTZ inference, which
    ``withWatermark`` rejects).  Cast is wall-clock-exact under the
    enforced UTC session zone.
    """
    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (reference data_processor.py:65-69 / tick_to_hdfs.py:20-25).

    Not runnable in this container (no broker); kept as the deployment
    path — everything downstream is source-agnostic.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS json_str", "timestamp")
    )


# ---------------------------------------------------------------------------
# Sinks / runners
# ---------------------------------------------------------------------------


# One state store (plus, for Python stateful ops, one worker+state-server
# handshake; for stream-stream joins, four stores) exists PER partition PER
# stateful operator.  The demo streams carry ~1.5k keys, where one
# partition per core of a 32-core host is pure overhead; a deployment
# with 10^8 keys raises it instead (docs/TUNING.md).
STATE_PARTITIONS = 8


@contextmanager
def state_partitions(spark: SparkSession):
    """Temporarily pin ``spark.sql.shuffle.partitions`` to
    ``STATE_PARTITIONS`` while a streaming query STARTS (the stateful
    operators capture the count at first-batch planning and keep it for
    the checkpoint's lifetime)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming frame to completion (AvailableNow) into a memory
    sink and return the collected batch DataFrame.

    AvailableNow processes every available input split into micro-batches,
    advances the watermark, runs the final no-data batch that flushes
    closed windows, then terminates — which is what makes streaming
    queries expressible under the driver's batch ``queries()`` contract.
    A query still running after ``timeout_s`` is stopped and raises
    ``TimeoutError`` (see :func:`drain`) instead of returning a partial
    table.
    """
    qname = f"{name}_{next(_qid)}"
    spark = sdf.sparkSession
    with state_partitions(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        drain(q, timeout_s)
    return spark.table(qname)


def drain(q, timeout_s: float) -> None:
    """Wait for a terminating (AvailableNow) query to finish.

    A failed query raises its StreamingQueryException.  A query still
    running after ``timeout_s`` is stopped and raises ``TimeoutError``:
    its sink holds only the batches committed so far, and left running
    it would compete with whatever runs next."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not finish within {timeout_s}s; "
            "stopped"
        )


def run_paced_to_memory(
    sdf: DataFrame,
    name: str,
    expected_rows: int,
    timeout_s: int = 120,
) -> DataFrame:
    """Run a paced streaming source to a memory sink until it has
    delivered ``expected_rows``, then stop.

    For sources that reveal data incrementally through ``latestOffset``
    (sources/pydatasource.py's stream reader): AvailableNow would drain
    only to the FIRST poll's offset, so this uses a continuous
    processing-time trigger and watches the sink — exercising real
    multi-micro-batch offset progression (poll -> plan -> commit per
    batch), which is the point of the paced source.
    """
    import time as _time

    qname = f"{name}_{next(_qid)}"
    spark = sdf.sparkSession
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + timeout_s
    # Driver-side sink polling is fine HERE because this is the test/demo
    # harness for the paced source (memory sink is driver-resident by
    # definition); production paths drain via checkpointed file/kafka
    # sinks and never poll counts on the driver.
    while _time.time() < deadline:
        if spark.table(qname).count() >= expected_rows:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    delivered = spark.table(qname).count()
    if delivered < expected_rows:
        # A silent partial table would surface later as an opaque hash
        # mismatch in the correctness gate; fail here with the real cause
        # (pacing/environment under-delivery) instead.
        raise TimeoutError(
            f"{qname}: stream delivered {delivered}/{expected_rows} rows "
            f"within {timeout_s}s — under-delivery, not a result mismatch"
        )
    return spark.table(qname)


def parquet_sink(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("date",),
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Date-partitioned parquet sink with checkpoint (reference
    tick_to_hdfs.py:62-71: partitionBy("date"), append mode, checkpointed,
    10-second processing-time trigger).

    ``available_now=True`` drains the source and terminates (test mode);
    pass ``processing_time="10 seconds"`` instead for the reference's
    continuous cadence.  Exactly-once comes from the checkpointed offsets
    plus the sink's _spark_metadata transaction log.
    """
    w = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    elif available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def serialize_json(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Pack every column into a JSON ``value`` (+ optional ``key``) —
    the Kafka wire shape (reference data_processor.py:175:
    ``to_json(struct("*"))`` feeding the candle topic).

    The output frame plugs straight into ``writeStream.format("kafka")``;
    ``from_json`` with the matching schema inverts it downstream
    (candle_to_hdfs.py:46, data_plotter.py:61-78).
    """
    out = df.select(
        *([F.col(key_col).cast("string").alias("key")] if key_col else []),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    return out


# ---------------------------------------------------------------------------
# Stateful operators
# ---------------------------------------------------------------------------


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding event-time window counts (each event lands in
    window/slide overlapping panes)."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window, slide).alias("w"), key_col)
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm").alias("window_end"),
            key_col,
            "n",
        )
    )


def session_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows per key: a session extends while events arrive
    within ``gap`` of the previous one."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup bounded by the watermark: duplicates arriving
    within ``watermark`` of the first copy are dropped; state for older
    keys is evicted (bounded memory at 100 TB)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def running_vwap(
    df: DataFrame, timeout_s: int | None = None, price_scale: int = 100
) -> DataFrame:
    """Custom per-key state: running VWAP per user via
    ``applyInPandasWithState`` (price=value, qty=1).

    Output (update mode): one row per key per micro-batch with the running
    (n_events, vwap).  State is three scalars per key — constant-size
    per-key state, safe at any scale.

    The price sum accumulates in INTEGER ticks (``round(value *
    price_scale)`` — market prices are discrete multiples of the tick
    size, cents here), not floats: float accumulation is
    summation-order-dependent (pandas pairwise vs streaming), so the
    final state would drift with micro-batch boundaries and could not be
    hash-gated against a batch oracle.  Integer sums are exact and
    batching-independent up to 2^53 ticks (~9e13 dollars of notional per
    key at cents) — overflow at 100 TB means a single key's notional
    exceeded that, at which point widen the state to a decimal string.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_pv_ticks long, vwap double"
    state_schema = "n long, sum_pv_ticks long, sum_q long"

    def update(key, pdf_iter, state: GroupState):
        n, sum_pv_ticks, sum_q = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            v = pdf["value"].astype("float64")
            n += len(v)
            sum_pv_ticks += int(np.rint(v * price_scale).sum())  # qty == 1
            sum_q += len(v)
        state.update((n, sum_pv_ticks, sum_q))
        # sum_pv_ticks rides along so consumers needing a hash-exact
        # rounded VWAP can derive it in integer arithmetic (sblock s08)
        # instead of ROUND()ing the quotient — ROUND-on-double semantics
        # differ across engines at shortest-repr half boundaries.
        vwap = sum_pv_ticks / (price_scale * sum_q) if sum_q else None
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_pv_ticks": [sum_pv_ticks],
                "vwap": [vwap],
            }
        )

    return df.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def asof_quote_enrich(
    df: DataFrame,
    quote_side: str = "view",
    trade_side: str = "purchase",
) -> DataFrame:
    """Streaming as-of enrichment: each TRADE is emitted exactly once,
    carrying the latest QUOTE of the same key strictly before it — the
    orderflow capability q25/asof_join covers in batch, as a custom
    stateful operator (``applyInPandasWithState`` keyed by user,
    EventTimeTimeout — the s08 surface with real event-time state).

    Input: a streaming frame with a WATERMARK already attached to
    ``ts`` and columns (user_id, event_id, ts, event_type, cents);
    rows whose event_type is neither side must be filtered by the
    caller AFTER the watermark attaches (the s20 splice discipline —
    every event advances the watermark).

    Emission discipline (what makes the drained output deterministic
    and batch-equal): a trade is held in state until the WATERMARK
    passes its event time (trade_us < watermark_ms·1000 — Spark
    tracks event-time stats in whole milliseconds), because only then
    is the quote set at-or-before it closed — any later-arriving
    quote strictly before an emitted trade would be late beyond the
    watermark and dropped at the EventTimeWatermark node, never
    reaching this operator.  Held trades flush via event-time TIMEOUT
    (armed AT the earliest pending trade's ms — Spark fires timeouts
    strictly below the watermark, so ms+1 would permanently hold a
    last-millisecond trade; pinned by test_last_ms_trade_emits) when
    the watermark advances on other keys' data or on the AvailableNow
    final no-data batch — the same mechanism that closes the reference's candle
    windows.  Under a single-file replay the entire corpus lands in
    micro-batch 1 with watermark 0, so EVERY emission rides the
    timeout path of the final no-data batch — the gate exercises the
    timeout machinery by construction.

    As-of semantics (exact, integer microseconds): quote strictly
    before trade (quote_us < trade_us), latest by (us, event_id) —
    the q184 strictly-before / id tie-break contract; trades with no
    prior quote emit with NULL quote columns (surfaced, not dropped).

    State per key: the pending-trade buffer (trades above the
    watermark — bounded by the disorder window) plus the quote buffer
    pruned to the single latest quote below the watermark + quotes at
    or above it (any future trade has ts >= watermark, so older
    quotes are dominated) — bounded state at any scale, the
    watermark-bounded-buffer shape the reference's processor never
    achieves (its debug sinks buffer unboundedly).
    """
    import bisect

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, event_id long, t_us long, trade_cents long, "
        "quote_event_id long, quote_cents long, gap_us long"
    )
    state_schema = (
        "qus array<long>, qid array<long>, qpx array<long>, "
        "tus array<long>, tid array<long>, tpx array<long>"
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            qus, qid, qpx, tus, tid, tpx = (list(a) for a in state.get)
        else:
            qus, qid, qpx, tus, tid, tpx = [], [], [], [], [], []
        for pdf in pdf_iter:
            us = (pdf["ts"].astype("int64") // 1000).tolist()
            for u, i, px, side in zip(
                us, pdf["event_id"], pdf["cents"], pdf["event_type"]
            ):
                if side == quote_side:
                    qus.append(int(u)); qid.append(int(i)); qpx.append(int(px))  # noqa: E702
                elif side == trade_side:
                    tus.append(int(u)); tid.append(int(i)); tpx.append(int(px))  # noqa: E702
        w_us = state.getCurrentWatermarkMs() * 1000
        quotes = sorted(zip(qus, qid, qpx))
        rows, pend = [], []
        for u, i, px in sorted(zip(tus, tid, tpx)):
            if u >= w_us:
                pend.append((u, i, px))
                continue
            pos = bisect.bisect_left(quotes, (u,))
            if pos:
                q_u, q_i, q_px = quotes[pos - 1]
                rows.append((key[0], i, u, px, q_i, q_px, u - q_u))
            else:
                rows.append((key[0], i, u, px, None, None, None))
        # prune: latest quote below the watermark + everything at/above
        cut = bisect.bisect_left(quotes, (w_us,))
        quotes = quotes[max(0, cut - 1):]
        if pend or quotes:
            state.update((
                [q[0] for q in quotes],
                [q[1] for q in quotes],
                [q[2] for q in quotes],
                [t[0] for t in pend],
                [t[1] for t in pend],
                [t[2] for t in pend],
            ))
            if pend:
                # arm at the earliest pending trade's ms EXACTLY: Spark
                # fires event-time timeouts when timeout < watermark
                # STRICTLY, and this trade becomes emittable when
                # t_ms < watermark — the two edges coincide only if the
                # timeout IS t_ms (t_ms + 1 would permanently hold a
                # trade in the final millisecond before max(ts)).  The
                # API allows == current watermark (only < raises), and
                # pend us >= watermark us guarantees >=.
                state.setTimeoutTimestamp(min(t[0] for t in pend) // 1000)
        else:
            state.remove()
        if rows:
            out = pd.DataFrame(
                rows,
                columns=[
                    "user_id", "event_id", "t_us", "trade_cents",
                    "quote_event_id", "quote_cents", "gap_us",
                ],
            )
            for c in ("quote_event_id", "quote_cents", "gap_us"):
                out[c] = out[c].astype("Int64")
            yield out

    return (
        df.select("user_id", "event_id", "ts", "event_type", "cents")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def order_flow_state(df: DataFrame) -> DataFrame:
    """Custom per-key state via ``transformWithStateInPandas`` (Spark 4's
    arbitrary-stateful API, successor to ``applyInPandasWithState``):
    running per-user event counts split by type — the order-flow
    imbalance counter, integer-only so the final state is hash-exact
    against a batch SQL twin.

    Differences from the older API that matter at 100 TB: state lives in
    named typed handles (``ValueState`` here; List/MapState for larger
    shapes) backed by the RocksDB provider (required by this API — and
    the right provider for 10^8-key state anyway), with TTL support and
    timers available on the same handle.  Output (update mode): one row
    per key per micro-batch with the running totals.

    ENVIRONMENT GATE: the transformWithState worker protocol needs
    ``google.protobuf``, which this container lacks (pip installs are
    not possible).  The plan builds fine; STARTING the stream raises
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE here.  The runnable
    stateful path in this environment stays :func:`running_vwap`
    (applyInPandasWithState, gate query s08);
    tests/test_streaming.py::test_order_flow_state_api skips unless
    protobuf is importable and documents exactly this boundary.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = "user_id long, n_events long, n_buy long, n_sell long"

    class FlowCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._acc = handle.getValueState(
                "acc", "n long, n_buy long, n_sell long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, n_buy, n_sell = (
                tuple(self._acc.get()) if self._acc.exists() else (0, 0, 0)
            )
            for pdf in rows:
                et = pdf["event_type"]
                n += len(et)
                n_buy += int((et == "purchase").sum())
                n_sell += int((et == "view").sum())
            self._acc.update((n, n_buy, n_sell))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_buy": [n_buy],
                    "n_sell": [n_sell],
                }
            )

        def close(self) -> None:
            pass

    return (
        df.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            FlowCounter(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


@contextmanager
def rocksdb_state(spark: SparkSession):
    """Temporarily switch the streaming state store to RocksDB (required
    by transformWithState; the 100 TB-posture provider regardless) for
    queries STARTED inside the context."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def kafka_sink(
    sdf: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
    processing_time: str | None = None,
):
    """Kafka sink (reference data_processor.py:177-183: append-mode
    streaming write of ``to_json(struct(*))`` rows, checkpointed).

    Columns are packed to the Kafka wire shape by :func:`serialize_json`.
    Not runnable in this container (no broker) — the started query would
    fail to connect; everything upstream is sink-agnostic, so tests cover
    the payload shape and the runnable sinks cover the trigger/checkpoint
    mechanics.
    """
    wire = serialize_json(sdf, key_col=key_col)
    w = (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    return w


def kafka_sink_capture(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str | None = None,
    available_now: bool = True,
):
    """In-environment capture of the EXACT Kafka-sink wire frame.

    :func:`kafka_sink` cannot run here (no broker), so this writes the
    identical frame it would hand the Kafka writer — ``serialize_json``'s
    (key, value) columns (reference data_processor.py:177-183) — through a
    checkpointed ``foreachBatch`` that lands each micro-batch in a
    ``batch_id=N`` subdirectory with overwrite mode.  Checkpointed offsets
    make a restarted query re-run the SAME batch ids, and per-batch-id
    overwrite makes the re-run idempotent — the foreachBatch analogue of
    the parquet sink's ``_spark_metadata`` transaction log, and the same
    effectively-once contract an idempotent/transactional producer gives
    the real Kafka sink.  Downstream readers see the payload exactly as a
    consumer would (candle_to_hdfs.py:45-47 re-parses it with
    ``from_json``), so wire-format parity is testable byte-for-byte.
    """
    wire = serialize_json(sdf, key_col=key_col)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return foreach_batch_sink(wire, write, checkpoint, available_now=available_now)


def console_sink(
    sdf: DataFrame,
    num_rows: int = 20,
    truncate: bool = True,
    available_now: bool = True,
):
    """Console sink (reference O25, data_processor.py:74-79 and 4 more):
    the debug tap.  The reference runs FIVE of these concurrently against
    one topic, re-reading the source per sink — here it is opt-in, one at
    a time, for the same reason the engine doesn't replicate the six-query
    fan-out (SURVEY.md section 3.1 step 2).
    """
    w = (
        sdf.writeStream.format("console")
        .option("numRows", num_rows)
        .option("truncate", truncate)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def foreach_batch_sink(
    sdf: DataFrame,
    batch_fn,
    checkpoint: str,
    available_now: bool = True,
):
    """``foreachBatch`` sink: hand each micro-batch to ``batch_fn(df,
    batch_id)`` as a BATCH DataFrame, where batch-only operations are legal.

    This is the correct home for the reference's broken streaming sort
    (candle_to_hdfs.py:53 orderBy on an unaggregated stream raises
    AnalysisException at start()): sort INSIDE the batch function instead —
    see :func:`sorted_parquet_batch_writer`.
    """
    w = (
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def sorted_parquet_batch_writer(path: str, sort_cols: tuple[str, ...]):
    """Batch function for :func:`foreach_batch_sink`: per-batch sort +
    parquet append — the legal replacement for the reference's streaming
    ``orderBy``.  The sort cost is bounded by the micro-batch (not the
    stream), which is why it's fine here and impossible on the unbounded
    frame; readers wanting TOTAL order across batches sort at read time."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.orderBy(*sort_cols).write.mode("append").parquet(path)

    return write
