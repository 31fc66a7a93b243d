"""Broker-gated Kafka integration test (reference data_processor.py:65-69
produce/consume and :177-183 sink).

This container has no Kafka broker and no network, so O1/O2/O23 are
covered by wrapper + wire-shape capture tests (tests/test_sinks.py:
byte-for-byte serialize_json parity, exactly-once restart).  The test
below gives the wrappers REAL execution coverage the day the environment
provides a broker: set

    KAFKA_BOOTSTRAP=host:9092  pytest tests/test_kafka_broker.py

Requirements when enabled:
  - a reachable broker with auto.create.topics.enable (or pre-created
    test topics),
  - the Spark Kafka connector on the session classpath.  pyspark's
    bundled jars do NOT include spark-sql-kafka; either set
    KAFKA_CONNECTOR_JARS to a local path list (offline) or leave unset
    to resolve ``org.apache.spark:spark-sql-kafka-0-10_2.13:<version>``
    via spark.jars.packages (needs network/ivy cache).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="set KAFKA_BOOTSTRAP=host:port to run the Kafka round-trip "
    "(no broker in this environment)",
)


@pytest.fixture(scope="module")
def kafka_spark():
    import pyspark
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master("local[4]").appName("kafka-it").config(
        "spark.sql.shuffle.partitions", "4"
    ).config("spark.ui.enabled", "false")
    jars = os.environ.get("KAFKA_CONNECTOR_JARS")
    if jars:
        b = b.config("spark.jars", jars)
    else:
        scala = "2.13"
        b = b.config(
            "spark.jars.packages",
            f"org.apache.spark:spark-sql-kafka-0-10_{scala}:"
            f"{pyspark.__version__}",
        )
    spark = b.getOrCreate()
    yield spark
    spark.stop()


def test_produce_readstream_sink_roundtrip(kafka_spark):
    """Batch-produce JSON ticks -> kafka_source (O1 earliest) -> parse ->
    kafka_sink (O23) to a second topic -> batch-read it back and check
    payload parity with serialize_json."""
    from pyspark.sql import functions as F

    from live_market_data_orderflow_analysis_big_data_project__spark.schemas import (  # noqa: E501
        TICK_SCHEMA,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (  # noqa: E501
        drain,
        kafka_sink,
        kafka_source,
        serialize_json,
    )

    spark = kafka_spark
    run = uuid.uuid4().hex[:8]
    topic_in, topic_out = f"graft_in_{run}", f"graft_out_{run}"

    ticks = spark.range(20).select(
        F.to_json(
            F.struct(
                F.concat(F.lit("SYM"), (F.col("id") % 4)).alias("symbol"),
                (F.col("id") * 1.5 + 100.0).alias("ltp"),
                F.col("id").alias("seq"),
            )
        ).alias("value")
    )
    ticks.write.format("kafka").option(
        "kafka.bootstrap.servers", BOOTSTRAP
    ).option("topic", topic_in).save()

    src = kafka_source(spark, BOOTSTRAP, topic_in, "earliest")
    parsed = src.select(
        F.from_json(
            "json_str", "symbol string, ltp double, seq long"
        ).alias("t")
    ).select("t.*")

    ckpt = tempfile.mkdtemp(prefix="kafka_ckpt_")
    q = kafka_sink(parsed, BOOTSTRAP, topic_out, ckpt).trigger(
        availableNow=True
    ).start()
    drain(q, 120)

    back = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", topic_out)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(value AS STRING) AS v")
    )
    rows = {r.v for r in back.collect()}
    assert len(rows) == 20
    # wire parity: every payload is serialize_json's to_json(struct(*))
    # shape — re-parseable with the producing schema (the consumer-side
    # contract candle_to_hdfs.py:45-47 relies on)
    reparsed = (
        spark.createDataFrame([(v,) for v in rows], "v string")
        .select(
            F.from_json(
                "v", "symbol string, ltp double, seq long"
            ).alias("t")
        )
        .select("t.*")
    )
    assert reparsed.filter(F.col("symbol").isNull()).count() == 0
    assert {r.seq for r in reparsed.collect()} == set(range(20))
    _ = (serialize_json, TICK_SCHEMA)  # exercised via kafka_sink above


def test_source_latest_offsets(kafka_spark):
    """O2: startingOffsets=latest sees only post-subscription records."""
    from pyspark.sql import functions as F

    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (  # noqa: E501
        kafka_source,
    )

    spark = kafka_spark
    run = uuid.uuid4().hex[:8]
    topic = f"graft_latest_{run}"
    pre = spark.range(5).select(
        F.to_json(F.struct(F.col("id"))).alias("value")
    )
    pre.write.format("kafka").option(
        "kafka.bootstrap.servers", BOOTSTRAP
    ).option("topic", topic).save()

    src = kafka_source(spark, BOOTSTRAP, topic, "latest")
    ckpt = tempfile.mkdtemp(prefix="kafka_latest_")
    q = (
        src.writeStream.format("memory")
        .queryName(f"latest_{run}")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        n_pre = spark.sql(f"SELECT count(*) c FROM latest_{run}").first().c
        assert n_pre == 0, "latest offsets must skip pre-existing records"
        post = spark.range(3).select(
            F.to_json(F.struct(F.col("id"))).alias("value")
        )
        post.write.format("kafka").option(
            "kafka.bootstrap.servers", BOOTSTRAP
        ).option("topic", topic).save()
        q.processAllAvailable()
        n_post = spark.sql(f"SELECT count(*) c FROM latest_{run}").first().c
        assert n_post == 3
    finally:
        q.stop()
