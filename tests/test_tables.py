"""``load_table`` infers a Parquet file's schema once per session: a
later load of the unchanged file submits no Spark job, a rewritten file
is inferred again, a new session infers again, and every load is still
a fresh relation."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampType

import __spark_entry__ as ent
from conftest import SF001
from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (  # noqa: E501
    load_table,
)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench's orderflow_queries mix
MIX = ("q07", "q21", "q26", "q48", "q150", "q155")


def _jobs(spark, fn):
    """Run ``fn``; return its result and the ids of the Spark jobs it
    submitted on this thread."""
    sc = spark.sparkContext
    group = f"test_tables_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write(directory, name: str, columns: dict) -> str:
    pq.write_table(pa.table(columns), os.path.join(directory, f"{name}.parquet"))
    return str(directory)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_second_load_of_unchanged_file_submits_no_job(spark, tmp_path):
    d = _write(tmp_path, "t", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first, jobs = _jobs(spark, lambda: load_table(spark, d, "t"))
    assert jobs, "schema inference submits a job; the check must see it"
    second, jobs = _jobs(spark, lambda: load_table(spark, d, "t"))
    assert jobs == []
    assert second.schema == first.schema
    assert _rows(second) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = _write(tmp_path, "t", {"k": [1, 2, 3]})
    assert _rows(load_table(spark, d, "t")) == [(1,), (2,), (3,)]
    _write(tmp_path, "t", {"k": [7, 8], "extra": ["x", "y"]})
    df = load_table(spark, d, "t")
    assert df.columns == ["k", "extra"]
    assert _rows(df) == [(7, "x"), (8, "y")]


def test_non_local_path_is_left_to_spark(spark, tmp_path):
    d = _write(tmp_path, "t", {"k": [1, 2]})
    assert _rows(load_table(spark, f"file://{d}", "t")) == [(1,), (2,)]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, d, "missing")


def test_two_loads_self_join_on_distinct_attributes(spark, tmp_path):
    d = _write(tmp_path, "t", {"k": [1, 1, 2, 3], "v": [10, 11, 20, 30]})
    load_table(spark, d, "t")  # the schema is remembered from here on
    a = load_table(spark, d, "t").alias("a")
    b = load_table(spark, d, "t").alias("b")
    # one shared plan would give both sides the same attributes: a.v and
    # b.v would then be ambiguous
    pairs = _rows(a.join(b, a.k == b.k).select(a.v, b.v))
    assert pairs == [(10, 10), (10, 11), (11, 10), (11, 11), (20, 20), (30, 30)]


def test_raw_nanosecond_timestamps_stay_int64(spark, tmp_path):
    ns = [1_000_001_999, 2_000_000_000]
    d = _write(tmp_path, "events", {"ts": pa.array(ns, pa.timestamp("ns"))})
    for _ in range(2):  # inferred, then remembered
        raw = load_table(spark, d, "events", normalize=False)
        assert isinstance(raw.schema["ts"].dataType, LongType)
        assert _rows(raw) == [(n,) for n in ns]
    norm = load_table(spark, d, "events")
    assert isinstance(norm.schema["ts"].dataType, TimestampType)
    assert [r.ts.microsecond for r in norm.orderBy("ts").collect()] == [1, 0]


def test_new_session_after_stop_infers_again(tmp_path):
    """Runs in its own interpreter: stopping the shared test session
    would stop every later test's."""
    d = _write(tmp_path, "t", {"k": [1, 2]})
    code = f"""
import uuid
from pyspark.sql import SparkSession
from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import load_table

def jobs(spark):
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    load_table(spark, {d!r}, "t")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false").getOrCreate())

spark = session()
counts = [jobs(spark), jobs(spark)]
spark.stop()
spark = session()
counts.append(jobs(spark))
spark.stop()
print(*counts)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=HERE, capture_output=True,
        text=True, check=True, timeout=300,
    )
    first, again, new_session = map(int, out.stdout.split())
    assert first > 0 and again == 0 and new_session > 0


def test_warm_mix_builds_submit_no_job(spark):
    """After one warm build, building each perfbench mix entry runs no
    Spark job: every job of a pass is then the entry's execution."""
    qs = ent.queries()
    full = {k.split("_", 1)[0]: k for k in qs}
    for short in MIX:
        qs[full[short]](spark, SF001)
    for short in MIX:
        _, jobs = _jobs(spark, lambda: qs[full[short]](spark, SF001))
        assert jobs == [], f"{full[short]} build submitted jobs {jobs}"
