"""Batch table loaders for the driver fixtures (TESTDATA.md).

Generalizes the reference's batch Parquet read-back path
(reference README.md:386-391: ``spark.read.parquet(...)``), with timestamp
normalization for the two fixture encodings seen across driver builds:

- TIMESTAMP(NANOS): Spark's reader rejects it; under
  ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as int64
  nanoseconds and we truncate-divide to microseconds (``ts div 1000``) —
  exactly what DuckDB does when it reads the same file.
- naive TIMESTAMP(MICROS): Spark 4 surfaces it as TIMESTAMP_NTZ unless
  ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (set in
  session.ENGINE_CONFS).  Should a session still hand us NTZ (conf applied
  after a cached scan, foreign session), we cast it to session-tz TIMESTAMP
  here — a wall-clock no-op under the enforced UTC zone, and the type
  ``withWatermark`` and the DuckDB oracle both expect.

Spark infers a Parquet schema with one job per read.  Entries reload the
same unchanged fixtures again and again in one session, so each
session remembers the schema it inferred for a local file, stamped with
the file's ``(st_mtime_ns, st_size)``, and later loads pass it to the
reader: no job.  Only the schema is remembered, never the DataFrame:
every load is a fresh relation (new attribute ids, a fresh file
listing), so two loads of one table still self-join.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..session import ensure_engine_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, normalize: bool = True
) -> DataFrame:
    """Load one fixture table, normalizing nanosecond timestamps.

    ``normalize=False`` returns the raw frame (``events.ts`` as int64
    nanoseconds) — the streaming file source needs this schema to read the
    same files before applying its own normalization.
    """
    # every call: these confs decide what inference returns
    ensure_engine_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if normalize:
        df = normalize_timestamps(df, name)
    return df


# session -> {absolute path: ((st_mtime_ns, st_size), inferred schema)}.
# Concurrent loads need no lock: each stored schema was inferred after
# its stamp was taken, so a lost update costs one more inference.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    session's first read of a local file or after its stamp changed."""
    try:
        # stat before inferring: a file rewritten in between is stored
        # under its old stamp, so the next load infers again
        st = os.stat(path)
    except OSError:  # not a local file: Spark resolves (or rejects) it
        return spark.read.parquet(path)
    key, stamp = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    known = _SCHEMAS.setdefault(spark, {})
    hit = known.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    known[key] = (stamp, df.schema)
    return df


def normalize_timestamps(df: DataFrame, name: str = "events") -> DataFrame:
    """Normalize fixture timestamp encodings to session-tz TIMESTAMP."""
    if name == "events" and "ts" in df.columns and isinstance(
        df.schema["ts"].dataType, LongType
    ):
        # int64 nanoseconds -> timestamp (microsecond precision, floor-div,
        # matching DuckDB's ns->us truncation of the same parquet column).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for c in ntz:
        # Naive UTC fixture under a UTC session: cast preserves wall-clock.
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each fixture as a temp view (for spark.sql entry points)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
