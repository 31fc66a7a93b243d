"""operators/kmv.py — KMV (bottom-k theta) sketch algebra.

The q145_kmv_setops oracle entry proves the unsaturated/exact regime
against DuckDB at three sfs (SWEEP.json); these tests
pin what the gate cannot: saturated-regime estimation error, the
set-op estimates under saturation (the regime production runs in at
100 TB cardinalities), merge losslessness/idempotence, and the
no-Python-in-plan claim.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.kmv import (
    kmv_estimate,
    kmv_merge,
    kmv_setop_estimates,
    kmv_sketch,
    kmv_union_pair,
)

from conftest import SF001


def _range_df(spark, lo, hi, label):
    return spark.range(lo, hi).select(
        F.lit(label).alias("label"), F.col("id").alias("v")
    )


def test_unsaturated_sketch_is_exact_and_sorted(spark):
    df = _range_df(spark, 0, 300, "a")
    row = kmv_sketch(df, ["label"], "v", k=512).collect()[0]
    assert len(row.kmv) == 300  # all 300 distinct hashes retained
    assert row.kmv == sorted(row.kmv)
    est = (
        kmv_sketch(df, ["label"], "v", k=512)
        .select(kmv_estimate(F.col("kmv"), 512).alias("e"))
        .collect()[0]
        .e
    )
    assert est == 300.0


def test_saturated_estimate_within_rse(spark):
    n, k = 20_000, 256  # RSE ~ 1/sqrt(k-2) ~ 6.3%; assert 4 sigma
    df = _range_df(spark, 0, n, "a")
    sk = kmv_sketch(df, ["label"], "v", k=k)
    row = sk.select(F.size("kmv").alias("s"), kmv_estimate(F.col("kmv"), k).alias("e")).collect()[0]
    assert row.s == k  # saturated: bounded state
    assert abs(row.e / n - 1.0) < 0.25


def test_setop_estimates_saturated(spark):
    # A = [0, 12000), B = [6000, 18000): |A|=|B|=12000, inter=6000,
    # union=18000, each difference=6000.  k=512 -> RSE ~4.4% on the
    # union; the conditional (intersection/difference) estimates add
    # sampling noise ~1/sqrt(k/3); assert a generous 5-sigma ~25%.
    df = _range_df(spark, 0, 12_000, "a").unionAll(
        _range_df(spark, 6_000, 18_000, "b")
    )
    r = kmv_setop_estimates(df, "label", "v", k=512).collect()[0]
    assert not r.exact_regime
    for got, want in [
        (r.n_a, 12_000),
        (r.n_b, 12_000),
        (r.n_union, 18_000),
        (r.n_intersect, 6_000),
        (r.n_a_not_b, 6_000),
        (r.n_b_not_a, 6_000),
    ]:
        assert abs(got / want - 1.0) < 0.25, (got, want)
    assert abs(r.jaccard - 6_000 / 18_000) < 0.1


def test_merge_equals_direct_build(spark):
    # Bucketed build (the rollup path) merged back to label grain is
    # ARRAY-IDENTICAL to the direct build — KMV merge is lossless
    # w.r.t. the sketch definition, at saturation too (k=64 < 150
    # distinct users at sf0.01).
    ev = spark.read.parquet(f"{SF001}/events.parquet").select(
        "event_type", F.pmod("user_id", F.lit(4)).alias("shard"), "user_id"
    )
    direct = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    sharded = kmv_sketch(ev, ["event_type", "shard"], "user_id", k=64)
    merged = kmv_merge(sharded.select("event_type", "kmv"), ["event_type"], k=64)
    joined = (
        direct.withColumnRenamed("kmv", "d")
        .join(merged.withColumnRenamed("kmv", "m"), "event_type")
        .select((F.col("d") == F.col("m")).alias("ok"))
        .collect()
    )
    assert len(joined) == 5 and all(r.ok for r in joined)


def test_union_pair_idempotent_and_bounded(spark):
    ev = spark.read.parquet(f"{SF001}/events.parquet")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    rows = sk.select(
        F.size("kmv").alias("s"),
        (kmv_union_pair(F.col("kmv"), F.col("kmv"), 64) == F.col("kmv")).alias(
            "idem"
        ),
    ).collect()
    assert all(r.s <= 64 for r in rows)
    assert all(r.idem for r in rows)


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2)], "label string, v long"
    )
    row = kmv_sketch(df, ["label"], "v", k=8).collect()[0]
    assert len(row.kmv) == 2


@pytest.mark.parametrize("probe", ["BatchEvalPython", "ArrowEvalPython"])
def test_no_python_in_q145_plan(spark, probe):
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
        q145_kmv_setops,
    )

    plan = q145_kmv_setops(spark, SF001)._jdf.queryExecution().executedPlan().toString()
    assert probe not in plan
