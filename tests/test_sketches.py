"""Mergeable HLL sketch rollups (operators/sketches.py + q141).

Covers the four claims the operator makes:

1. coupon-regime determinism — at lgk=14 every fixture cardinality sits
   below the SET-mode promotion (measured: exact through ~1.6k
   distinct at lgk=14), so rollup-union, shard-union,
   and single-pass estimates are all EXACTLY the true distinct count;
2. parquet persistence — the binary sketch column survives a
   write -> read roundtrip with an estimate-identical union (the rollup
   is a real table, not a session artifact);
3. incremental maintenance — union(sketches of days 1..k-1) + sketch of
   day k == sketch of all days: ingesting a new bucket never requires
   re-scanning old rows;
4. dense-regime honesty — past the coupon capacity the estimate carries
   DataSketches' order-dependent HIP accumulator, so equality across
   groupings does NOT hold; only the tolerance audit is valid there
   (this is why q141 pins lgk=14 and why hll_rollup_report documents
   its equality flags as coupon-regime-only).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.sketches import (
    hll_direct_estimate,
    hll_overlap_estimates,
    hll_range_estimate,
    hll_rollup,
    hll_rollup_estimate,
    hll_rollup_report,
    hll_rollup_windowed,
)
from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (
    load_table,
)

from conftest import SF001


def _events(spark):
    return load_table(spark, SF001, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )


def test_report_all_flags_true_and_exact(spark):
    rows = hll_rollup_report(
        _events(spark), ["event_type"], "day", "user_id", lgk=14, tol=0.05
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.regime == "coupon"
        assert r.rollup_eq_shard and r.rollup_eq_direct and r.est_ok
        assert r.n_exact == 150 and r.n_buckets == 30


def test_rollup_parquet_roundtrip_estimate_identical(spark, tmp_path):
    """The binary sketch column is a persistable table: write the daily
    rollup to parquet, read it back, and the unioned estimate matches
    the in-memory union exactly."""
    ev = _events(spark)
    rollup = hll_rollup(ev, ["event_type"], "day", "user_id", lgk=14)
    path = os.path.join(str(tmp_path), "rollup")
    rollup.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    mem = {
        r.event_type: r.hll_estimate
        for r in hll_rollup_estimate(rollup, ["event_type"]).collect()
    }
    disk = {
        r.event_type: r.hll_estimate
        for r in hll_rollup_estimate(back, ["event_type"]).collect()
    }
    assert mem == disk
    assert set(mem.values()) == {150}


def test_incremental_bucket_append(spark, tmp_path):
    """Ingesting one new day = sketching ONLY that day's rows and
    appending to the rollup; the union over old+new rollup rows equals
    the from-scratch whole-range sketch."""
    ev = _events(spark)
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    head, tail = days[:-1], days[-1]
    path = os.path.join(str(tmp_path), "rollup_inc")
    hll_rollup(
        ev.where(F.col("day") != tail), ["event_type"], "day", "user_id", lgk=14
    ).write.mode("overwrite").parquet(path)
    # the incremental step: only the new day's rows are touched
    hll_rollup(
        ev.where(F.col("day") == tail), ["event_type"], "day", "user_id", lgk=14
    ).write.mode("append").parquet(path)
    inc = {
        r.event_type: r.hll_estimate
        for r in hll_rollup_estimate(
            spark.read.parquet(path), ["event_type"]
        ).collect()
    }
    full = {
        r.event_type: r.hll_estimate
        for r in hll_direct_estimate(
            ev, ["event_type"], "user_id", lgk=14
        ).collect()
    }
    assert inc == full
    assert len(set(days)) == 30 and len(head) == 29


def test_dense_regime_is_tolerance_only(spark):
    """Past the coupon capacity (here: 20k distinct at lgk=10, capacity
    ~256) estimates are approximate and the equality flags may
    legitimately be false — the order-dependent HIP estimator makes
    different groupings of the same value set disagree within the
    error bound.  The tolerance audit must still hold."""
    n = 20_000
    df = (
        spark.range(0, 5 * n)
        .select(
            (F.col("id") % n).alias("u"),
            (F.col("id") % 16).alias("day"),
            F.lit("g").alias("g"),
        )
    )
    rows = hll_rollup_report(df, ["g"], "day", "u", lgk=10, tol=0.10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.regime == "dense"
    assert r.n_exact == n and r.est_ok
    # Do NOT assert the equality flags here: in the dense regime they
    # are estimator-path artifacts, not invariants.  What must hold is
    # that every path's estimate stays inside the tolerance band.
    est = {
        row.g: row.hll_estimate
        for row in hll_rollup_estimate(
            hll_rollup(df, ["g"], "day", "u", lgk=10), ["g"]
        ).collect()
    }
    assert abs(est["g"] - n) <= 0.10 * n


def test_report_names_the_regime_and_switches_the_audit(spark):
    """The regime detector (folded into hll_rollup_report in the round
    q141 re-entered the window): groups under the ~2^lgk/10 coupon
    planning bound audit with EXACT equality flags; groups past it
    (the 16x-scale-up failure mode the r8 verdict flagged: lgk=14's
    coupon capacity is crossed and equality booleans can false-flag
    on healthy sketches) are NAMED 'dense' and audited on the
    10%-tolerance path only — the only claim the order-dependent HIP
    estimator supports."""
    n_dense, n_coupon = 20_000, 50  # vs lgk=10 capacity ~102
    df = (
        spark.range(0, 5 * n_dense)
        .select(
            F.when(
                F.col("id") % 5 == 0, (F.col("id") / 5).cast("long") % n_coupon
            )
            .otherwise(F.col("id") % n_dense)
            .alias("u"),
            (F.col("id") % 16).alias("day"),
            F.when(F.col("id") % 5 == 0, F.lit("small"))
            .otherwise(F.lit("big"))
            .alias("g"),
        )
    )
    rows = {
        r.g: r
        for r in hll_rollup_report(
            df, ["g"], "day", "u", lgk=10
        ).collect()
    }
    assert rows["small"].regime == "coupon"
    assert rows["big"].regime == "dense"
    # coupon group: the exact-equality contract holds outright
    assert rows["small"].n_exact == n_coupon
    assert rows["small"].rollup_eq_shard and rows["small"].rollup_eq_direct
    assert rows["small"].est_ok
    # dense group: the tolerance path must be green even where the
    # plain report's equality booleans may be false.  (Non-multiples
    # of 5 keep id %% n_dense residues that are non-multiples of 5 ->
    # 4/5 of the domain.)
    assert rows["big"].n_exact == n_dense * 4 // 5
    assert rows["big"].rollup_eq_shard and rows["big"].rollup_eq_direct
    assert rows["big"].est_ok


def test_range_estimate_equals_exact_over_the_range(spark):
    """The rollup's read path: a bucket-range union answers the
    range's distinct count without touching rows — exact in the coupon
    regime."""
    ev = _events(spark)
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    lo, hi = days[4], days[9]
    rollup = hll_rollup(ev, ["event_type"], "day", "user_id", lgk=14)
    got = {
        r.event_type: r.hll_estimate
        for r in hll_range_estimate(
            rollup, ["event_type"], "day", lo, hi
        ).collect()
    }
    want = {
        r.event_type: r.n
        for r in ev.where(F.col("day").between(lo, hi))
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) == 5


def test_overlap_estimates_exact_in_coupon_regime(spark):
    """Inclusion–exclusion intersections from one sketch per label:
    every pairwise |A∩B| equals the exact self-join answer (coupon
    regime ⇒ every term exact ⇒ the subtraction exact), and the
    identities n_union = n_a + n_b − n_intersect / jaccard =
    n_intersect / n_union hold by construction."""
    ev = _events(spark)
    got = {
        (r.label_a, r.label_b): r
        for r in hll_overlap_estimates(
            ev, "event_type", "user_id", lgk=14
        ).collect()
    }
    assert len(got) == 10  # C(5,2) unordered pairs
    a = ev.select(F.col("event_type").alias("ta"), "user_id")
    b = ev.select(F.col("event_type").alias("tb"), "user_id")
    exact = {
        (r.ta, r.tb): r.n
        for r in a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for pair, r in got.items():
        assert r.n_intersect == exact.get(pair, 0)
        assert r.n_union == r.n_a + r.n_b - r.n_intersect
        assert r.jaccard == pytest.approx(r.n_intersect / r.n_union)


def test_overlap_disjoint_sets_exact_zero(spark):
    """Disjoint labels in the exact regime: the union equals the sum
    and the intersection is exactly 0 (union 1200 < the measured
    lgk=14 exactness boundary of ~1609)."""
    df = spark.range(0, 1200).select(
        F.when(F.col("id") < 600, F.lit("x")).otherwise(F.lit("y")).alias("l"),
        F.col("id").alias("v"),
    )
    rows = hll_overlap_estimates(df, "l", "v", lgk=14).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.label_a, r.label_b) == ("x", "y")
    assert r.n_intersect == 0 and r.jaccard == 0.0
    assert r.n_union == 1200 and r.n_a == r.n_b == 600


def test_overlap_dense_regime_clamped_and_in_tolerance(spark):
    """Past the exactness boundary the inclusion–exclusion difference
    carries the union-sized terms' noise (measured: disjoint 1000+1000
    at lgk=14 returns a raw difference of −4) — the clamp must hold the
    floor at 0 and every estimate must stay inside the sketch's error
    band (~1.6% at lgk=12, tested at 5σ)."""
    # x = [0, 25k), y = [15k, 40k): |x| = |y| = 25k, |x∩y| = 10k,
    # |x∪y| = 40k — dense at lgk=12 (boundary ~634), truth by
    # construction.
    x = spark.range(0, 25_000).select(F.lit("x").alias("l"), F.col("id").alias("v"))
    y = spark.range(15_000, 40_000).select(F.lit("y").alias("l"), F.col("id").alias("v"))
    rows = hll_overlap_estimates(x.unionByName(y), "l", "v", lgk=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_intersect >= 0  # the clamp's contract
    tol = 5 * 0.0163  # 5σ at lgk=12
    assert abs(r.n_a - 25_000) <= tol * 25_000
    assert abs(r.n_union - 40_000) <= tol * 40_000
    # the intersection inherits the union-sized terms' absolute error
    assert abs(r.n_intersect - 10_000) <= 3 * tol * 40_000


def test_windowed_rollup_streaming_equals_batch(spark):
    """The production ingest shape: a streaming windowed agg maintains
    the rollup — drained with AvailableNow (append mode: each day's
    sketch emitted once when its window closes, final no-data batch
    flushes the last), the streamed rollup's unioned estimates equal
    the batch windowed rollup's exactly (coupon regime)."""
    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (
        run_to_memory,
        stream_events,
    )

    cols = ("event_type", "ts", "user_id")
    sdf = stream_events(spark, SF001).select(*cols)
    streamed = run_to_memory(
        hll_rollup_windowed(sdf, ["event_type"], "ts", "user_id", lgk=14),
        "hll_windowed",
    )
    batch = hll_rollup_windowed(
        load_table(spark, SF001, "events").select(*cols),
        ["event_type"],
        "ts",
        "user_id",
        lgk=14,
    )

    def est(rollup):
        return {
            r.event_type: r.hll_estimate
            for r in hll_rollup_estimate(rollup, ["event_type"]).collect()
        }

    # Append-mode semantics: a window emits when the watermark passes
    # its END.  The final no-data batch advances the watermark to the
    # max event ts, which is INSIDE the last day — so exactly the 29
    # closed days emit (5 types x 29) and the open day is withheld
    # (the late-data guarantee, not data loss: a later micro-batch
    # with day-31 data would close and emit it).
    last_day = batch.agg(F.max("bucket_start").alias("m")).collect()[0].m
    assert streamed.count() == 145
    assert streamed.agg(F.max("bucket_start")).collect()[0][0] < last_day
    closed_batch = batch.where(F.col("bucket_start") < F.lit(last_day))
    assert est(streamed) == est(closed_batch)
    assert all(v > 0 for v in est(streamed).values()) and len(est(streamed)) == 5


def test_mixed_lgk_union_is_an_error_not_a_downgrade(spark):
    """allowDifferentLgConfigK=false: unioning rollups built at
    different precisions raises instead of silently degrading."""
    ev = _events(spark)
    lo = hll_rollup(ev, ["event_type"], "day", "user_id", lgk=10)
    hi = hll_rollup(ev, ["event_type"], "day", "user_id", lgk=14)
    with pytest.raises(Exception):
        hll_rollup_estimate(lo.unionByName(hi), ["event_type"]).collect()
