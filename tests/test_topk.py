"""Mergeable top-k heavy-hitter rollups (operators/topk.py).

The contract under test is the lossy-counting certificate, not "the
estimate is usually right": for every item the merged est/upper pair
must BRACKET the true count, and whenever a read says certified=true
the returned set must equal the exact top-k set.  Plus the family
invariant shared with hll_rollup/hist_rollup: with a wide-enough keep
(m >= per-bucket distinct items) nothing is dropped and every number
is exact under ANY bucketing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.topk import (
    topk_merge,
    topk_read,
    topk_rollup,
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


def _exact_counts(ev):
    return {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_wide_keep_is_exact_under_any_bucketing(spark):
    """m >= per-bucket distinct items: tail_bound 0 everywhere, the
    merged counts ARE the exact counts, est == upper, and day-bucketing
    equals hash-shard-bucketing exactly."""
    ev = _events(spark)
    exact = _exact_counts(ev)

    def merged_counts(bucket):
        roll = topk_rollup(ev, ["event_type"], bucket, "user_id", m=1000)
        assert roll.agg(F.max("tail_bound")).collect()[0][0] == 0
        return {
            (r.event_type, r.item): (r.est, r.upper)
            for r in topk_merge(roll, ["event_type"]).collect()
        }

    by_day = merged_counts("day")
    by_shard = merged_counts(F.pmod(F.xxhash64("user_id"), F.lit(7)).alias("b"))
    assert by_day == by_shard
    assert {k: v[0] for k, v in by_day.items()} == exact
    assert all(est == up for est, up in by_day.values())


def test_narrow_keep_brackets_truth_and_certificate_is_honest(spark):
    """m small enough to force drops: every reported item's true count
    sits in [est, upper]; a certified read returns exactly the true
    top-k set."""
    ev = _events(spark)
    exact = _exact_counts(ev)
    roll = topk_rollup(ev, ["event_type"], "day", "user_id", m=16)
    assert roll.agg(F.max("tail_bound")).collect()[0][0] > 0  # drops happened
    merged = topk_merge(roll, ["event_type"])
    for r in merged.collect():
        true = exact[(r.event_type, r.item)]
        assert r.est <= true <= r.upper, (r.event_type, r.item, r.est, true, r.upper)

    read = topk_read(merged, ["event_type"], k=5).collect()
    by_group = {}
    for r in read:
        by_group.setdefault(r.event_type, []).append(r)
    true_topk = {}
    for (et, uid), n in exact.items():
        true_topk.setdefault(et, []).append((n, uid))
    for et, rows in by_group.items():
        assert len(rows) == 5
        if rows[0].certified:
            want = {uid for n, uid in sorted(true_topk[et], key=lambda t: (-t[0], t[1]))[:5]}
            assert {r.item for r in rows} == want, et


def test_certificate_refuses_an_undecidable_read(spark):
    """Adversarial shape: a 'hidden heavy hitter' spread thinly across
    buckets — in every bucket it falls below the top-m cut, so the
    merge cannot see it.  The certificate MUST come back false (error
    detected, never silent): the true #1 item is absent from the kept
    maps entirely."""
    # 20 buckets; items 0..9 at 3x/bucket (true count 60 each), item
    # 99 at 2x/bucket (40 total).  With m=5 only items 0..4 survive
    # each bucket's cut (tie-break by item value): items 5..9 — true
    # count 60, tied for #1 — hide below EVERY cut.  total_slack =
    # 20 buckets x tail_bound 3 = 60 >= the kth kept est, so no top-5
    # claim is decidable from the rollup alone.
    rows = []
    for b in range(20):
        for it in range(10):
            rows += [(b, it)] * 3
        rows += [(b, 99)] * 2
    df = spark.createDataFrame(rows, "bucket int, item int").withColumn(
        "g", F.lit("g")
    )
    roll = topk_rollup(df, ["g"], "bucket", "item", m=5)
    read = topk_read(topk_merge(roll, ["g"]), ["g"], k=5).collect()
    assert len(read) == 5
    assert all(not r.certified for r in read)
    # and the bracket still holds for what WAS reported
    for r in read:
        assert r.est <= 60 <= r.upper


def test_null_items_excluded_not_crashing(spark):
    """NULL items are excluded (SQL aggregate semantics) — without the
    operator's filter a NULL item becomes a NULL map key and the job
    dies in map_from_entries."""
    df = spark.createDataFrame(
        [("g", 0, "a"), ("g", 0, None), ("g", 0, "a"), ("g", 0, "b")],
        "g string, b int, item string",
    )
    merged = topk_merge(topk_rollup(df, ["g"], "b", "item", m=8), ["g"])
    got = {r.item: r.est for r in merged.collect()}
    assert got == {"a": 2, "b": 1}


def test_plan_has_no_global_sort(spark):
    """The 'never a global sort' scale claim, pinned in the physical
    plan: the per-bucket top-m and per-group top-k are window functions
    over hash-partitioned exchanges (local sorts within partitions) —
    no rangepartitioning exchange anywhere in the read plan."""
    ev = _events(spark)
    read = topk_read(
        topk_merge(
            topk_rollup(ev, ["event_type"], "day", "user_id", m=8),
            ["event_type"],
        ),
        ["event_type"],
        k=5,
    )
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_incremental_bucket_append_roundtrip(spark, tmp_path):
    """The rollup is a parquet table; appending only the new day's
    top-m rows reproduces the from-scratch merge exactly."""
    import os

    ev = _events(spark)
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    tail = days[-1]
    path = os.path.join(str(tmp_path), "topk_rollup")
    topk_rollup(
        ev.where(F.col("day") != tail), ["event_type"], "day", "user_id", m=16
    ).write.mode("overwrite").parquet(path)
    topk_rollup(
        ev.where(F.col("day") == tail), ["event_type"], "day", "user_id", m=16
    ).write.mode("append").parquet(path)

    def canon(rollup):
        return {
            (r.event_type, r.item): (r.est, r.upper)
            for r in topk_merge(rollup, ["event_type"]).collect()
        }

    assert canon(spark.read.parquet(path)) == canon(
        topk_rollup(ev, ["event_type"], "day", "user_id", m=16)
    )


def test_windowed_batch_counts_match_direct_rollup(spark):
    """topk_rollup_windowed on a BATCH frame + the counts->rollup cut
    produces the identical rollup as topk_rollup over day strings —
    the twin invariant that makes the streaming-maintained count
    table (s15) a drop-in source for the certified pipeline."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.topk import (  # noqa: E501
        topk_counts_to_rollup,
        topk_rollup_windowed,
    )

    ev = load_table(spark, SF001, "events").select(
        "event_type", "ts", "user_id"
    )
    counts = topk_rollup_windowed(ev, ["event_type"], "ts", "user_id").select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        "item",
        "n",
    )
    via_counts = topk_counts_to_rollup(counts, ["event_type"], "day", m=8)
    direct = topk_rollup(_events(spark), ["event_type"], "day", "user_id", m=8)
    j = (
        direct.withColumnRenamed("topk", "d_topk")
        .withColumnRenamed("tail_bound", "d_tb")
        .join(via_counts, ["event_type", "day"], "full")
        .select(
            (
                (F.sort_array(F.map_entries("d_topk"))
                 == F.sort_array(F.map_entries("topk")))
                & (F.col("d_tb") == F.col("tail_bound"))
            ).alias("ok")
        )
        .collect()
    )
    assert len(j) > 0 and all(r.ok for r in j)

