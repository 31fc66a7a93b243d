"""SCD2 merge (operators/warehouse.py): version-history semantics pinned
on a hand-computable frame, independent of the q76 oracle gate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.warehouse import (
    scd2_merge,
)


def test_scd2_merge_versions(spark):
    dim = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "k long, seg string, bal double",
    )
    upd = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 5), 5.0),
         (3, datetime.datetime(2024, 6, 1), -30.0)],
        "k long, eff timestamp, delta double",
    )
    out = scd2_merge(
        dim, upd, "k",
        {"bal": F.col("bal") + F.col("delta")},
        "eff",
    ).collect()

    rows = {(r["k"], r["is_current"]): r for r in out}
    # matched keys: two rows each; unmatched: one current row
    assert len(out) == 5
    # key 1: closed old version keeps the old balance
    old1 = rows[(1, 0)]
    assert (old1["bal"], old1["valid_from"], old1["valid_to"]) == (
        10.0, "1992-01-01", "2024-03-05",
    )
    # ... and the new current version applies the change from eff
    new1 = rows[(1, 1)]
    assert (new1["bal"], new1["valid_from"], new1["valid_to"]) == (
        15.0, "2024-03-05", "9999-12-31",
    )
    # unmatched key 2 carries through as a single open version
    cur2 = rows[(2, 1)]
    assert (cur2["bal"], cur2["valid_from"], cur2["valid_to"]) == (
        20.0, "1992-01-01", "9999-12-31",
    )
    assert (3, 0) in rows and rows[(3, 1)]["bal"] == 0.0
    # untracked attributes are untouched in every version
    assert all(r["seg"] in ("A", "B", "C") for r in out)


def test_scd2_merge_single_join_plan(spark):
    """The union's two branches must reuse ONE join — no second shuffle
    of the dimension."""
    dim = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1.0).alias("bal")
    )
    upd = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit(datetime.datetime(2024, 1, 1)).alias("eff"),
        F.lit(2.0).alias("delta"),
    )
    out = scd2_merge(dim, upd, "k", {"bal": F.col("delta")}, "eff")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the version fan-out is a narrow explode over ONE join — a
    # union-of-branches formulation would re-scan and re-join the dim
    assert plan.count("Join") == 1
    assert plan.count("FileScan") + plan.count("Scan ExistingRDD") <= 2


def test_scd2_foreachbatch_apply_equals_batch_merge(spark):
    """Streaming upsert idiom (s13): updates delivered across multiple
    micro-batches, each MERGE-applied against the static dim, must drain
    to exactly the batch merge restricted to matched keys — and must
    actually run as multiple micro-batches."""
    import os
    import tempfile

    from live_market_data_orderflow_analysis_big_data_project__spark.streaming.core import (
        drain,
        foreach_batch_sink,
        stream_events_dir,
    )

    dim = spark.createDataFrame(
        [(i, float(i)) for i in range(12)], "k long, bal double"
    )
    upd = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1 + i), 100.0) for i in range(0, 12, 2)],
        "k long, eff timestamp, delta double",
    )
    base = tempfile.mkdtemp(prefix="scd2_stream_")
    updpath = os.path.join(base, "upd")
    outpath = os.path.join(base, "hist")
    upd.repartition(3).write.parquet(updpath)
    batches = []

    def apply_batch(b, bid):
        if b.isEmpty():
            return
        batches.append(bid)
        dim_b = dim.join(F.broadcast(b.select("k")), "k", "semi")
        scd2_merge(
            dim_b, b, "k", {"bal": F.col("bal") + F.col("delta")}, "eff"
        ).write.mode("append").parquet(outpath)

    q = foreach_batch_sink(
        stream_events_dir(
            spark, updpath, spark.read.parquet(updpath).schema,
            max_files_per_trigger=1,
        ),
        apply_batch,
        os.path.join(base, "ckpt"),
    )
    drain(q, 120)
    assert len(batches) >= 2, "updates must span multiple micro-batches"

    got = spark.read.parquet(outpath).collect()
    want = scd2_merge(
        dim.join(F.broadcast(upd.select("k")), "k", "semi"),
        upd, "k", {"bal": F.col("bal") + F.col("delta")}, "eff",
    ).collect()
    key = lambda r: (r["k"], r["is_current"], r["bal"], r["valid_from"], r["valid_to"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == 12  # 6 matched keys x 2 versions


def test_funnel_cascade_strict_ordering(spark):
    """q77's fold must require each stage strictly AFTER the previous
    one — clicks before (or at) the first view don't count, and the
    purchase must follow the counted click, not just any click."""
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.eblock import (
        q77_funnel_cascade,
    )
    import os
    import tempfile

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t + datetime.timedelta(seconds=sec)
    rows = [
        # u1: full funnel in order
        (1, s(0), 1, "view", 0.0, "{}"),
        (2, s(10), 1, "click", 0.0, "{}"),
        (3, s(20), 1, "purchase", 0.0, "{}"),
        # u2: click BEFORE view, purchase after view -> stage 1 only
        (4, s(0), 2, "click", 0.0, "{}"),
        (5, s(10), 2, "view", 0.0, "{}"),
        # u3: click at EXACTLY the view ts -> strict > fails, stage 1
        (6, s(0), 3, "view", 0.0, "{}"),
        (7, s(0), 3, "click", 0.0, "{}"),
        # u4: purchase between view and click -> stage 2 (purchase
        # must be after the click, not just after the view)
        (8, s(0), 4, "view", 0.0, "{}"),
        (9, s(5), 4, "purchase", 0.0, "{}"),
        (10, s(10), 4, "click", 0.0, "{}"),
        # u5: no view at all -> stage 0
        (11, s(0), 5, "click", 0.0, "{}"),
        (12, s(5), 5, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    base = tempfile.mkdtemp(prefix="funnel_")
    df.write.parquet(os.path.join(base, "events.parquet"))
    out = {r["user_id"]: r for r in q77_funnel_cascade(spark, base).collect()}
    assert out[1]["stage"] == 3 and out[1]["purchase_ts"] is not None
    assert out[2]["stage"] == 1 and out[2]["click_ts"] is None
    assert out[3]["stage"] == 1
    assert out[4]["stage"] == 2 and out[4]["purchase_ts"] is None
    assert out[5]["stage"] == 0 and out[5]["view_ts"] is None


def test_s13_restart_is_idempotent(spark):
    """The s13 sink is the checkpointed batch_id=N overwrite pattern:
    re-running the query against the same checkpoint and dirs must not
    duplicate any history row (effectively-once, replay-safe)."""
    import os
    import tempfile

    from live_market_data_orderflow_analysis_big_data_project__spark.queries.sblock import (
        s13_scd2_stream_apply,
    )

    sf = "/root/testdata/sf0.001"
    base = tempfile.mkdtemp(prefix="s13_restart_")
    first = s13_scd2_stream_apply(spark, sf, base=base).collect()
    again = s13_scd2_stream_apply(spark, sf, base=base).collect()
    assert len(first) > 0
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    # every key has exactly one closed and one current version
    from collections import Counter

    counts = Counter((r["c_custkey"], r["is_current"]) for r in again)
    assert set(counts.values()) == {1}


def test_scd2_merge_chained_rounds_preserve_valid_from(spark):
    """Round 2 of maintenance feeds the previous merge's current slice
    back in (history columns kept): the newly closed row must carry the
    REAL prior effective-from date, not reset to lo_date, and the
    reserved columns must not collide."""
    dim = spark.createDataFrame([(1, 10.0)], "k long, bal double")
    u1 = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 5.0)],
        "k long, eff timestamp, delta double",
    )
    u2 = spark.createDataFrame(
        [(1, datetime.datetime(2024, 6, 1), 5.0)],
        "k long, eff timestamp, delta double",
    )
    chg = {"bal": F.col("bal") + F.col("delta")}
    r1 = scd2_merge(dim, u1, "k", chg, "eff")
    current = r1.filter(F.col("is_current") == 1)
    r2 = scd2_merge(current, u2, "k", chg, "eff")
    rows = {r["is_current"]: r for r in r2.collect()}
    closed, cur = rows[0], rows[1]
    assert (closed["bal"], closed["valid_from"], closed["valid_to"]) == (
        15.0, "2024-01-01", "2024-06-01",
    )
    assert (cur["bal"], cur["valid_from"], cur["valid_to"]) == (
        20.0, "2024-06-01", "9999-12-31",
    )


def test_scd2_merge_close_missing_deletes(spark):
    """WHEN NOT MATCHED BY SOURCE (close_missing=): keys absent from a
    full-snapshot batch are closed out at the as-of date with NO new
    current version; matched keys behave exactly as the default path."""
    dim = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, bal double"
    )
    upd = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 5), 5.0)],
        "k long, eff timestamp, delta double",
    )
    out = scd2_merge(
        dim, upd, "k", {"bal": F.col("bal") + F.col("delta")}, "eff",
        close_missing="2024-12-31",
    ).collect()
    rows = {(r["k"], r["is_current"]): r for r in out}
    # matched key 1: close + new current (2 rows); missing keys 2, 3:
    # one closed row each, no current
    assert len(out) == 4
    assert rows[(1, 1)]["bal"] == 15.0
    assert rows[(1, 0)]["valid_to"] == "2024-03-05"
    for k in (2, 3):
        closed = rows[(k, 0)]
        assert (k, 1) not in rows
        assert (closed["valid_from"], closed["valid_to"]) == (
            "1992-01-01", "2024-12-31",
        )


def test_scd2_close_missing_single_join_plan(spark):
    """The delete path must not change the one-join plan shape — all
    three MERGE branches ride the same narrow explode."""
    dim = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1.0).alias("bal")
    )
    upd = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit(datetime.datetime(2024, 1, 1)).alias("eff"),
        F.lit(2.0).alias("delta"),
    )
    out = scd2_merge(
        dim, upd, "k", {"bal": F.col("delta")}, "eff",
        close_missing="2024-12-31",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1
    assert plan.count("FileScan") + plan.count("Scan ExistingRDD") <= 2


def test_scd2_chained_maintenance_with_delete(spark):
    """Chained rounds including the delete path: a key closed by a
    snapshot sync stays closed (its current slice is empty), survivors
    keep real valid_from dates through the next round."""
    dim = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, bal double"
    )
    chg = {"bal": F.col("bal") + F.col("delta")}
    u1 = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 5.0)],
        "k long, eff timestamp, delta double",
    )
    # round 1: full snapshot containing only key 1 -> key 2 churned
    r1 = scd2_merge(dim, u1, "k", chg, "eff", close_missing="2024-02-01")
    hist1 = {(r["k"], r["is_current"]) for r in r1.collect()}
    assert hist1 == {(1, 0), (1, 1), (2, 0)}
    # round 2 feeds round 1's current slice (key 1 only) back in
    u2 = spark.createDataFrame(
        [(1, datetime.datetime(2024, 6, 1), 5.0)],
        "k long, eff timestamp, delta double",
    )
    current = r1.filter(F.col("is_current") == 1)
    r2 = scd2_merge(current, u2, "k", chg, "eff",
                    close_missing="2024-07-01")
    rows = {r["is_current"]: r for r in r2.collect()}
    assert (rows[0]["bal"], rows[0]["valid_from"], rows[0]["valid_to"]) == (
        15.0, "2024-01-01", "2024-06-01",
    )
    assert (rows[1]["bal"], rows[1]["valid_from"]) == (20.0, "2024-06-01")


def test_scd2_skip_unchanged_suppresses_noop_versions(spark):
    """CDC no-op suppression: a matched key whose tracked attributes
    compute to their current values emits NO new version — and in
    full-snapshot mode its presence still keeps it alive (not churned)."""
    dim = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, bal double"
    )
    # key 1: real change; key 2: no-op (delta 0); key 3: absent
    upd = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 5), 5.0),
         (2, datetime.datetime(2024, 3, 5), 0.0)],
        "k long, eff timestamp, delta double",
    )
    chg = {"bal": F.col("bal") + F.col("delta")}
    # incremental mode: no-op carries through as one current row
    out = scd2_merge(dim, upd, "k", chg, "eff", skip_unchanged=True)
    rows = {(r["k"], r["is_current"]): r for r in out.collect()}
    assert len(rows) == 4  # k1: 2 versions; k2, k3: 1 current each
    assert rows[(2, 1)]["valid_from"] == "1992-01-01"
    assert (2, 0) not in rows
    # without suppression the same merge WOULD version the no-op
    noisy = scd2_merge(dim, upd, "k", chg, "eff").collect()
    assert len(noisy) == 5
    # snapshot mode: no-op key is PRESENT -> kept current, not churned;
    # absent key 3 is churned
    snap = scd2_merge(
        dim, upd, "k", chg, "eff",
        close_missing="2024-12-31", skip_unchanged=True,
    )
    srows = {(r["k"], r["is_current"]): r for r in snap.collect()}
    assert (2, 1) in srows and (2, 0) not in srows
    assert (3, 0) in srows and (3, 1) not in srows
    assert srows[(3, 0)]["valid_to"] == "2024-12-31"


def test_scd2_merge_rejects_reserved_change_cols(spark):
    import pytest as _pytest

    dim = spark.createDataFrame([(1, 1.0)], "k long, bal double")
    upd = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "k long, eff timestamp"
    )
    with _pytest.raises(ValueError):
        scd2_merge(dim, upd, "k", {"is_current": F.lit(5)}, "eff")
