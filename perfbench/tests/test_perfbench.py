"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import tape as tp  # noqa: E402
from perfbench.tables import build_tables  # noqa: E402

TAPE_ARGS = dict(rate_ticks_s=2000, file_interval_s=0.05, lead_s=1.0, steady_s=2.0, warm_files=2,
                 burst_ticks=600, n_bursts=2, burst_files=3)


def test_same_seed_gives_byte_identical_tape():
    a = tp.build_tape(7, **TAPE_ARGS)
    b = tp.build_tape(7, **TAPE_ARGS)
    assert [(f.name, f.body, f.due_s) for f in a.files] == [(f.name, f.body, f.due_s) for f in b.files]
    c = tp.build_tape(8, **TAPE_ARGS)
    assert [f.body for f in a.files] != [f.body for f in c.files]


def test_tape_counts_add_up():
    t = tp.build_tape(3, **TAPE_ARGS)
    assert len(t.by_kind("lead")) == 20
    assert len(t.by_kind("steady")) == 40
    assert t.late_ticks == (20 + 40) // tp.LATE_EVERY
    assert [f.kind for f in t.files] == sorted((f.kind for f in t.files), key=[
        "warm", "lead", "burst0", "burst1", "steady", "flush"].index)  # publish order
    assert sum(f.ticks for f in t.by_kind("burst0")) == 600
    for f in t.files:
        assert f.body.count(b"\n") == f.messages


def test_same_seed_gives_identical_tables():
    a, b = build_tables(5, 0.001), build_tables(5, 0.001)
    assert all(a[k].equals(b[k]) for k in a)


@pytest.mark.parametrize("p, want", [(50, 5), (90, 9), (95, 10), (100, 10), (10, 1), (0, 1)])
def test_nearest_rank_percentile(p, want):
    assert tp.percentile(list(range(10, 0, -1)), p) == want


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        tp.percentile([], 50)


def test_overhead_pairs_alternate_order():
    from perfbench import trace as tr

    turns = [tr.traced_turn(i) for i in range(6)]
    assert turns == [False, True, True, False, False, True]
    walls = [1.0, 1.5, 1.2, 1.0, 0.9, 1.3]  # traced passes are 0.2-0.5 s slower
    pairs = tr.pairs(list(zip(turns, walls)), lambda x: x[0])
    assert [(u[1], t[1]) for u, t in pairs] == [(1.0, 1.5), (1.0, 1.2), (0.9, 1.3)]
    o = tr.overhead([(u[1], t[1]) for u, t in pairs])
    assert o["trace.overhead_s"] == pytest.approx(0.4)
    assert o["trace.overhead_pct"] == pytest.approx(40.0)


def test_file_to_batch_mapping_reads_compacted_log(tmp_path):
    """Publish files one at a time through the candle pipeline; the mapping
    must name the batch that read each file, including files whose only
    record is in a ``.compact`` file, and after the no-data batches that
    the advancing watermark adds."""
    os.environ["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.candles import (
        ohlc_candles,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.ticks import (
        best_bid_ask,
        classify_aggressor,
        parse_ticks,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.session import get_spark
    from perfbench.workloads import _await_commit

    spark = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    feed, staging, ckpt = (str(tmp_path / d) for d in ("feed", "staging", "ckpt"))
    os.makedirs(feed)
    os.makedirs(staging)
    # two minutes of event time per file: every file closes windows, so the
    # watermark adds a no-data batch after each one
    t = tp.build_tape(11, **{**TAPE_ARGS, "rate_ticks_s": 100, "file_interval_s": 0.5,
                             "steady_s": 6.0})
    files = t.files[:13]
    ticks = classify_aggressor(best_bid_ask(parse_ticks(spark.readStream.format("text").load(feed))))
    q = (ohlc_candles(ticks, watermark="5 minutes").writeStream.format("noop")
         .option("checkpointLocation", ckpt).start())
    try:
        for f in files:
            tp.publish([f], staging, feed)
            _await_commit(ckpt, [f.name], timeout_s=60)
            time.sleep(0.5)  # idle, so the watermark's no-data batch runs
    finally:
        q.stop()
        # a batch's progress report is posted after its commit
        rows = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
        spark.stop()
    log_dir = os.path.join(ckpt, "sources", "0")
    assert "9.compact" in os.listdir(log_dir)
    # drop the per-batch entries the compaction absorbed
    for n in range(9):
        os.remove(os.path.join(log_dir, str(n)))
    mapping = tp.file_batches(ckpt)
    assert sorted(mapping) == sorted(f.name for f in files)
    ids = [mapping[f.name] for f in files]
    assert ids == sorted(set(ids))  # one file per batch, in publish order
    assert ids[-1] > len(files) - 1  # no-data batches moved batch ids ahead
    for f in files:
        assert rows[mapping[f.name]] == f.messages
    commits = tp.commit_times(ckpt)
    assert all(i in commits for i in ids)
