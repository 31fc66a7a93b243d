"""Mergeable top-k (heavy-hitter) rollups with a certified error bound
— the frequent-items member of the rollup family (distinct counts:
operators/sketches.py; distributions: operators/histogram.py).

The 100 TB pattern: "top domains per source per day", "most frequent
n-grams per shard" — maintained as one small row per (group x bucket)
holding that bucket's top-m items (sparse ``map<item, count>``, counts
EXACT within the bucket) plus ``tail_bound``, the LARGEST count that
was dropped by the top-m cut.  Merging buckets sums the kept counts;
an item's true total can exceed its merged sum only by what it could
have hidden below the cut in buckets that dropped it — at most that
bucket's ``tail_bound``.  So the merge carries a machine-checkable
certificate (the Manku–Motwani lossy-counting bound, bucketed):

    merged_count <= true_count <= merged_count + slack(item)
    slack(item)  =  sum of tail_bound over buckets NOT reporting item

and a top-k read can certify itself: if the k-th item's lower bound
beats every outsider's upper bound (``est_k > est_k+1 + max_slack``),
the top-k SET is provably the exact one — no rescan needed.  When the
certificate does not hold, the caller knows (``certified=false``) and
can widen ``m`` or re-scan just the contested buckets: error is
DETECTED, never silent.

At 100 TB: one map-side-combinable count shuffle on (group, bucket,
item), then a per-(group, bucket) top-m window over already-aggregated
counts — never a global sort, never data rows past the first agg.  The
rollup table is bounded by |groups| x |buckets| x m; incremental
ingest re-counts only the touched bucket (the q137 / hll_rollup /
hist_rollup maintenance shape).

Generalizes the reference's whole-buffer "dominant side / top symbols"
stats (data_plotter.py:64-87, recomputed per refresh) to a
re-aggregable, incrementally-maintained form.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "topk_rollup",
    "topk_counts_to_rollup",
    "topk_rollup_windowed",
    "topk_merge",
    "topk_read",
]


def _cols(cols: Sequence[str | Column]):
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def topk_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    bucket_col: str | Column,
    item_col: str | Column,
    m: int = 64,
) -> DataFrame:
    """The persistable rollup: per (group x bucket), the top-``m``
    items by exact in-bucket count (``topk`` map<item, count>, ties
    broken by item value for determinism) and ``tail_bound`` — the
    largest dropped count (0 when nothing was dropped, making the
    bucket's map EXACT and complete).

    Size ``m`` well above the k you will read (m >= 4-8x k): the
    certificate tightens as more of each bucket's tail is kept.
    """
    keys = list(group_cols)
    b = _col(bucket_col)
    bname = df.select(b).columns[0]
    # NULL items are EXCLUDED (SQL aggregate semantics, and a NULL item
    # would reach map_from_entries as a NULL map key and crash the job)
    counts = (
        df.select(*_cols(keys), b, _col(item_col).alias("_item"))
        .where(F.col("_item").isNotNull())
        .groupBy(*[F.col(c) for c in keys], F.col(bname), F.col("_item"))
        .agg(F.count("*").alias("_n"))
    )
    return topk_counts_to_rollup(counts, keys, bname, m, "_item", "_n")


def topk_counts_to_rollup(
    counts: DataFrame,
    group_cols: Sequence[str],
    bucket_col: str | Column,
    m: int = 64,
    item_col: str | Column = "item",
    count_col: str | Column = "n",
) -> DataFrame:
    """The top-m cut over PRE-AGGREGATED (group, bucket, item, count)
    rows — the read-side half of ``topk_rollup``, exposed so a rollup
    maintained by another process (a stream appending closed-window
    counts, an existing count table) folds into the same certified
    structure without re-counting raw rows."""
    keys = list(group_cols)
    b = _col(bucket_col)
    bname = counts.select(b).columns[0]
    base = counts.select(
        *_cols(keys),
        b,
        _col(item_col).alias("_item"),
        _col(count_col).alias("_n"),
    )
    w = Window.partitionBy(*[F.col(c) for c in keys], F.col(bname)).orderBy(
        F.desc("_n"), F.asc("_item")
    )
    ranked = base.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(*[F.col(c) for c in keys], F.col(bname))
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rn") <= m, F.struct("_item", "_n"))
                    )
                )
            ).alias("topk"),
            F.coalesce(
                F.max(F.when(F.col("_rn") > m, F.col("_n"))), F.lit(0)
            ).alias("tail_bound"),
        )
    )


def topk_rollup_windowed(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    item_col: str | Column,
    window: str = "1 day",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time-windowed EXACT per-(group x window x item) counts —
    the streaming-maintained half of the top-k rollup (the
    hll_rollup_windowed shape for frequent items).

    Works on batch and streaming frames alike.  Streaming state is one
    count per (group, open window, item) — bounded by the watermark
    and the per-window item cardinality — and append mode emits each
    window's final exact counts exactly once when it closes, so a
    parquet-appended count table is maintained BY the stream.  The
    top-m cut is deliberately NOT in the stream (rank-over-window is
    not a streaming aggregate): apply ``topk_counts_to_rollup`` to the
    emitted table at read/compaction time — the lossy step stays a
    view over exact persisted counts, so ``m`` can be changed
    retroactively.
    """
    if not isinstance(ts_col, str):
        raise TypeError("ts_col must be a column NAME (withWatermark needs one)")
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    item = _col(item_col)
    return (
        src.where(item.isNotNull())
        .groupBy(
            *_cols(group_cols),
            F.window(F.col(ts_col), window).alias("_w"),
            item.alias("item"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            *_cols(group_cols),
            F.col("_w.start").alias("bucket_start"),
            "item",
            "n",
        )
    )


def topk_merge(rollup: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge each group's bucket rollups: per item, the sum of kept
    counts (``est`` — a LOWER bound on the true total) and
    ``upper`` = est + the summed tail_bound of the buckets that did
    NOT report the item (where it could hide below the cut).  Also
    carries the group's ``total_slack`` (sum of all tail_bounds) for
    the read-side certificate."""
    keys = list(group_cols)
    slack = rollup.groupBy(*_cols(keys)).agg(
        F.sum("tail_bound").alias("total_slack")
    )
    exploded = rollup.select(
        *_cols(keys),
        "tail_bound",
        F.explode("topk").alias("item", "_n"),
    )
    per_item = exploded.groupBy(*_cols(keys), F.col("item")).agg(
        F.sum("_n").alias("est"),
        # tail_bounds of buckets that DID report the item — subtracted
        # from the group total to get the hideable slack
        F.sum("tail_bound").alias("_reported_tb"),
    )
    return per_item.join(F.broadcast(slack), keys).select(
        *_cols(keys),
        "item",
        "est",
        (F.col("est") + F.col("total_slack") - F.col("_reported_tb")).alias(
            "upper"
        ),
        "total_slack",
    )


def topk_read(
    merged: DataFrame, group_cols: Sequence[str], k: int
) -> DataFrame:
    """Top-k per group from the merged rollup, with the certificate:
    ``certified`` is true iff the k-th kept item's lower bound (est)
    strictly beats the best possible true count of ANYTHING outside
    the kept set — max(outsider upper, the group's total_slack, which
    bounds any item never reported anywhere).  When certified, the
    returned SET is provably the exact top-k set (ranking within it is
    by est; individual ranks of near-ties may still swap within their
    slack)."""
    keys = list(group_cols)
    w = Window.partitionBy(*_cols(keys)).orderBy(
        F.desc("est"), F.asc("item")
    )
    ranked = merged.withColumn("_rn", F.row_number().over(w))
    kept = ranked.where(F.col("_rn") <= k)
    outside = (
        ranked.where(F.col("_rn") > k)
        .groupBy(*_cols(keys))
        .agg(F.max("upper").alias("_best_outsider"))
    )
    kth = kept.groupBy(*_cols(keys)).agg(
        F.min("est").alias("_kth_est"), F.max("total_slack").alias("_slack")
    )
    cert = kth.join(outside, keys, "left").select(
        *_cols(keys),
        (
            F.col("_kth_est")
            > F.greatest(
                F.coalesce(F.col("_best_outsider"), F.lit(0)),
                F.col("_slack"),
            )
        ).alias("certified"),
    )
    return (
        kept.select(*_cols(keys), "item", "est", "upper", F.col("_rn").alias("rank"))
        .join(F.broadcast(cert), keys)
    )
