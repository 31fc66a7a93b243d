"""Mergeable rank-spaced quantile summaries — deterministic, exact
integer arithmetic end to end (the KLL/MRL capability slot, realized
with a hash-gateable compaction rule).

The sketches block holds mergeable DISTINCT counts (HLL q141/q144/
s14), mergeable heavy hitters (q143/s15), mergeable exact histograms
(q142) and KMV set ops (q145) — but no mergeable QUANTILES: the
rollup that answers "p50/p90 latency over any day range" from
per-bucket summaries without rescanning rows.  KLL/GK keep a bounded
sample per bucket; KLL's compaction tosses a coin, GK's tuple bounds
are insertion-order-dependent — neither is reproducible across
engines, so neither can hash-gate.  This module keeps the SAME
summary SHAPE (k weighted samples per bucket, mergeable by union,
rank error n_b/k) but fixes the compaction deterministically:

  keep, per (group, bucket), the values at ranks r_i = ceil(i*n_b/k)
  for i = 1..k (rank order = value order — selection by VALUE RANK,
  so the kept set is independent of row order and partitioning);
  sample i carries weight r_i - r_{i-1} (the ranks it represents).

This is the classic disjoint-summary merge bound (Manku-Rajagopalan-
Lindsay lineage): within a bucket a sample's weight interval covers
consecutive ranks, so for any value v the summary's cumulative weight
W_b(v) satisfies  W_b(v) <= C_b(v) <= W_b(v) + g_b - 1  where C_b is
the true count <= v and g_b = max gap = ceil(n_b/k).  Reading the
merged summary at target rank T (choose the first value whose merged
cumulative weight reaches T) therefore lands within
SUM_b (ceil(n_b/k) - 1) ranks of T — the bound the report emits and
audits as exact integers.

Everything is integer/rank arithmetic over value-ordered windows: the
kept set, the weights, the read, the error, and the bound are
bit-identical on any engine and any partitioning — a FULL hash gate
(stronger than the q34/q99b envelope, which can only hash the exact
side plus tolerance booleans because GK/HLL estimates are not
reproducible cross-engine).

Scale shape: the input reduction is one (groups, bucket, value)
count shuffle (value domains are bounded for cents-quantized metrics
— the q142 argument); the summary is k rows per bucket (the
persistable rollup; any day-range query merges summaries only); the
read is domain-sized windows.  Headroom: cum*k must stay under 2^63
— a 10^14-row bucket at k=64 is still fine — and the bound is ENFORCED
per-row with ``raise_error`` guards (the collocation_lift pattern) in
both ``spaced_summary`` and ``quantile_report``, so Spark's ANSI-off
silent int64 wrap can never diverge quietly from the oracle's loud
BIGINT overflow.

(Reference parity: no quantile machinery exists in the reference —
its consumer computes pandas ``describe()`` percentiles per plot
buffer, data_plotter.py:276-282.  SURVEY.md §2.4.)
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "value_histogram",
    "value_histogram_windowed",
    "spaced_summary",
    "quantile_report",
]

_STEP_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}
_BUCKET_FMT = {
    "minute": "yyyy-MM-dd HH:mm:ss",
    "hour": "yyyy-MM-dd HH:mm:ss",
    "day": "yyyy-MM-dd",
}


def value_histogram(
    df: DataFrame,
    groups: Sequence[str],
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """(groups…, bucket, value, n) exact counts — the data-sized
    reduction the summary is built from.  NULL values carry no rank
    and are excluded (quantiles are over observed values)."""
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, bucket_col, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def value_histogram_windowed(
    df: DataFrame,
    groups: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "day",
    watermark: str = "0 seconds",
) -> DataFrame:
    """The histogram stage as an event-time window — works on BATCH
    and STREAMING frames alike (the s14/s17 rollup shape): a stream
    maintains the (groups, bucket, value) counts incrementally,
    append mode emits each bucket's histogram exactly once when its
    window closes, and the summary/read run as a batch view over the
    emitted table.  State per open (groups, bucket, value) is one
    count — bounded by the bucket's value domain, the q142 argument.
    Output bucket column is NAMED after ``bucket`` and formatted as a
    string (the s17 convention)."""
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    step = _STEP_SECONDS[bucket]
    return (
        src.where(F.col(value_col).isNotNull())
        .groupBy(
            *groups,
            F.window(F.col(ts_col), f"{step} seconds").alias("_w"),
            value_col,
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            *groups,
            F.date_format("_w.start", _BUCKET_FMT[bucket]).alias(bucket),
            value_col,
            "n",
        )
    )


def spaced_summary(
    hist: DataFrame,
    groups: Sequence[str],
    bucket_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    """The mergeable per-bucket summary: (groups…, bucket, value,
    weight) with at most ``k`` rows per (groups, bucket) — the values
    at ranks ceil(i*n_b/k), weights summing to n_b.

    Derived from the histogram by pure rank arithmetic: a value row
    covering cumulative ranks (cum - n, cum] holds kept indices
    i in ((cum-n)*k div n_b, cum*k div n_b] and carries their total
    weight r_i2 - r_i1 (consecutive kept samples with equal values
    collapse into one weighted row — reads are value-based, so
    nothing is lost)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    part = [*groups, bucket_col]
    w_ord = Window.partitionBy(*part).orderBy(value_col)
    w_all = Window.partitionBy(*part)
    cum = F.sum("n").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = hist.select(
        *part,
        value_col,
        "n",
        cum.alias("_cum"),
        F.sum("n").over(w_all).alias("_nb"),
    )
    # int64 headroom guard (the collocation_lift / range_count_binned
    # pattern): cum*k (cum <= n_b) and the weight's i*n_b (i <= k) both
    # need n_b * k < 2^63.  With ANSI off Spark WRAPS the product
    # silently while the DuckDB oracle errors loudly — past the
    # headroom the engines would diverge without a sound, so the bound
    # is ENFORCED per-row.  One guard covers every product in this
    # projection: raise_error in any output column fails the row.
    i2 = F.expr(
        f"CASE WHEN _nb > 9223372036854775807 div {int(k)} "
        "THEN CAST(raise_error('spaced_summary: n_b * k exceeds int64 "
        "headroom - lower k or pre-shard the bucket (module "
        "docstring)') AS BIGINT) "
        f"ELSE (_cum * {int(k)}) div _nb END"
    )
    i1 = F.expr(f"((_cum - n) * {int(k)}) div _nb")
    # weight = r_i2 - r_i1 with r_i = ceil(i * n_b / k)
    weight = (
        F.expr(f"(_i2 * _nb + {int(k)} - 1) div {int(k)}")
        - F.expr(f"(_i1 * _nb + {int(k)} - 1) div {int(k)}")
    )
    return (
        staged.withColumn("_i2", i2)
        .withColumn("_i1", i1)
        .where(F.col("_i2") > F.col("_i1"))
        .select(*part, value_col, weight.cast("long").alias("weight"))
    )


def quantile_report(
    hist: DataFrame,
    summary: DataFrame,
    groups: Sequence[str],
    bucket_col: str,
    value_col: str,
    k: int,
    quantiles: Mapping[str, tuple[int, int]],
) -> DataFrame:
    """Per-group audit of the merged summary against the exact ranks:
    one row per group with

    - ``n_rows`` / ``n_buckets`` / ``n_summary`` — exact sizes;
    - ``err_bound`` = SUM_b (ceil(n_b/k) - 1), the merge theorem's
      rank-error bound (closed form: the max within-bucket gap is
      exactly ceil(n_b/k));
    - per named quantile q = num/den with target rank
      T = ceil(q * n_rows):
      ``est_<q>``   the summary read (first value whose merged
                    cumulative weight reaches T),
      ``exact_<q>`` the true rank-T value,
      ``err_<q>``   the exact rank distance from T to est's true rank
                    interval [cnt_lt+1, cnt_le] (0 when T falls
                    inside),
      ``<q>_ok``    err <= err_bound — the theorem, auditable because
                    every term is an exact integer on any engine.

    All frames after the histogram are domain-bounded (groups ×
    values); the per-quantile joins are group-sized broadcasts."""
    g = list(groups)
    per_bucket = hist.groupBy(*g, bucket_col).agg(
        F.sum("n").alias("_nb")
    )
    tot = per_bucket.groupBy(*g).agg(
        F.sum("_nb").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(
            F.expr(f"(_nb + {int(k)} - 1) div {int(k)} - 1")
        ).cast("long").alias("err_bound"),
    )
    n_sum = summary.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_summary")
    )
    merged = summary.groupBy(*g, value_col).agg(
        F.sum("weight").alias("_w")
    )
    w_val = Window.partitionBy(*g).orderBy(value_col)
    merged = merged.select(
        *g,
        value_col,
        F.sum("_w").over(
            w_val.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cw"),
    )
    full = hist.groupBy(*g, value_col).agg(F.sum("n").alias("_c"))
    full = full.select(
        *g,
        value_col,
        "_c",
        F.sum("_c").over(
            w_val.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cum"),
    )
    # Plan shape: ALL quantiles read in ONE pass over ``merged``
    # and ONE pass over ``full`` via conditional aggregation.  The
    # former per-quantile (tq, est, exact, at_est) join chain planned
    # a fresh subtree per frame per quantile — each re-deriving
    # hist/summary from scratch — which blew the q180 physical plan up
    # to 58 Exchange nodes (336 operators; 24 and 160 in this form)
    # for two quantiles; the conditional-agg form is 3 joins total and
    # value-identical (min over a conditional ≡ where + groupBy + min;
    # the est-rank error row is unique per group because ``full`` is
    # grouped by (groups, value)).
    scalars = tot.join(n_sum, g)
    for name, (num, den) in quantiles.items():
        # same headroom discipline as spaced_summary: num * n_rows
        # must not wrap (the guard is per-GROUP — tot is group-sized,
        # so the check is free).
        t_expr = F.expr(
            f"CASE WHEN n_rows > (9223372036854775807 - {int(den)} + 1) "
            f"div {int(num)} "
            "THEN CAST(raise_error('quantile_report: num * n_rows "
            "exceeds int64 headroom') AS BIGINT) "
            f"ELSE ({int(num)} * n_rows + {int(den)} - 1) div {int(den)} "
            "END"
        )
        scalars = scalars.withColumn(
            f"_t_{name}", t_expr.cast("long")
        )
    if not quantiles:
        return scalars.select(
            *g, "n_rows", "n_buckets", "err_bound", "n_summary"
        )
    est = (
        merged.join(F.broadcast(scalars), g)
        .groupBy(*g)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("_cw") >= F.col(f"_t_{name}"),
                        F.col(value_col),
                    )
                ).alias(f"est_{name}")
                for name in quantiles
            ]
        )
    )
    ee_aggs = []
    for name in quantiles:
        ee_aggs.append(
            F.min(
                F.when(
                    F.col("_cum") >= F.col(f"_t_{name}"), F.col(value_col)
                )
            ).alias(f"exact_{name}")
        )
        ee_aggs.append(
            F.min(
                F.when(
                    F.col(value_col) == F.col(f"est_{name}"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        (
                            F.col("_cum") - F.col("_c") + 1
                            - F.col(f"_t_{name}")
                        ).cast("long"),
                        (F.col(f"_t_{name}") - F.col("_cum")).cast("long"),
                    ),
                )
            ).alias(f"err_{name}")
        )
    ee = (
        full.join(F.broadcast(scalars.join(est, g)), g)
        .groupBy(*g)
        .agg(*ee_aggs)
    )
    out = scalars.join(F.broadcast(est), g).join(F.broadcast(ee), g)
    cols = [*g, "n_rows", "n_buckets", "err_bound", "n_summary"]
    for name in quantiles:
        out = out.withColumn(
            f"{name}_ok", F.col(f"err_{name}") <= F.col("err_bound")
        )
        cols += [f"est_{name}", f"exact_{name}", f"err_{name}", f"{name}_ok"]
    return out.select(*cols)
