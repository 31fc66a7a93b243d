"""Rolling-window DISTINCT counts (WAU/MAU class) via contribution
explode.

``COUNT(DISTINCT user) OVER (RANGE 6 DAYS PRECEDING)`` is not a legal
window aggregate in Spark OR ANSI engines — distinct state can't ride
a sliding frame — so rolling active-user curves (DAU/WAU/MAU, the
stickiness ratio) need a rewrite.  The scalable one inverts the
question: instead of asking each day "who was active in my trailing
window?" (a per-day rescan), each (user, active-day) pair CONTRIBUTES
to the w windows it can appear in (``sequence(day, day+w-1)`` — a
bounded factor-w explode), and one global (window-day, user) distinct
+ count finishes the job.

Cost: one (user, day) distinct (data-sized shuffle), a w× explode of
the ACTIVE-PAIR frame (users × days, already domain-bounded — never
the raw events), one more distinct + count.  No per-day rescans, no
quadratic day × events join; w is the only amplification and applies
to the small frame.

All counts exact integers; stickiness (DAU/WAU) is one IEEE division
of exact ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["rolling_active_users", "rolling_active_from_pairs"]


def rolling_active_users(
    df: DataFrame, user_col: str, ts_col: str, window_days: int = 7
) -> DataFrame:
    """Per calendar day: exact DAU, trailing-``window_days`` WAU, and
    DAU/WAU stickiness.

    Output one row per day that HAS activity (trailing windows may
    span gap days; a day with zero events emits no row — it has no
    DAU to report).  Partial leading windows count whatever history
    exists, the dashboard convention.
    """
    # the active-pair frame feeds the DAU count AND the contribution
    # explode — domain-bounded (users x days), so cut the lineage once
    # instead of recomputing the distinct per consumer
    active = (
        df.select(
            F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_d")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dau = active.groupBy("_d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = active.select(
        "_u",
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
            )
        ).alias("_d"),
    ).distinct()
    wau = contrib.groupBy("_d").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "_d")  # inner: only days with their own activity
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


def rolling_active_from_pairs(
    active: DataFrame, user_col: str, day_col: str, window_days: int
) -> DataFrame:
    """The DAU/WAU/stickiness read over an ALREADY-DISTINCT
    (user, activity-DATE) pair frame — the entry point for pipelines
    that own the distinct elsewhere.  The streaming rollup (s25) emits
    each (user, closed day) exactly once, so re-distincting here would
    HIDE a double-emission bug instead of surfacing it at the hash
    gate — this variant deliberately trusts its input's uniqueness.

    NOTE a standalone twin of ``rolling_active_users``'s tail rather
    than a shared core; folding the two is open simplification work.
    """
    active = active.select(
        F.col(user_col).alias("_u"), F.col(day_col).alias("_d")
    ).localCheckpoint(eager=True)
    dau = active.groupBy("_d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = active.select(
        "_u",
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
            )
        ).alias("_d"),
    ).distinct()
    wau = contrib.groupBy("_d").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "_d")  # inner: only days with their own activity
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )
