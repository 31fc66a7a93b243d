"""A-block — analytics / time-series / data-quality operator gate
entries.  Each entry is oracle-verified at three scale factors
(SWEEP.json), 16x-probed, plan-audited and determinism-screened.

Families (operator modules under ``operators/``): KMV theta-sketch
set ops (kmv.py), typo-tolerant entity matching (fuzzy.py),
deterministic PPS sampling (sampling.py), positional-index phrase
search (index.py), gapfill/LOCF (gapfill.py), cohort retention and
streaks (retention.py), exact-moment correlation (stats.py),
bin-decomposed range counting (rangejoin.py), TWAP (twap.py), column
profiling (profile.py), transition matrices (markov.py), basket lift
(basket.py), sweep-line concurrency (sweepline.py), robust/weighted
quantiles (robust.py), FK integrity (integrity.py), 2-D skylines
(skyline.py), clamped balances & CUSUM (balance.py), concentration
metrics (concentration.py), PSI drift (drift.py), rolling distinct
actives (rolling.py), interval coalescing (coalesce_intervals.py),
plus the streaming twins of the transition matrix and gapfill
pipelines (s16/s17).

Conventions are the declared-surface ones (queries/__init__.py
docstring): aliases identical on both sides, exact int64 anchors,
ROUND reserved for transcendentals, no cosmetic final sorts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashstable import fmt_date
from ..operators.fuzzy import fuzzy_pairs
from ..operators.histogram import hist_rollup_report
from ..operators.incdedup import simhash_incremental_pairs
from ..operators.index import phrase_search, positional_index
from ..operators.kmv import kmv_merge, kmv_setop_estimates, kmv_sketch
from ..operators.llmops import (
    duckdb_shift,
    simhash_fingerprints_long,
    simhash_hex_digits,
    simhash_sql_votes,
)
from ..operators.sampling import pps_sample
from ..operators.topk import topk_merge, topk_read, topk_rollup
from ..sources.tables import load_table


_KMV_K = 4096


def q145_kmv_setops(spark, sf):
    """KMV (bottom-k theta) pairwise set operations incl. the
    DIFFERENCE estimates HLL cannot derive (operators/kmv.py).

    Hash-gateable by the same coupon-regime argument as q144: the
    largest pair union is the whole user population (1500 at sf0.1),
    and k=4096 keeps every sketch and every merged pair sketch
    unsaturated (2.7x margin) — unsaturated KMV holds EVERY distinct
    hash, so each estimate is the exact COUNT(DISTINCT) integer and
    jaccard is the same two-integer IEEE division as the oracle's.
    ``merge_lossless`` re-proves N-way mergeability on the fixture:
    per-(label x day) sketches merged to label grain are
    array-identical to the directly-built label sketches."""
    ev = load_table(spark, sf, "events").select(
        "event_type", fmt_date("ts", "day"), "user_id"
    )
    pairs = kmv_setop_estimates(ev, "event_type", "user_id", k=_KMV_K)
    direct = kmv_sketch(ev, ["event_type"], "user_id", k=_KMV_K)
    daily = kmv_sketch(ev, ["event_type", "day"], "user_id", k=_KMV_K)
    merged = kmv_merge(daily.select("event_type", "kmv"), ["event_type"], k=_KMV_K)
    flags = (
        direct.withColumnRenamed("kmv", "_d")
        .join(merged.withColumnRenamed("kmv", "_m"), "event_type")
        .select("event_type", (F.col("_d") == F.col("_m")).alias("_ok"))
    )
    out = (
        pairs.join(
            flags.select(
                F.col("event_type").alias("label_a"), F.col("_ok").alias("_ok_a")
            ),
            "label_a",
        )
        .join(
            flags.select(
                F.col("event_type").alias("label_b"), F.col("_ok").alias("_ok_b")
            ),
            "label_b",
        )
    )
    return out.select(
        "label_a",
        "label_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union").cast("bigint").alias("n_union"),
        F.col("n_intersect").cast("bigint").alias("n_intersect"),
        F.col("n_a_not_b").cast("bigint").alias("n_a_not_b"),
        F.col("n_b_not_a").cast("bigint").alias("n_b_not_a"),
        "jaccard",
        "exact_regime",
        (F.col("_ok_a") & F.col("_ok_b")).alias("merge_lossless"),
    )


Q145_SQL = """
WITH u AS (
  SELECT DISTINCT event_type, user_id FROM events
), c AS (
  SELECT event_type, count(*) AS n FROM u GROUP BY 1
), i AS (
  SELECT a.event_type AS la, b.event_type AS lb, count(*) AS n_i
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ca.event_type AS label_a, cb.event_type AS label_b,
       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
       CAST(ca.n + cb.n - coalesce(i.n_i, 0) AS BIGINT) AS n_union,
       CAST(coalesce(i.n_i, 0) AS BIGINT) AS n_intersect,
       CAST(ca.n - coalesce(i.n_i, 0) AS BIGINT) AS n_a_not_b,
       CAST(cb.n - coalesce(i.n_i, 0) AS BIGINT) AS n_b_not_a,
       CAST(coalesce(i.n_i, 0) AS DOUBLE)
         / (ca.n + cb.n - coalesce(i.n_i, 0)) AS jaccard,
       TRUE AS exact_regime, TRUE AS merge_lossless
FROM c ca
JOIN c cb ON ca.event_type < cb.event_type
LEFT JOIN i ON i.la = ca.event_type AND i.lb = cb.event_type
"""


def q146_fuzzy_match(spark, sf):
    """Typo-tolerant entity matching (operators/fuzzy.py): every
    customer name's edit-distance-1 neighbor count and lexicographic
    nearest neighbor, found by FastSS deletion-neighborhood blocking
    + builtin levenshtein verify — never an all-pairs join.

    Hash-gateable because the blocking is LOSSLESS (pigeonhole, not
    probabilistic) and the verify is exact: the Spark result is
    definitionally identical to the oracle's naive quadratic
    formulation.  Names with no neighbor survive with n_neighbors=0
    (the left join), so the output covers the full entity set."""
    cust = load_table(spark, sf, "customer").select("c_name")
    pairs = fuzzy_pairs(cust, "c_name", tau=1)
    # both directions via ONE explode over the pair stream: the former
    # unionAll of two projections of ``pairs`` planned the whole
    # candidate-generation subtree twice (r16 plan fix; same rows).
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("name_a").alias("name"),
                    F.col("name_b").alias("nbr"),
                ),
                F.struct(
                    F.col("name_b").alias("name"),
                    F.col("name_a").alias("nbr"),
                ),
            )
        ).alias("_e")
    ).select("_e.name", "_e.nbr")
    agg = both.groupBy("name").agg(
        F.count("*").alias("n_neighbors"), F.min("nbr").alias("nearest")
    )
    names = cust.distinct().withColumnRenamed("c_name", "name")
    return names.join(agg, "name", "left").select(
        "name",
        F.coalesce("n_neighbors", F.lit(0)).cast("bigint").alias("n_neighbors"),
        "nearest",
    )


Q146_SQL = """
WITH d AS (
  SELECT DISTINCT c_name AS name FROM customer
), p AS (
  SELECT a.name AS na, b.name AS nb
  FROM d a JOIN d b
  ON a.name < b.name
     AND abs(length(a.name) - length(b.name)) <= 1
     AND levenshtein(a.name, b.name) <= 1
), bi AS (
  SELECT na AS name, nb AS nbr FROM p
  UNION ALL
  SELECT nb AS name, na AS nbr FROM p
)
SELECT d.name, CAST(count(b.nbr) AS BIGINT) AS n_neighbors,
       min(b.nbr) AS nearest
FROM d LEFT JOIN bi b ON d.name = b.name
GROUP BY d.name
"""


def q147_pps_sample(spark, sf):
    """Deterministic systematic PPS sample (operators/sampling.py):
    exactly 20 tickets per language, inclusion proportional to
    n_chars, multiplicity kept as n_tickets.  Hash-gateable because
    the whole selection is exact integer arithmetic over a
    deterministic (md5(text), doc_id) order — no RNG, no IEEE
    division — so the oracle recomputes the identical sample with
    SQL window sums and integer division."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("_k"),
    )
    return pps_sample(
        docs, ["lang"], "n_chars", 20, "_k", "doc_id"
    ).select("doc_id", "lang", "n_chars", "n_tickets")


Q147_SQL = """
WITH b AS (
  SELECT doc_id, lang, n_chars, md5(text) AS k
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), s AS (
  SELECT doc_id, lang, n_chars,
         CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY k, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_end,
         CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS w_tot
  FROM b
), t AS (
  SELECT doc_id, lang, n_chars,
         CAST(((20 * s_end + w_tot - 1) // w_tot)
           - ((20 * (s_end - n_chars) + w_tot - 1) // w_tot) AS BIGINT)
           AS n_tickets
  FROM s
)
SELECT doc_id, lang, n_chars, n_tickets FROM t WHERE n_tickets > 0
"""


def q148_phrase_search(spark, sf):
    """Positional-index phrase query (operators/index.py): docs
    containing the consecutive-token phrase "part filter", with
    occurrence count and first position — the retrieval capability
    bag-of-words ranking (q96/q117/q134) cannot express.  Hash-exact
    because the index tokenizer is the shared tokens_col (q94-q96
    oracle parity) and positions are 1-based generate_subscripts
    parity; the oracle recomputes occurrences by adjacent-position
    self-join over the same token stream."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return phrase_search(positional_index(docs), ["part", "filter"])


_STAGE_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')"
)

Q148_SQL = f"""
WITH docs AS (
  SELECT doc_id, {_STAGE_TOKS} AS arr FROM documents
), toks AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM docs
), m AS (
  SELECT a.doc_id, a.pos
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'part' AND b.tok = 'filter'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM m GROUP BY doc_id
"""
def q150_gapfill_locf(spark, sf):
    """Dense hourly grid per event_type with LOCF + linear
    interpolation (operators/gapfill.py) — the time_bucket_gapfill /
    locf() / interpolate() capability class.  The fixture's (type,
    hour) matrix is ~25% occupied at every sf, so the gap paths are
    genuinely exercised.  Hash-gateable: bucket sums are
    decimal-backed, and the interpolation is three IEEE ops over
    bit-identical operands with the parenthesization spelled
    identically on both sides (prev + ((next - prev) * (dx / span)))
    — deterministic with no rounding."""
    from ..functions.hashstable import dsum
    from ..operators.gapfill import gapfill_time_bucket

    ev = load_table(spark, sf, "events")
    out = gapfill_time_bucket(
        ev,
        ["event_type"],
        "ts",
        dsum("value"),
        F.count(F.lit(1)),
        bucket="hour",
    )
    return out.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_rows",
        "actual_sum",
        "locf_sum",
        "interp_sum",
        "is_gap",
    )


Q150_SQL = """
WITH actual AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS actual_sum,
         count(*) AS n_rows
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM actual
), grid AS (
  SELECT k.event_type, g.bucket_ts
  FROM (SELECT DISTINCT event_type FROM actual) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                AS bucket_ts FROM bounds) g
), filled AS (
  SELECT g.event_type, g.bucket_ts, a.actual_sum, a.n_rows,
    last_value(a.actual_sum IGNORE NULLS) OVER w_back AS locf_sum,
    first_value(a.actual_sum IGNORE NULLS) OVER w_fwd AS next_val,
    last_value(CASE WHEN a.actual_sum IS NOT NULL THEN g.bucket_ts END
               IGNORE NULLS) OVER w_back AS prev_ts,
    first_value(CASE WHEN a.actual_sum IS NOT NULL THEN g.bucket_ts END
                IGNORE NULLS) OVER w_fwd AS next_ts
  FROM grid g LEFT JOIN actual a
    ON a.event_type = g.event_type AND a.bucket_ts = g.bucket_ts
  WINDOW
    w_back AS (PARTITION BY g.event_type ORDER BY g.bucket_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY g.event_type ORDER BY g.bucket_ts
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(n_rows, 0) AS n_rows,
       actual_sum,
       locf_sum,
       CASE WHEN actual_sum IS NOT NULL THEN actual_sum
            WHEN locf_sum IS NOT NULL AND next_val IS NOT NULL THEN
              locf_sum + ((next_val - locf_sum) *
                (CAST(epoch(bucket_ts) - epoch(prev_ts) AS DOUBLE) /
                 CAST(epoch(next_ts) - epoch(prev_ts) AS DOUBLE)))
       END AS interp_sum,
       (actual_sum IS NULL) AS is_gap
FROM filled
ORDER BY event_type, hour
"""


def q151_retention_cohorts(spark, sf):
    """Cohort retention triangle (operators/retention.py): users
    grouped by first-seen day; (cohort, age) -> active users and
    retention rate.  Pure integer counts + one IEEE division of
    exact integers — hash-exact by construction."""
    from ..operators.retention import retention_cohorts

    ev = load_table(spark, sf, "events")
    return retention_cohorts(ev, "user_id", "ts")


Q151_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), aged AS (
  SELECT user_id,
         min(d) OVER (PARTITION BY user_id) AS cohort,
         CAST(d - min(d) OVER (PARTITION BY user_id) AS BIGINT) AS age
  FROM active
), sizes AS (
  SELECT cohort, count(*) AS cohort_size FROM aged WHERE age = 0 GROUP BY 1
), r AS (
  SELECT cohort, age, count(*) AS n_active FROM aged GROUP BY 1, 2
)
SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_day, r.age, r.n_active,
       s.cohort_size,
       CAST(r.n_active AS DOUBLE) / s.cohort_size AS retention_rate
FROM r JOIN sizes s ON r.cohort = s.cohort
ORDER BY cohort_day, age
"""
def q153_activity_streaks(spark, sf):
    """Gaps-and-islands streaks (operators/retention.py): per-user
    consecutive-day runs via the day - row_number() island key — no
    self-join, no iteration.  All-integer analytics; the longest
    streak's start date carries an earliest-first tie-break so the
    output is a pure function of the active-day set."""
    from ..operators.retention import activity_streaks

    ev = load_table(spark, sf, "events")
    return activity_streaks(ev, "user_id", "ts")


Q153_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), r AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM active
), isl AS (
  SELECT user_id, island, count(*) AS len, min(d) AS start
  FROM r GROUP BY 1, 2
), m AS (
  SELECT *, max(len) OVER (PARTITION BY user_id) AS ml FROM isl
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks,
       max(len) AS longest_streak,
       strftime(min(CASE WHEN len = ml THEN start END),
                '%Y-%m-%d') AS longest_start
FROM m GROUP BY 1 ORDER BY 1
"""


def q154_pairwise_corr(spark, sf):
    """Pairwise Pearson correlation between event types' hourly cents
    series (operators/stats.py) — exact int64 moments + a fixed
    parenthesization of IEEE ops, so r is bit-identical across
    engines (Spark's own F.corr float accumulation is NOT).  The
    hash gate compares the exact integer anchors (n, Σx, Σy) and
    three deterministic doubles."""
    from ..operators.robust import cents
    from ..operators.stats import pairwise_corr

    ev = load_table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
    ).agg(F.sum(cents("value")).alias("x"))
    return (
        pairwise_corr(hourly, "event_type", "bucket_ts", "x")
        .select(
            F.col("key_a").alias("type_a"),
            F.col("key_b").alias("type_b"),
            "n_buckets",
            F.col("sum_a").alias("sum_a_cents"),
            F.col("sum_b").alias("sum_b_cents"),
            F.col("mean_a").alias("mean_a_cents"),
            F.col("mean_b").alias("mean_b_cents"),
            "corr",
        )
        
    )


Q154_SQL = """
WITH hourly AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS b,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.k AS type_a, c.k AS type_b, a.x AS xa, c.x AS xb
  FROM hourly a JOIN hourly c ON a.b = c.b AND a.k < c.k
), m AS (
  SELECT type_a, type_b, count(*) AS n_buckets,
         CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
         CAST(SUM(xa * xb) AS BIGINT) AS sxy,
         CAST(SUM(xa * xa) AS BIGINT) AS sxx,
         CAST(SUM(xb * xb) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, n_buckets,
       sx AS sum_a_cents, sy AS sum_b_cents,
       CAST(sx AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean_a_cents,
       CAST(sy AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean_b_cents,
       CASE WHEN (CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr
FROM m ORDER BY type_a, type_b
"""


def q155_range_join_concurrency(spark, sf):
    """Point-in-interval range COUNT via the bin-decomposed rewrite
    (operators/rangejoin.py::range_count_binned): per (user, day)
    active window [min ts, max ts], how many events by OTHER users
    fall inside it.  A naive BETWEEN join is BroadcastNestedLoop/
    Cartesian, and even the pair-materializing equi-rewrite pays the
    matched-pair volume (density-squared); the counting plan
    pre-aggregates interior hour bins and row-checks only the two
    boundary bins.  The foreign-user exclusion folds into exact
    arithmetic — every own event that day lies inside the window by
    construction, so n_foreign = n_in_range - n_own — keeping the
    point side free of per-interval predicates (pre-aggregatable).
    The oracle IS the naive non-equi join (DuckDB IEJoin), so a hash
    pass proves the decomposition loses and invents nothing."""
    from ..operators.rangejoin import range_count_binned

    ev = load_table(spark, sf, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.count(F.lit(1)).alias("n_own"),
    )
    pts = ev.select(F.col("ts").alias("p_ts"))
    return (
        range_count_binned(pts, iv, "p_ts", "lo", "hi", bin_seconds=3600)
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            (F.unix_micros("hi") - F.unix_micros("lo")).alias("span_us"),
            (F.col("n_in_range") - F.col("n_own")).alias("n_foreign"),
        )
        
    )


Q155_SQL = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1, 2
), cnt AS (
  SELECT i.user_id, i.d, count(*) AS n_foreign
  FROM iv i JOIN events e
    ON e.ts >= i.lo AND e.ts <= i.hi AND e.user_id <> i.user_id
  GROUP BY 1, 2
)
SELECT i.user_id, strftime(i.d, '%Y-%m-%d') AS day,
       epoch_us(i.hi) - epoch_us(i.lo) AS span_us,
       COALESCE(c.n_foreign, 0) AS n_foreign
FROM iv i LEFT JOIN cnt c ON i.user_id = c.user_id AND i.d = c.d
ORDER BY 1, 2
"""


def q156_twap_daily(spark, sf):
    """Daily TWAP per event type (operators/twap.py): each tick's
    cents value LOCF-held and weighted by its exact standing duration
    in microseconds; coincident ticks resolved by the event_id
    tie-break (zero weight except the last).  Exact int64 anchors +
    one IEEE division — no rounding anywhere."""
    from ..operators.robust import cents
    from ..operators.twap import time_weighted_avg

    ev = load_table(spark, sf, "events")
    return time_weighted_avg(
        ev, ["event_type"], "ts", cents("value"), "event_id"
    )


Q156_SQL = """
WITH t AS (
  SELECT event_type, ts, CAST(ts AS DATE) AS d, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), dur AS (
  SELECT event_type, d, cents,
         epoch_us(COALESCE(
             lead(ts) OVER (PARTITION BY event_type, d
                            ORDER BY ts, event_id),
             CAST(d + 1 AS TIMESTAMP)))
         - epoch_us(ts) AS dur_us
  FROM t
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       count(*) AS n_ticks,
       CAST(SUM(dur_us) AS BIGINT) AS sum_dur_us,
       CAST(SUM(cents * dur_us) AS BIGINT) AS sum_wt_cents_us,
       CAST(CAST(SUM(cents * dur_us) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) AS twap_cents
FROM dur GROUP BY 1, 2 ORDER BY 1, 2
"""


# (column, kind) audited by q157 — one source of truth for both twins.
_Q157_SPECS = [
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "cents"),
    ("l_extendedprice", "cents"),
    ("l_discount", "cents"),
    ("l_tax", "cents"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def q157_profile_audit(spark, sf):
    """One-pass column-profile audit of lineitem
    (operators/profile.py) — per column: rows, nulls, EXACT distinct,
    canonical min/max, exact integer sum anchor.  The Deequ-class
    pre-training dataset validation, planned as a single scan (the k
    distinct aggregates ride one Expand)."""
    from ..operators.profile import profile_columns

    li = load_table(spark, sf, "lineitem")
    return profile_columns(li, _Q157_SPECS)


def _q157_sql() -> str:
    parts = []
    for name, kind in _Q157_SPECS:
        if kind == "cents":
            base = f"CAST(CAST({name} AS DECIMAL(18,2)) * 100 AS BIGINT)"
        else:
            base = name
        if kind == "ts":
            mn = f"strftime(min({base}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({base}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"CAST(min({base}) AS VARCHAR)"
            mx = f"CAST(max({base}) AS VARCHAR)"
        sm = (
            f"CAST(SUM({base}) AS BIGINT)"
            if kind in ("int", "cents")
            else "CAST(NULL AS BIGINT)"
        )
        parts.append(
            f"SELECT '{name}' AS col_name, count(*) AS n_rows,\n"
            f"       count(*) - count({base}) AS n_null,\n"
            f"       count(DISTINCT {base}) AS n_distinct,\n"
            f"       {mn} AS min_str, {mx} AS max_str,\n"
            f"       {sm} AS sum_anchor\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


Q157_SQL = _q157_sql()


def q158_event_transitions(spark, sf):
    """Per-user event-type transition matrix (operators/markov.py):
    the order-flow sequencing question — which event type follows
    which — as exact counts + one IEEE division per cell.  The lag
    window is (ts, event_id)-total-ordered, so coincident timestamps
    cannot flip transitions between runs."""
    from ..operators.markov import transition_matrix

    ev = load_table(spark, sf, "events")
    return transition_matrix(
        ev, "user_id", "ts", "event_type", "event_id"
    )


Q158_SQL = """
WITH seq AS (
  SELECT event_type AS to_state,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_state
  FROM events
), tr AS (
  SELECT from_state, to_state, count(*) AS n_transitions
  FROM seq WHERE from_state IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT from_state, CAST(SUM(n_transitions) AS BIGINT) AS from_total
  FROM tr GROUP BY 1
)
SELECT t.from_state, t.to_state, t.n_transitions, o.from_total,
       CAST(t.n_transitions AS DOUBLE) / CAST(o.from_total AS DOUBLE)
         AS prob
FROM tr t JOIN tot o USING (from_state)
ORDER BY 1, 2
"""


def q159_basket_lift(spark, sf):
    """Market-basket co-occurrence over (user, day) baskets of event
    types (operators/basket.py): support/confidence/lift per pair —
    exact distinct-membership counts, IEEE-deterministic measures.
    The basket-keyed self-join bounds pair fan-out by items-per-
    basket^2, never corpus^2."""
    from ..operators.basket import cooccurrence_lift

    ev = load_table(spark, sf, "events").select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    )
    return cooccurrence_lift(ev, ["user_id", "d"], "event_type")


Q159_SQL = """
WITH member AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type AS item
  FROM events
), nb AS (
  SELECT count(*) AS n_baskets
  FROM (SELECT DISTINCT user_id, d FROM member)
), item_n AS (
  SELECT item, count(*) AS n FROM member GROUP BY 1
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_pair
  FROM member a JOIN member b
    ON a.user_id = b.user_id AND a.d = b.d AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.n_pair,
       na.n AS n_a, nbi.n AS n_b, nb.n_baskets,
       CAST(p.n_pair AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)
         AS support,
       CAST(p.n_pair AS DOUBLE) / CAST(na.n AS DOUBLE) AS conf_a_to_b,
       CAST(p.n_pair AS DOUBLE) / CAST(nbi.n AS DOUBLE) AS conf_b_to_a,
       (CAST(p.n_pair AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
         / (CAST(na.n AS DOUBLE) * CAST(nbi.n AS DOUBLE)) AS lift
FROM pairs p
JOIN item_n na ON na.item = p.item_a
JOIN item_n nbi ON nbi.item = p.item_b
CROSS JOIN nb
ORDER BY 1, 2
"""


def q160_peak_concurrency(spark, sf):
    """Sweep-line peak concurrency (operators/sweepline.py): per day,
    the maximum number of simultaneously-active (user, day) windows
    and the first instant the peak is live.  Linear in endpoints —
    the self-join formulation would be quadratic in overlaps.  Fully
    deterministic: total event order (t, starts-first, user_id) and
    exact integer running sums."""
    from ..operators.sweepline import peak_concurrency

    ev = load_table(spark, sf, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    return (
        peak_concurrency(iv, ["d"], "lo", "hi", "user_id")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_intervals",
            "peak",
            "peak_ts",
        )
        
    )


Q160_SQL = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1, 2
), ends AS (
  SELECT d, lo AS t, 1 AS delta, user_id AS id FROM iv
  UNION ALL
  SELECT d, hi AS t, -1 AS delta, user_id AS id FROM iv
), run AS (
  SELECT d, t,
         CAST(SUM(delta) OVER (PARTITION BY d
              ORDER BY t, delta DESC, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS live
  FROM ends
), pk AS (
  SELECT d, t, live, max(live) OVER (PARTITION BY d) AS peak FROM run
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(count(*) // 2 AS BIGINT) AS n_intervals,
       max(live) AS peak,
       strftime(min(CASE WHEN live = peak THEN t END),
                '%Y-%m-%d %H:%M:%S.%f') AS peak_ts
FROM pk GROUP BY d ORDER BY day
"""


def q161_weighted_quantiles(spark, sf):
    """Exact weighted quantiles per brand (operators/robust.py
    weighted_quantile_stats): quantity-weighted median and p90 of
    extended price in integer cents — cross-multiplied cumulative-
    weight selection, no engine quantile() call, no division.  The
    part dim broadcasts into the fact scan."""
    from ..operators.robust import weighted_quantile_stats

    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        "l_extendedprice",
        "l_quantity",
        # total-order tie-break: linenumber < 100 by construction
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("lid"),
    )
    return weighted_quantile_stats(
        j, ["p_brand"], "l_extendedprice", "l_quantity", "lid"
    )


Q161_SQL = """
WITH c AS (
  SELECT p.p_brand,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(l.l_quantity AS BIGINT) AS w,
         l.l_orderkey * 100 + l.l_linenumber AS lid
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), r AS (
  SELECT p_brand, cents, w,
         CAST(SUM(w) OVER (PARTITION BY p_brand ORDER BY cents, lid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         -- NB: DuckDB identifiers are case-insensitive, so an alias
         -- "W" would silently resolve to the w column downstream.
         CAST(SUM(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tw
  FROM c
)
SELECT p_brand, count(*) AS n_rows, max(tw) AS total_weight,
       min(CASE WHEN cum * 2 >= tw * 1 THEN cents END) AS wmedian_cents,
       min(CASE WHEN cum * 10 >= tw * 9 THEN cents END) AS wp90_cents
FROM r GROUP BY 1 ORDER BY 1
"""


def q162_fk_orphan_audit(spark, sf):
    """Referential-integrity audit (operators/integrity.py): orphan
    counts for four FKs, with parents DETERMINISTICALLY thinned
    (key % 97 == 0 dropped) so the orphan path is genuinely
    exercised — the fixture itself is referentially clean, and an
    all-zeros gate would prove nothing."""
    from ..operators.integrity import fk_orphan_audit

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    p = load_table(spark, sf, "part")
    s = load_table(spark, sf, "supplier")
    thin = lambda df, k: df.where(F.col(k) % 97 != 0)  # noqa: E731
    return fk_orphan_audit(
        [
            ("lineitem.orderkey", li, "l_orderkey", thin(o, "o_orderkey"), "o_orderkey"),
            ("lineitem.partkey", li, "l_partkey", thin(p, "p_partkey"), "p_partkey"),
            ("lineitem.suppkey", li, "l_suppkey", thin(s, "s_suppkey"), "s_suppkey"),
            ("orders.custkey", o, "o_custkey", thin(c, "c_custkey"), "c_custkey"),
        ]
    )


def _q162_fk_sql(fk, child, ckey, parent, pkey):
    return f"""
SELECT '{fk}' AS fk,
       count(*) AS n_child,
       CAST(SUM(CASE WHEN p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan,
       count(DISTINCT CASE WHEN p._k IS NULL THEN c.{ckey} END)
         AS n_orphan_keys,
       CAST(SUM(CASE WHEN p._k IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS orphan_rate
FROM (SELECT {ckey} FROM {child} WHERE {ckey} IS NOT NULL) c
LEFT JOIN (SELECT DISTINCT {pkey} AS _k FROM {parent}
           WHERE {pkey} % 97 <> 0) p
  ON c.{ckey} = p._k"""


Q162_SQL = (
    "\nUNION ALL\n".join(
        [
            _q162_fk_sql("lineitem.orderkey", "lineitem", "l_orderkey",
                         "orders", "o_orderkey"),
            _q162_fk_sql("lineitem.partkey", "lineitem", "l_partkey",
                         "part", "p_partkey"),
            _q162_fk_sql("lineitem.suppkey", "lineitem", "l_suppkey",
                         "supplier", "s_suppkey"),
            _q162_fk_sql("orders.custkey", "orders", "o_custkey",
                         "customer", "c_custkey"),
        ]
    )
    + "\nORDER BY fk"
)
def q163_price_qty_skyline(spark, sf):
    """Per-brand price/quantity Pareto frontier (operators/
    skyline.py): the offers not beaten on BOTH axes — minimize
    extended price cents, maximize quantity.  The sorted-prefix
    window formulation is linear where the dominance self-join is
    quadratic.  The standing oracle mirrors the window math (the
    naive NOT EXISTS dominance twin measured 504 s at sf0.1 in
    DuckDB — itself the argument for the rewrite); the naive proof
    runs in pytest at sf0.001+sf0.01 (_Q163_NAIVE_SQL,
    tests/test_skyline.py), where it hash-matches exactly."""
    from ..operators.robust import cents
    from ..operators.skyline import skyline_2d

    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return (
        skyline_2d(
            j,
            ["p_brand"],
            cents("l_extendedprice"),
            F.col("l_quantity").cast("long"),
        )
        .select(
            "p_brand",
            F.col("min_val").alias("price_cents"),
            F.col("max_val").alias("qty"),
            "n_rows",
        )
        
    )


_Q163_PTS = """
  SELECT p.p_brand,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""

Q163_SQL = f"""
WITH pts AS ({_Q163_PTS}), flagged AS (
  SELECT p_brand, price_cents, qty,
         max(qty) OVER (PARTITION BY p_brand ORDER BY price_cents
                        RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_lt,
         max(qty) OVER (PARTITION BY p_brand, price_cents) AS best_eq
  FROM pts
)
SELECT p_brand, price_cents, qty, count(*) AS n_rows
FROM flagged
WHERE (best_lt IS NULL OR qty > best_lt) AND qty = best_eq
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

# the quadratic ground truth — pytest-only (504 s at sf0.1 in DuckDB;
# the cost IS the argument for the window rewrite)
_Q163_NAIVE_SQL = f"""
WITH pts AS ({_Q163_PTS}), sky AS (
  SELECT * FROM pts a
  WHERE NOT EXISTS (
    SELECT 1 FROM pts b
    WHERE b.p_brand = a.p_brand
      AND b.price_cents <= a.price_cents AND b.qty >= a.qty
      AND (b.price_cents < a.price_cents OR b.qty > a.qty)
  )
)
SELECT p_brand, price_cents, qty, count(*) AS n_rows
FROM sky GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q164_clamped_balance(spark, sf):
    """Zero-clamped running balance per user (operators/balance.py):
    the non-associative fold S_i = max(0, S_{i-1} + x_i) in pure
    windows via the Lindley reflection identity — purchases/signups
    credit, other events debit (integer cents).  No recursion, no
    UDF; the oracle computes the SAME closed form, and the identity
    itself is proven against a literal Python fold in
    tests/test_balance.py."""
    from ..operators.balance import clamped_balance
    from ..operators.robust import cents

    ev = load_table(spark, sf, "events")
    signed = F.when(
        F.col("event_type").isin("purchase", "signup"), cents("value")
    ).otherwise(-cents("value"))
    return clamped_balance(ev, "user_id", "ts", signed, "event_id")


Q164_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS x
  FROM events
), p AS (
  SELECT user_id, ts, event_id, x,
         CAST(SUM(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS pfx
  FROM base
), r AS (
  SELECT user_id, x, pfx,
         least(min(pfx) OVER w, 0) AS flr,
         least(COALESCE(min(pfx) OVER w3, 0), 0) AS prev_flr
  FROM p
  WINDOW
    w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w3 AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, count(*) AS n_events,
       CAST(SUM(x) AS BIGINT) - least(min(pfx), 0) AS final_balance,
       max(pfx - flr) AS peak_balance,
       CAST(SUM(CASE WHEN pfx < prev_flr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped
FROM r GROUP BY 1 ORDER BY 1
"""


def q165_flow_concentration(spark, sf):
    """Per-type flow concentration (operators/concentration.py):
    Gini (sorted-rank identity), Herfindahl, and exact top-decile
    share of per-user cents totals — all exact int64 sums with fixed
    IEEE parenthesization, no percentile interpolation anywhere."""
    from ..operators.concentration import concentration_metrics
    from ..operators.robust import cents

    ev = load_table(spark, sf, "events")
    return concentration_metrics(
        ev, ["event_type"], "user_id", cents("value")
    )


Q165_SQL = """
WITH spend AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, user_id) AS r,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x DESC, user_id DESC) AS rd,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM spend
)
SELECT event_type,
       count(*) AS n_actors,
       CAST(SUM(x) AS BIGINT) AS total_cents,
       (2.0 * CAST(CAST(SUM(r * x) AS BIGINT) AS DOUBLE)
        - (CAST(count(*) AS DOUBLE) + 1.0)
          * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE))
       / (CAST(count(*) AS DOUBLE)
          * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)) AS gini,
       CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE)
       / (CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)
          * CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE)) AS hhi,
       CAST(CAST(SUM(CASE WHEN rd * 10 <= n + 9 THEN x ELSE 0 END)
                 AS BIGINT) AS DOUBLE)
       / CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS top_decile_share
FROM ranked GROUP BY 1 ORDER BY 1
"""


def s16_transitions_stream(spark, sf):
    """Streaming twin of q158 (operators/markov.py
    transition_increments): per-user constant-size state (the last
    seen event) makes cross-batch transitions count exactly once;
    summing the emitted per-batch increments reproduces the batch
    matrix EXACTLY, so the oracle is Q158 verbatim — a stream==batch
    equality gate, not a closed-window restriction."""
    from ..operators.markov import (
        transition_counts_to_matrix,
        transition_increments,
    )
    from ..streaming.core import run_to_memory, stream_events

    sdf = stream_events(spark, sf).select(
        "user_id", "ts", "event_type", "event_id"
    )
    inc = run_to_memory(
        transition_increments(sdf),
        "s16_transitions",
        output_mode="update",
    )
    # counts_to_matrix derives totals FROM the counts (a self-referencing
    # join); cut lineage on the tiny emitted table — the s15 lesson
    # (Spark INTERNAL_ERROR on self-join attribute dedup over a
    # MemorySink view leaf).
    inc = inc.localCheckpoint(eager=True)
    tr = inc.groupBy("from_state", "to_state").agg(
        F.sum("n").alias("n_transitions")
    )
    return transition_counts_to_matrix(tr)


S16_SQL = Q158_SQL  # exact stream==batch equality, no window restriction


def s17_gapfill_stream(spark, sf):
    """Streaming twin of q150 (operators/gapfill.py): the hourly
    bucket sums are MAINTAINED BY the stream (windowed decimal-sum
    agg, append emits each hour once when it closes) and the dense
    grid + LOCF + interpolation run as a batch view over the emitted
    table — the production split: the stream owns the data-sized
    work, the fill stays domain-sized and retroactively recomputable.
    Oracle: Q150 restricted to closed hours (the s14/s15 watermark
    argument — the final no-data batch advances the watermark to
    max(ts), so exactly the hours strictly before max(ts)'s hour
    have flushed)."""
    from ..functions.hashstable import dsum
    from ..operators.gapfill import bucket_sums_windowed, gapfill_from_buckets
    from ..streaming.core import run_to_memory, stream_events

    sdf = stream_events(spark, sf).select("event_type", "ts", "value")
    buckets = run_to_memory(
        bucket_sums_windowed(
            sdf, ["event_type"], "ts", dsum("value"), F.count(F.lit(1))
        ),
        "s17_gapfill",
    )
    buckets = buckets.localCheckpoint(eager=True)  # the s15 lineage cut
    out = gapfill_from_buckets(buckets, ["event_type"], bucket="hour")
    return out.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_rows",
        "actual_sum",
        "locf_sum",
        "interp_sum",
        "is_gap",
    )


# Q150's twin restricted to closed hour windows (built by replacement
# so the twins stay coupled; the assert pins the splice point).
S17_SQL = Q150_SQL.replace(
    "FROM events GROUP BY 1, 2",
    """FROM events
  WHERE date_trunc('hour', ts)
        < (SELECT date_trunc('hour', max(ts)) FROM events)
  GROUP BY 1, 2""",
)
assert "WHERE date_trunc('hour', ts)" in S17_SQL


def q166_cusum_drift(spark, sf):
    """One-sided CUSUM drift monitor per type (Page's test) —
    operator COMPOSITION: the robust center/scale come from
    operators/robust.py (exact lower median + MAD, broadcast back),
    and the CUSUM statistic IS operators/balance.py's zero-clamped
    fold of the slack-adjusted deviations (amount = cents − med −
    mad), with alarms counted above h = 5·MAD.  Every quantity is an
    exact int64."""
    from ..operators.balance import clamped_balance
    from ..operators.robust import cents, mad_outlier_stats

    ev = load_table(spark, sf, "events")
    scale = mad_outlier_stats(
        ev, ["event_type"], "value", "event_id", k=3
    ).select("event_type", "med_cents", "mad_cents")
    ev2 = ev.join(F.broadcast(scale), "event_type")
    amount = cents("value") - F.col("med_cents") - F.col("mad_cents")
    return clamped_balance(
        ev2,
        "event_type",
        "ts",
        amount,
        "event_id",
        alarm_threshold=F.col("mad_cents") * F.lit(5),
    )


Q166_SQL = """
WITH c AS (
  SELECT event_type, event_id AS id, ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cents, id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM c
), med AS (
  SELECT event_type, cents AS med_cents FROM r1 WHERE rn = (n + 1) // 2
), d AS (
  SELECT c.event_type, c.id, abs(c.cents - m.med_cents) AS dev
  FROM c JOIN med m ON c.event_type = m.event_type
), r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev, id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
), mad AS (
  SELECT event_type, dev AS mad_cents FROM r2 WHERE rn = (n + 1) // 2
), base AS (
  SELECT c.event_type, c.ts, c.id,
         c.cents - m.med_cents - t.mad_cents AS x,
         t.mad_cents * 5 AS h
  FROM c
  JOIN med m ON c.event_type = m.event_type
  JOIN mad t ON c.event_type = t.event_type
), p AS (
  SELECT event_type, ts, id, x, h,
         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY ts, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS pfx
  FROM base
), r AS (
  SELECT event_type, x, h, pfx,
         least(min(pfx) OVER w, 0) AS flr,
         least(COALESCE(min(pfx) OVER w3, 0), 0) AS prev_flr
  FROM p
  WINDOW
    w AS (PARTITION BY event_type ORDER BY ts, id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w3 AS (PARTITION BY event_type ORDER BY ts, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_type, count(*) AS n_events,
       CAST(SUM(x) AS BIGINT) - least(min(pfx), 0) AS final_balance,
       max(pfx - flr) AS peak_balance,
       CAST(SUM(CASE WHEN pfx < prev_flr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       CAST(SUM(CASE WHEN pfx - flr > h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms
FROM r GROUP BY 1
"""
_Q167_SPLIT = "2024-01-16"


def q167_psi_drift(spark, sf):
    """Distribution drift between month halves (operators/drift.py):
    PSI per (type, reference-decile bin) — exact rank-selected edges,
    integer bin assignment, Laplace-smoothed shares; the per-bin
    contribution is the surface's one deliberately ROUNDed value
    (ln is the transcendental hashstable.py reserves ROUND for)."""
    from ..operators.drift import psi_drift
    from ..operators.robust import cents

    ev = load_table(spark, sf, "events")
    split = F.lit(_Q167_SPLIT).cast("timestamp")
    ref = ev.where(F.col("ts") < split)
    cur = ev.where(F.col("ts") >= split)
    return psi_drift(ref, cur, ["event_type"], cents("value"), n_bins=10)


def _q167_sql(n_bins: int = 10) -> str:
    e_aggs = ",\n         ".join(
        f"min(CASE WHEN rn * {n_bins} >= n * {k} THEN x END) AS e{k}"
        for k in range(1, n_bins)
    )
    bin_expr = " + ".join(
        f"CASE WHEN x >= e{k} THEN 1 ELSE 0 END" for k in range(1, n_bins)
    )
    return f"""
WITH ev AS (
  SELECT event_type, ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
), r AS (
  SELECT event_type, x FROM ev WHERE ts < TIMESTAMP '{_Q167_SPLIT}'
), c AS (
  SELECT event_type, x FROM ev WHERE ts >= TIMESTAMP '{_Q167_SPLIT}'
), rk AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM r
), edges AS (
  SELECT event_type,
         {e_aggs}
  FROM rk GROUP BY 1
), rcnt AS (
  SELECT r.event_type, CAST({bin_expr} AS BIGINT) AS bin,
         count(*) AS n_ref
  FROM r JOIN edges USING (event_type) GROUP BY 1, 2
), ccnt AS (
  SELECT c.event_type, CAST({bin_expr} AS BIGINT) AS bin,
         count(*) AS n_cur
  FROM c JOIN edges USING (event_type) GROUP BY 1, 2
), grid AS (
  SELECT e.event_type, b.bin
  FROM edges e CROSS JOIN
       (SELECT unnest(range({n_bins})) AS bin) b
), counts AS (
  SELECT g.event_type, g.bin,
         COALESCE(rc.n_ref, 0) AS n_ref,
         COALESCE(cc.n_cur, 0) AS n_cur
  FROM grid g
  LEFT JOIN rcnt rc ON rc.event_type = g.event_type AND rc.bin = g.bin
  LEFT JOIN ccnt cc ON cc.event_type = g.event_type AND cc.bin = g.bin
), shares AS (
  SELECT event_type, bin, n_ref, n_cur,
         CAST(n_ref + 1 AS DOUBLE)
           / CAST(SUM(n_ref) OVER (PARTITION BY event_type)
                  + {n_bins} AS DOUBLE) AS p_ref,
         CAST(n_cur + 1 AS DOUBLE)
           / CAST(SUM(n_cur) OVER (PARTITION BY event_type)
                  + {n_bins} AS DOUBLE) AS p_cur
  FROM counts
)
SELECT event_type, bin, n_ref, n_cur, p_ref, p_cur,
       round((p_ref - p_cur) * ln(p_ref / p_cur), 4) AS psi_contrib
FROM shares
UNION ALL
-- brand-new segments (keys in cur with no reference rows): one row per
-- key with bin/p/psi NULL — mirrors operators/drift.py's emission so
-- the twins agree even on data where a segment appears mid-stream
SELECT event_type, CAST(NULL AS BIGINT) AS bin,
       CAST(0 AS BIGINT) AS n_ref, count(*) AS n_cur,
       CAST(NULL AS DOUBLE) AS p_ref, CAST(NULL AS DOUBLE) AS p_cur,
       CAST(NULL AS DOUBLE) AS psi_contrib
FROM c
WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.event_type = c.event_type)
GROUP BY event_type
"""


Q167_SQL = _q167_sql()


def q168_rolling_active(spark, sf):
    """Rolling 7-day distinct actives per day (operators/rolling.py):
    COUNT(DISTINCT) over a sliding frame is illegal in every engine —
    the contribution-explode rewrite makes each (user, active-day)
    pair vote into the w windows it appears in, so the oracle can be
    the naive day x trailing-window join while the engine path stays
    linear."""
    from ..operators.rolling import rolling_active_users

    ev = load_table(spark, sf, "events")
    return rolling_active_users(ev, "user_id", "ts", window_days=7)


Q168_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), days AS (
  SELECT DISTINCT d FROM active
), wau AS (
  SELECT dy.d, count(DISTINCT a.user_id) AS wau
  FROM days dy JOIN active a ON a.d BETWEEN dy.d - 6 AND dy.d
  GROUP BY 1
), dau AS (
  SELECT d, count(*) AS dau FROM active GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


def q169_coalesced_activity(spark, sf):
    """Coalesced per-(user, day) activity from overlapping per-type
    windows (operators/coalesce_intervals.py): total covered time
    without double-counting the overlap between event-type spans —
    the union-of-intervals measure, one sorted sweep per key, no
    quadratic overlap pairing.  All exact int64 microseconds."""
    from ..operators.coalesce_intervals import coalesce_intervals

    ev = load_table(spark, sf, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    return coalesce_intervals(
        iv, ["user_id", "d"], "lo", "hi", "event_type"
    ).select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_intervals",
        "n_episodes",
        "covered_us",
        "sum_span_us",
        "overlap_us",
    )


Q169_SQL = """
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
         epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
  FROM events GROUP BY 1, 2, 3
), flagged AS (
  SELECT user_id, d, event_type, lo, hi,
         CASE WHEN max(hi) OVER wprev IS NULL
               OR lo > max(hi) OVER wprev THEN 1 ELSE 0 END AS is_new
  FROM iv
  WINDOW wprev AS (PARTITION BY user_id, d
                   ORDER BY lo, hi, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), eps AS (
  SELECT user_id, d, lo, hi,
         CAST(SUM(is_new) OVER (PARTITION BY user_id, d
              ORDER BY lo, hi, event_type
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ep
  FROM flagged
), per_ep AS (
  SELECT user_id, d, ep, count(*) AS n,
         max(hi) - min(lo) AS covered,
         CAST(SUM(hi - lo) AS BIGINT) AS span
  FROM eps GROUP BY 1, 2, 3
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
       CAST(SUM(n) AS BIGINT) AS n_intervals,
       count(*) AS n_episodes,
       CAST(SUM(covered) AS BIGINT) AS covered_us,
       CAST(SUM(span) AS BIGINT) AS sum_span_us,
       CAST(SUM(span) AS BIGINT) - CAST(SUM(covered) AS BIGINT)
         AS overlap_us
FROM per_ep GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# The sketch-rollup family (q142 histogram report, q143 certified top-k,
# q144 HLL overlap), q149 incremental SimHash near-dup, q152 MAD
# outliers, the graph family (q170 triangle counts / q171
# integer-quantized PageRank, operators/graph.py), q172 the
# WITHIN-clause time-constrained funnel, and q173 boolean retrieval.
# Their streaming twins s14/s15 live in queries/sblock.py.
# --------------------------------------------------------------------------

def _events_day(spark, sf):
    return load_table(spark, sf, "events").select(
        "event_type",
        fmt_date("ts", "day"),  # single point of truth w/ the strftime twins
        "user_id",
        "value",
    )


def q142_hist_rollup_report(spark, sf):
    return hist_rollup_report(
        _events_day(spark, sf),
        ["event_type"],
        "day",
        "value",
        lo=0.0,
        hi=500.0,
        n_bins=50,
        q=0.9,
    )


Q142_SQL = """
SELECT event_type,
       count(value) AS n_rows,
       TRUE AS count_preserved,
       TRUE AS rollup_eq_shard,
       TRUE AS rollup_eq_direct,
       TRUE AS q_in_band,
       TRUE AS grid_consistent
FROM events
GROUP BY event_type
"""


_M, _K = 8, 5


def q143_topk_certified(spark, sf):
    ev = _events_day(spark, sf)
    rollup = topk_rollup(ev, ["event_type"], "day", "user_id", m=_M)
    merged = topk_merge(rollup, ["event_type"])
    return topk_read(merged, ["event_type"], k=_K).select(
        "event_type", "item", "est", "upper", "rank", "certified"
    )


# The twin recomputes the identical lossy rollup: exact per-(type, day)
# counts, the m-cut with the same (count DESC, item ASC) tie-break,
# per-bucket tail bounds, merge with per-item hideable slack, and the
# read certificate.  SUMs cast to BIGINT (DuckDB HUGEINT reaches pandas
# as float64 otherwise — the dtype_audit class).
Q143_SQL = f"""
WITH c AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, user_id, count(*) AS n
  FROM events GROUP BY 1, 2, 3
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type, day ORDER BY n DESC, user_id ASC) AS rn
  FROM c
), tb AS (
  SELECT event_type, day,
         coalesce(max(CASE WHEN rn > {_M} THEN n END), 0) AS tail_bound
  FROM r GROUP BY 1, 2
), slack AS (
  SELECT event_type, CAST(sum(tail_bound) AS BIGINT) AS total_slack
  FROM tb GROUP BY 1
), merged AS (
  SELECT k.event_type, k.user_id AS item,
         CAST(sum(k.n) AS BIGINT) AS est,
         CAST(sum(t.tail_bound) AS BIGINT) AS reported_tb
  FROM r k JOIN tb t ON k.event_type = t.event_type AND k.day = t.day
  WHERE k.rn <= {_M}
  GROUP BY 1, 2
), m2 AS (
  SELECT m.event_type, m.item, m.est,
         m.est + s.total_slack - m.reported_tb AS upper,
         s.total_slack
  FROM merged m JOIN slack s USING (event_type)
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY est DESC, item ASC) AS rank
  FROM m2
), kth AS (
  SELECT event_type, min(est) AS kth_est, max(total_slack) AS slk
  FROM ranked WHERE rank <= {_K} GROUP BY 1
), outs AS (
  SELECT event_type, max(upper) AS best_out
  FROM ranked WHERE rank > {_K} GROUP BY 1
)
SELECT r.event_type, r.item, r.est, r.upper, r.rank,
       (k.kth_est > greatest(coalesce(o.best_out, 0), k.slk)) AS certified
FROM ranked r
JOIN kth k USING (event_type)
LEFT JOIN outs o USING (event_type)
WHERE r.rank <= {_K}
"""


def q144_hll_overlap(spark, sf):
    """Pairwise audience overlap via sketch inclusion–exclusion.

    Hash-gateable because every term is in the coupon-exact regime at
    every fixture sf: the largest pair union is the whole user
    population (1500 at sf0.1), under the measured lgk=14 exactness
    boundary of ~1609 (operators/sketches.py docstring) — so
    n_intersect equals the exact self-join answer and jaccard is the
    same two-integer IEEE division on both engines."""
    from ..operators.sketches import hll_overlap_estimates

    ev = load_table(spark, sf, "events").select("event_type", "user_id")
    return hll_overlap_estimates(ev, "event_type", "user_id", lgk=14)


Q144_SQL = """
WITH c AS (
  SELECT event_type, count(DISTINCT user_id) AS n FROM events GROUP BY 1
), u AS (
  SELECT DISTINCT event_type, user_id FROM events
), i AS (
  SELECT a.event_type AS la, b.event_type AS lb, count(*) AS n_i
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ca.event_type AS label_a, cb.event_type AS label_b,
       ca.n AS n_a, cb.n AS n_b,
       ca.n + cb.n - coalesce(i.n_i, 0) AS n_union,
       coalesce(i.n_i, 0) AS n_intersect,
       CAST(coalesce(i.n_i, 0) AS DOUBLE)
         / (ca.n + cb.n - coalesce(i.n_i, 0)) AS jaccard
FROM c ca
JOIN c cb ON ca.event_type < cb.event_type
LEFT JOIN i ON i.la = ca.event_type AND i.lb = cb.event_type
"""

_Q149_BOUND = 1000  # the q91d input bound (tiny-vocab band saturation)


def q149_incremental_simhash(spark, sf):
    """Incremental near-dup (operators/incdedup.py): the q137
    index-and-merge shape lifted to SIMILARITY dedup — an incoming
    shard fingerprinted and band-joined against the persisted SimHash
    index, emitting (shard x index) and (shard x shard) pairs only.
    Hash-gateable because SimHash banding has EXACT recall by
    pigeonhole (q91d's argument): the result equals the full-corpus
    q91d pair set restricted to pairs involving a shard doc, which is
    what the oracle computes.  Framing mirrors q137: ids below
    4/5 x max are the indexed corpus, the rest the incoming shard
    (split scalars ride a broadcast cross-join, never a collect)."""
    docs = load_table(spark, sf, "documents").filter(
        F.col("doc_id") < _Q149_BOUND
    )
    split = docs.agg(F.expr("(max(doc_id) * 4) div 5").alias("__s"))
    d = docs.crossJoin(F.broadcast(split))
    index_docs = d.filter(F.col("doc_id") < F.col("__s"))
    shard_docs = d.filter(F.col("doc_id") >= F.col("__s"))
    index_fps = simhash_fingerprints_long(index_docs)
    return simhash_incremental_pairs(index_fps, shard_docs, max_hamming=2)


def _q149_sql(n_bits: int = 32, max_hamming: int = 2) -> str:
    # the q91d per-bit SQL formulation with the pair set restricted to
    # shard-involving pairs (doc_b >= the 4/5 split; ids are ordered,
    # so any pair with a shard member has its b side in the shard)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\W+'),"
        " x -> x <> '')"
    )
    hex_cols = ",\n         ".join(simhash_hex_digits(n_bits))
    votes = simhash_sql_votes(n_bits, duckdb_shift)
    vote_cols = ",\n         ".join(
        f"{v} AS v{b}" for b, v in enumerate(votes)
    )
    fp = " || ".join(
        f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(n_bits)
    )
    ham = " + ".join(
        f"CASE WHEN substring(a.simhash, {i + 1}, 1) <> "
        f"substring(b.simhash, {i + 1}, 1) THEN 1 ELSE 0 END"
        for i in range(n_bits)
    )
    return f"""
WITH s AS (
  SELECT (max(doc_id) * 4) // 5 AS s_lo FROM documents
  WHERE doc_id < {_Q149_BOUND}
), toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({toks}) AS tok FROM documents
  WHERE doc_id < {_Q149_BOUND}
), hexed AS (
  SELECT doc,
         {hex_cols}
  FROM toks
), voted AS (
  SELECT doc,
         {vote_cols}
  FROM hexed GROUP BY doc
), fps AS (
  SELECT doc, {fp} AS simhash FROM voted
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         CAST({ham} AS INTEGER) AS hamming
  FROM fps a JOIN fps b ON a.doc < b.doc, s
  WHERE b.doc >= s.s_lo
)
WHERE hamming <= {max_hamming}
"""


Q149_SQL = _q149_sql()


def q152_mad_outliers(spark, sf):
    """Robust per-type outlier screen (operators/robust.py): lower
    median and MAD of the cents-fixed value column by explicit rank
    arithmetic (NO engine median()/quantile() call — interpolation
    conventions differ), integer 3-MAD outlier counts.  Every
    compared quantity is a BIGINT; the one division is over exact
    integers."""
    from ..operators.robust import mad_outlier_stats

    ev = load_table(spark, sf, "events")
    return mad_outlier_stats(
        ev, ["event_type"], "value", "event_id", k=3
    )


Q152_SQL = """
WITH c AS (
  SELECT event_type, event_id AS id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cents, id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM c
), med AS (
  SELECT event_type, cents AS med_cents FROM r1 WHERE rn = (n + 1) // 2
), d AS (
  SELECT c.event_type, c.id, m.med_cents,
         abs(c.cents - m.med_cents) AS dev
  FROM c JOIN med m ON c.event_type = m.event_type
), r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev, id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
), mad AS (
  SELECT event_type, dev AS mad_cents FROM r2 WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       count(*) AS n_rows,
       max(d.med_cents) AS med_cents,
       max(t.mad_cents) AS mad_cents,
       CAST(SUM(CASE WHEN d.dev > 3 * t.mad_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN d.dev > 3 * t.mad_cents THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS outlier_rate
FROM d JOIN mad t ON d.event_type = t.event_type
GROUP BY 1 ORDER BY 1
"""


def q170_triangle_counts(spark, sf):
    """Per-node triangle participation over the interaction graph
    (operators/graph.py): consecutive distinct users in each
    event_type's (ts, id)-ordered tape are linked; triangles counted
    by degree-ordered orientation — each triangle generated exactly
    once at its minimum-(deg, id) apex, wedge fan-out bounded by
    O(sqrt(2m)) per node instead of the naive triple join's
    sum(deg^2) hub explosion.  All exact integers; the oracle IS the
    naive canonical-triple join, so the hash pass proves the
    orientation rewrite exact."""
    from ..operators.graph import cooccurrence_edges, triangle_counts

    ev = load_table(spark, sf, "events")
    edges = cooccurrence_edges(ev, "event_type", "ts", "user_id", "event_id")
    return triangle_counts(edges).withColumnRenamed("node", "user_id")


_GRAPH_EDGE_SQL = """
seq AS (
  SELECT user_id AS b,
         lag(user_id) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS a
  FROM events
), e AS (
  SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
  FROM seq WHERE a IS NOT NULL AND a <> b
), deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
  GROUP BY 1
)"""


Q170_SQL = f"""
WITH {_GRAPH_EDGE_SQL}, tri AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM e e1
  JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
), votes AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT d.node AS user_id, d.deg,
       CAST(count(v.node) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN votes v ON d.node = v.node
GROUP BY 1, 2
"""


_PR_K, _PR_SCALE = 3, 1_000_000


def q171_pagerank(spark, sf):
    """PageRank, 3 fixed iterations over the same interaction graph
    (operators/graph.py pagerank_quantized) — hash-gateable because
    ranks are exact int64 micro-units: contributions are integer
    divisions, the neighbor sum is an integer sum (partition-order-
    independent where float PageRank never is), damping is the
    rational (85*s) div 100 + 150000.  The oracle unrolls the same
    three iterations with the same integer arithmetic."""
    from ..operators.graph import cooccurrence_edges, pagerank_quantized

    ev = load_table(spark, sf, "events")
    edges = cooccurrence_edges(ev, "event_type", "ts", "user_id", "event_id")
    return pagerank_quantized(edges, k=_PR_K, scale=_PR_SCALE).withColumnRenamed(
        "node", "user_id"
    )


def _q171_sql(k: int = _PR_K, scale: int = _PR_SCALE) -> str:
    base = 15 * scale // 100
    cte = [f"""adj AS (
  SELECT a.node, a.nbr, d.deg
  FROM (SELECT src AS node, dst AS nbr FROM e
        UNION ALL SELECT dst AS node, src AS nbr FROM e) a
  JOIN deg d ON a.node = d.node
), p0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS pr FROM deg
)"""]
    for i in range(1, k + 1):
        cte.append(f"""c{i} AS (
  SELECT a.nbr AS node, CAST(SUM(p.pr // a.deg) AS BIGINT) AS s
  FROM adj a JOIN p{i - 1} p ON a.node = p.node
  GROUP BY 1
), p{i} AS (
  SELECT d.node,
         CAST(85 * COALESCE(c.s, 0) // 100 + {base} AS BIGINT) AS pr
  FROM deg d LEFT JOIN c{i} c ON d.node = c.node
)""")
    return (
        f"WITH {_GRAPH_EDGE_SQL}, "
        + ", ".join(cte)
        + f"""
SELECT d.node AS user_id, d.deg, p.pr AS pr_micro
FROM deg d JOIN p{k} p ON d.node = p.node
"""
    )


Q171_SQL = _q171_sql()


_Q172_GAP_S = 48 * 3600  # conversion window: 48 h per stage


def q172_funnel_within(spark, sf):
    """Time-constrained funnel (the MATCH_RECOGNIZE ``WITHIN`` clause;
    operators/funnel.py ``max_gap_s``): stage i+1 must land within 48 h
    of stage i or the user stalls — the conversion-window semantics
    every product funnel actually uses, which q77/q77b's unconstrained
    twins cannot express.  Gap chosen to BIND at every fixture sf
    (users stall who convert unconstrained), so the gate exercises the
    constraint, not just the fold.  Same fold formulation and format
    conventions as q77."""
    from ..operators.funnel import funnel_stages
    from ..sources.tables import load_table as _lt

    e = _lt(spark, sf, "events")
    res = funnel_stages(
        e, ("view", "click", "purchase"), bounded=True,
        max_gap_s=_Q172_GAP_S,
    )
    return res.select(
        "user_id",
        (
            F.col("t1").isNotNull().cast("int")
            + F.col("t2").isNotNull().cast("int")
            + F.col("t3").isNotNull().cast("int")
        ).alias("stage"),
        F.date_format("t1", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("t2", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("t3", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


Q172_SQL = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL {_Q172_GAP_S} SECOND
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL {_Q172_GAP_S} SECOND
  GROUP BY 1
)
SELECT u.user_id,
       (CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS stage,
       strftime(t1, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(t2, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(t3, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
"""


_STAGE_TOKS_B = (
    "list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')"
)


def q173_boolean_search(spark, sf):
    """Boolean retrieval over the positional index (operators/index.py
    boolean_search): docs containing 'part' AND 'filter' AND NOT
    'vector' — posting-set algebra, the capability between bag-of-
    words ranking (q96/q117) and positional phrases (q148).  Touches
    only the three queried terms' postings; the NOT set rides one
    AQE-decided anti-join sized by the excluded terms' document
    frequency (broadcast iff actually small — operators/index.py).
    'vector' BINDS at every fixture sf (~85% of
    the part-and-filter docs are excluded), so the gate exercises the
    exclusion path, not just the conjunction.  Hash-exact: the
    tokenizer is the shared q94-q96 oracle convention and every
    output is an integer."""
    from ..operators.index import boolean_search, positional_index
    from ..sources.tables import load_table as _lt

    docs = _lt(spark, sf, "documents").select("doc_id", "text")
    return boolean_search(
        positional_index(docs), ["part", "filter"], ["vector"]
    )


Q173_SQL = f"""
WITH docs AS (
  SELECT doc_id, {_STAGE_TOKS_B} AS arr FROM documents
), toks AS (
  SELECT doc_id, unnest(arr) AS tok FROM docs
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
), a AS (SELECT doc_id, tf FROM tf WHERE tok = 'part'),
b AS (SELECT doc_id, tf FROM tf WHERE tok = 'filter'),
x AS (SELECT DISTINCT doc_id FROM tf WHERE tok = 'vector')
SELECT a.doc_id,
       CAST(least(a.tf, b.tf) AS BIGINT) AS min_tf,
       CAST(a.tf + b.tf AS BIGINT) AS sum_tf
FROM a JOIN b USING (doc_id)
WHERE a.doc_id NOT IN (SELECT doc_id FROM x)
"""


_Q174_T = (7, 10)    # Jaccard threshold 0.7 as an exact rational
_Q174_NGRAM = 3      # shingle sets — token sets saturate (see setjoin.py)


def q174_setsim_join(spark, sf):
    """Prefix-filtered exact set-similarity self-join (operators/
    setjoin.py): all document pairs with 3-shingle-set Jaccard >= 0.7
    over the WHOLE corpus (no doc bound — the prefix filter is the
    scale path, and the oracle's candidate stage is shingle-equality
    blocking, tractable at every fixture sf).  The threshold is the
    exact rational 7/10 on BOTH engines (prefix length and acceptance
    test are integer arithmetic), so boundary pairs cannot flip;
    jaccard is the same two-integer IEEE division as the q91/q144
    convention.  The 0.7 bar BINDS: 12k/11.5k/1130k candidate pairs
    share a shingle at the three sfs, 28/25/256 pass."""
    from ..operators.setjoin import setsim_join

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return setsim_join(docs, *_Q174_T, ngram=_Q174_NGRAM)

Q174_SQL = f"""
WITH docs AS (
  SELECT doc_id AS doc, {_STAGE_TOKS_B} AS arr FROM documents
), toks AS (
  SELECT doc, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM docs
), sh AS (
  SELECT DISTINCT a.doc, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc = b.doc AND b.pos = a.pos + 1
  JOIN toks c ON a.doc = c.doc AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc, count(*) AS n FROM sh GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE n_inter * ({_Q174_T[1]} + {_Q174_T[0]})
      >= {_Q174_T[0]} * (sa.n + sb.n)
"""

_Q175_K = 3       # peel threshold: binds on the daily graph at every sf
_Q175_ROUNDS = 6  # past the measured fixpoint depth (max 5 at sf0.1)
_Q175_DAY = "2024-01-01"


def q175_kcore(spark, sf):
    """k-core peeling (operators/kcore.py) over the DAILY interaction
    graph (one day's event tape — the full-period co-occurrence graph
    is near-complete and no k binds on it; the daily graph's degree
    distribution is scale-invariant because tape length and user count
    both scale with sf): 6 fixed peeling rounds at k=3 — past the
    measured fixpoint depth at every fixture sf (max 5; one-more-round
    stability pinned in tests), so in_core marks TRUE k-core
    membership while the oracle unrolls the same rounds as chained
    CTEs (the q171 fixed-iteration trick).  All integers; k=3 BINDS
    everywhere (peels 15/15, 27/134, 400/1338 nodes at the three
    sfs)."""
    from ..operators.graph import cooccurrence_edges
    from ..operators.kcore import kcore_peel

    ev = load_table(spark, sf, "events").filter(
        F.to_date("ts") == F.lit(_Q175_DAY)
    )
    edges = cooccurrence_edges(ev, "event_type", "ts", "user_id", "event_id")
    return kcore_peel(
        edges, k=_Q175_K, rounds=_Q175_ROUNDS
    ).withColumnRenamed("node", "user_id")


# the q170/q171 edge CTE restricted to the single day
# MATERIALIZED: the unrolled peel chain references each level several
# times; DuckDB inlines plain CTEs per reference, which compounds
# exponentially over 6 rounds (measured: thousands of parquet re-opens,
# "too many open files").  Materializing each level makes the oracle
# linear in rounds, like the engine side.
_Q175_EDGE_SQL = f"""
seq AS MATERIALIZED (
  SELECT user_id AS b,
         lag(user_id) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS a
  FROM events WHERE CAST(ts AS DATE) = DATE '{_Q175_DAY}'
), e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
  FROM seq WHERE a IS NOT NULL AND a <> b
), deg AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
  GROUP BY 1
)"""


def _q175_sql(k: int = _Q175_K, rounds: int = _Q175_ROUNDS) -> str:
    cte = ["e0 AS MATERIALIZED (SELECT src, dst FROM e)"]
    for i in range(1, rounds + 1):
        cte.append(f"""d{i} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT src AS node FROM e{i - 1}
    UNION ALL SELECT dst AS node FROM e{i - 1}
  ) GROUP BY 1
), k{i} AS MATERIALIZED (
  SELECT node FROM d{i} WHERE deg >= {k}
), e{i} AS MATERIALIZED (
  SELECT p.src, p.dst FROM e{i - 1} p
  JOIN k{i} a ON p.src = a.node
  JOIN k{i} b ON p.dst = b.node
)""")
    return (
        f"WITH {_Q175_EDGE_SQL}, "
        + ", ".join(cte)
        + f""", dfinal AS (
  SELECT node, count(*) AS deg FROM (
    SELECT src AS node FROM e{rounds}
    UNION ALL SELECT dst AS node FROM e{rounds}
  ) GROUP BY 1
)
SELECT d.node AS user_id, d.deg,
       (f.node IS NOT NULL) AS in_core,
       CAST(coalesce(f.deg, 0) AS BIGINT) AS core_deg
FROM deg d LEFT JOIN dfinal f ON d.node = f.node
"""
    )


Q175_SQL = _q175_sql()

_Q176_MIN_COUNT = 5


def q176_collocations(spark, sf):
    """Collocation lift over adjacent token bigrams (operators/
    collocations.py): lift_ppm = n_ab * N * 1e6 div (n_a * n_b) —
    PMI's exact integer argument (log is monotone), every output
    an int64."""
    from ..operators.collocations import collocation_lift

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return collocation_lift(docs, min_count=_Q176_MIN_COUNT)


Q176_SQL = f"""
WITH docs AS (
  SELECT doc_id AS doc, {_STAGE_TOKS_B} AS arr FROM documents
), toks AS (
  SELECT doc, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM docs
), bg AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
  FROM toks a JOIN toks b ON a.doc = b.doc AND b.pos = a.pos + 1
  GROUP BY 1, 2
), l AS (
  SELECT tok_a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bg GROUP BY 1
), r AS (
  SELECT tok_b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM bg GROUP BY 1
), t AS (
  SELECT CAST(sum(n_ab) AS BIGINT) AS nn FROM bg
)
SELECT tok_a, tok_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       n_a, n_b,
       CAST((CAST(n_ab AS BIGINT) * nn * 1000000) // (n_a * n_b)
            AS BIGINT) AS lift_ppm
FROM bg JOIN l USING (tok_a) JOIN r USING (tok_b), t
WHERE n_ab >= {_Q176_MIN_COUNT}
"""

_Q177_BIN_S = 3600


def q177_interval_overlap(spark, sf):
    """Interval x interval overlap join (operators/overlapjoin.py):
    per-(user, day) activity spans joined to per-(event_type, hour)
    activity windows, each overlapping pair once with its exact
    int64-us overlap.  The discriminating term is the overlap
    PREDICATE itself — a pair joins only where the user's span covers
    part of that hour window, so the output is a small fraction of
    the span x window cross product at every sf (pinned in
    tests/test_overlapjoin.py).  The engine side is the bin-decomposed
    equi-join; the oracle is the naive non-equi join (DuckDB plans it
    as its native IEJoin)."""
    from ..operators.overlapjoin import interval_overlap_binned

    ev = load_table(spark, sf, "events")
    spans = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    spans = spans.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "lo",
        "hi",
    )
    windows = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "lo",
            "hi",
        )
    )
    return interval_overlap_binned(
        spans,
        windows,
        left_keys=("user_id", "day"),
        right_keys=("event_type", "hour"),
        bin_seconds=_Q177_BIN_S,
    )


Q177_SQL = """
WITH spans AS (
  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1, 2
), wins AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1, date_trunc('hour', ts)
)
SELECT s.user_id AS l_user_id, s.day AS l_day,
       w.event_type AS r_event_type, w.hour AS r_hour,
       CAST(epoch_us(least(s.hi, w.hi)) - epoch_us(greatest(s.lo, w.lo))
            AS BIGINT) AS overlap_us
FROM spans s JOIN wins w
  ON s.lo <= w.hi AND w.lo <= s.hi
"""

def q178_skew_report(spark, sf):
    """Join-key skew diagnostics (operators/skew.py skew_report) over
    three join keys of different shape: events by user_id (many keys,
    near-uniform), events by event_type (5 keys, near-uniform),
    lineitem by l_orderkey (1-7-row buckets).  Every output an exact
    int64 (counts, rank-selected p99, integer-ppm share, ceil-div
    skew factor) — the q161/q152 integer-selection conventions
    applied to the operational question that sizes salted_join."""
    from ..operators.skew import skew_report

    ev = load_table(spark, sf, "events")
    li = load_table(spark, sf, "lineitem")
    return (
        skew_report(ev, "user_id")
        .unionByName(skew_report(ev, "event_type"))
        .unionByName(skew_report(li, "l_orderkey"))
    )


def _q178_one(table: str, key: str) -> str:
    return f"""
SELECT '{key}' AS keyset,
       a.n_rows, a.n_keys, a.max_bucket, p.p99_bucket,
       CAST(a.max_bucket * 1000000 // a.n_rows AS BIGINT)
         AS top1_share_ppm,
       CAST((a.max_bucket * a.n_keys + a.n_rows - 1) // a.n_rows
            AS BIGINT) AS skew_factor
FROM (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_bucket
  FROM (SELECT {key}, count(*) AS n FROM {table} GROUP BY 1)
) a, (
  SELECT CAST(min(n) AS BIGINT) AS p99_bucket
  FROM (
    SELECT n, sum(k) OVER (ORDER BY n) AS cum, sum(k) OVER () AS nk
    FROM (SELECT n, count(*) AS k
          FROM (SELECT {key}, count(*) AS n FROM {table} GROUP BY 1)
          GROUP BY 1)
  ) WHERE cum >= (99 * nk + 99) // 100
) p
"""


Q178_SQL = (
    _q178_one("events", "user_id")
    + " UNION ALL "
    + _q178_one("events", "event_type")
    + " UNION ALL "
    + _q178_one("lineitem", "l_orderkey")
)


# --------------------------------------------------------------------------
# q179 grouped-agg pandas UDF, q180 rank-spaced quantile rollup, q181
# weighted ticket-race sample, q182 NEAR/k proximity retrieval.  s19
# (the streaming quantile twin, sblock.py) imports ``_q180_sql`` from
# here — the splice coupling.
# --------------------------------------------------------------------------

_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def q179_grouped_agg_pandas(spark, sf):
    """Grouped-agg pandas UDF surface proof (functions/pandasudfs.py
    lower_median_cents): per-user exact lower median of event value
    cents via a Series->scalar UDF in groupBy().agg().  Hash-gateable
    because numpy's int64 sort + index (n-1)//2 is the same exact
    rank selection as the oracle's window arithmetic (the q82 pattern
    at the grouped-AGG cell).  The q82 parallelism lesson applies
    verbatim: AQE sizes the exchange by shuffle BYTES and would
    coalesce this small frame onto one Python worker, so the grouped
    exchange is repartitioned at cluster width explicitly."""
    from ..functions.pandasudfs import lower_median_cents

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    width = spark.sparkContext.defaultParallelism
    return (
        ev.select("user_id", F.expr(_CENTS).alias("cents"))
        .repartition(width, "user_id")
        .groupBy("user_id")
        .agg(lower_median_cents("cents").alias("med_cents"))
    )


Q179_SQL = f"""
WITH c AS (
  SELECT user_id, {_CENTS} AS cents
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT user_id, cents,
         row_number() OVER (PARTITION BY user_id ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM c
)
SELECT user_id, cents AS med_cents FROM r WHERE rn = (n + 1) // 2
"""


_Q180_K = 4
_Q180_QS = {"p50": (1, 2), "p90": (9, 10)}


def q180_quantile_rollup(spark, sf):
    """Mergeable rank-spaced quantile summary rollup
    (operators/quantsketch.py): per-(event_type x day) summaries of
    value cents at k=4 (the knob chosen so the compaction BINDS at
    the smallest fixture — day buckets hold ~7 rows at sf0.001, so
    n_summary < n_rows and err_bound > 0 at EVERY sf; deployment ks
    are 64-512, the gate proves the arithmetic not the accuracy
    ceiling), merged across days, read at p50/p90 and
    audited against the exact ranks — est/exact/err all exact int64,
    err <= the closed-form merge bound SUM_b(ceil(n_b/k) - 1) (the
    audit booleans are theorems, not tolerances).  Deterministic
    compaction = full hash gate; see the module docstring for why
    KLL/GK never can."""
    from ..operators.quantsketch import (
        quantile_report,
        spaced_summary,
        value_histogram,
    )

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        .alias("day"),
        F.expr(_CENTS).alias("cents"),
    )
    # hist is re-derived by three consumers (per-bucket sizes, the
    # exact-rank frame, and the summary); it is domain-bounded
    # (groups x buckets x cents values), so one eager lineage cut
    # trades a ~ms materialization for two corpus re-aggregations
    # (r16: 2.5 s -> 1.8 s measured; the s15/s19 lineage-cut pattern).
    hist = value_histogram(base, ["event_type"], "day", "cents").localCheckpoint(
        eager=True
    )
    summ = spaced_summary(hist, ["event_type"], "day", "cents", _Q180_K)
    return quantile_report(
        hist, summ, ["event_type"], "day", "cents", _Q180_K, _Q180_QS
    )


def _q180_sql(where_extra: str = "") -> str:
    k = _Q180_K
    parts = [f"""
WITH c AS (
  SELECT event_type AS g,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS b,
         {_CENTS} AS v
  FROM events WHERE value IS NOT NULL{where_extra}
), hist AS (
  SELECT g, b, v, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2, 3
), hb AS (
  SELECT g, b, v, n,
         CAST(sum(n) OVER (PARTITION BY g, b ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY g, b) AS BIGINT) AS nb
  FROM hist
), sw AS (
  SELECT g, v,
         ((i2 * nb + {k} - 1) // {k})
           - ((i1 * nb + {k} - 1) // {k}) AS w
  FROM (
    SELECT g, v, nb,
           (cum * {k}) // nb AS i2,
           ((cum - n) * {k}) // nb AS i1
    FROM hb
  ) WHERE i2 > i1
), nsum AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_summary FROM sw GROUP BY 1
), pb AS (
  SELECT g, b, CAST(sum(n) AS BIGINT) AS nb FROM hist GROUP BY 1, 2
), tot AS (
  SELECT g, CAST(sum(nb) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum((nb + {k} - 1) // {k} - 1) AS BIGINT) AS err_bound
  FROM pb GROUP BY 1
), mc AS (
  SELECT g, v, CAST(sum(mw) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
  FROM (SELECT g, v, sum(w) AS mw FROM sw GROUP BY 1, 2)
), fc AS (
  SELECT g, v, CAST(fcn AS BIGINT) AS fcn,
         CAST(sum(fcn) OVER (PARTITION BY g ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM (SELECT g, v, sum(n) AS fcn FROM hist GROUP BY 1, 2)
)"""]
    sel = ["tot.g AS event_type", "n_rows", "n_buckets", "n_summary",
           "err_bound"]
    joins = ["tot JOIN nsum USING (g)"]
    for name, (num, den) in _Q180_QS.items():
        parts.append(f""", t_{name} AS (
  SELECT g, CAST(({num} * n_rows + {den} - 1) // {den} AS BIGINT) AS t
  FROM tot
), est_{name} AS (
  SELECT mc.g, min(v) AS est FROM mc JOIN t_{name} USING (g)
  WHERE cw >= t GROUP BY 1
), ex_{name} AS (
  SELECT fc.g, min(v) AS exact FROM fc JOIN t_{name} USING (g)
  WHERE cum >= t GROUP BY 1
), er_{name} AS (
  SELECT fc.g,
         CAST(greatest(0, (cum - fcn + 1) - tq.t, tq.t - cum) AS BIGINT) AS err
  FROM fc JOIN est_{name} e ON fc.g = e.g AND fc.v = e.est
  JOIN t_{name} tq ON fc.g = tq.g
)""")
        sel += [f"est_{name}.est AS est_{name}",
                f"ex_{name}.exact AS exact_{name}",
                f"er_{name}.err AS err_{name}",
                f"er_{name}.err <= err_bound AS {name}_ok"]
        joins.append(
            f"JOIN est_{name} ON tot.g = est_{name}.g "
            f"JOIN ex_{name} ON tot.g = ex_{name}.g "
            f"JOIN er_{name} ON tot.g = er_{name}.g"
        )
    return (
        "".join(parts)
        + "\nSELECT " + ",\n       ".join(sel)
        + "\nFROM " + " ".join(joins)
    )


Q180_SQL = _q180_sql()


_Q181_N = 10


def q181_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py weighted_sample_race): 10 documents per
    language, inclusion following the A-ES u^(1/w) law with weight =
    512-char chunk count — realized as the exact-integer ticket race
    (min-of-w md5 keys), so the oracle recomputes the identical
    sample and the gate is a full hash pass (no RNG, no
    transcendental floats — the q147 reproducibility contract
    extended from systematic PPS to the reservoir law)."""
    from ..operators.sampling import weighted_sample_race

    docs = (
        load_table(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars")
        .where(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
    )
    wdf = docs.select(
        "doc_id", "lang", F.expr("(n_chars + 511) div 512").alias("w")
    )
    out = weighted_sample_race(wdf, ["lang"], "w", _Q181_N, "doc_id")
    return out.select(
        "lang", "doc_id", "weight", F.col("rank").alias("sample_rank")
    )


Q181_SQL = f"""
WITH b AS (
  SELECT doc_id, lang, CAST((n_chars + 511) // 512 AS BIGINT) AS weight
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), t AS (
  SELECT doc_id, lang, weight,
         unnest(generate_series(1, CAST(weight AS INT))) AS tick
  FROM b
), k AS (
  SELECT doc_id, lang, weight,
         min(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(tick AS VARCHAR)))
           AS mk
  FROM t GROUP BY 1, 2, 3
), r AS (
  SELECT lang, doc_id, weight,
         row_number() OVER (PARTITION BY lang ORDER BY mk, doc_id) AS rn
  FROM k
)
SELECT lang, doc_id, weight, CAST(rn AS BIGINT) AS sample_rank
FROM r WHERE rn <= {_Q181_N}
"""


_Q182_K = 5


def q182_proximity_search(spark, sf):
    """Proximity retrieval (operators/index.py proximity_search):
    docs with 'part' within 5 token positions of 'filter' — counted
    occurrence pairs + closest distance, the NEAR/k class between
    exact phrases (q148) and whole-document booleans (q173).
    Hash-exact: the shared q94-q96 tokenizer, 1-based positions
    (generate_subscripts parity), every output an integer.  The k=5
    gate BINDS at every sf: 188/186/1691 qualifying docs out of
    322/321/3098 containing both terms."""
    from ..operators.index import positional_index, proximity_search

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return proximity_search(
        positional_index(docs), "part", "filter", _Q182_K
    )


_Q182_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')"
)

Q182_SQL = f"""
WITH docs AS (
  SELECT doc_id, {_Q182_TOKS} AS arr FROM documents
), toks AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM docs
), a AS (SELECT doc_id, pos FROM toks WHERE tok = 'part'),
b AS (SELECT doc_id, pos FROM toks WHERE tok = 'filter'),
pairs AS (
  SELECT a.doc_id, abs(a.pos - b.pos) AS d
  FROM a JOIN b USING (doc_id)
  WHERE abs(a.pos - b.pos) <= {_Q182_K}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(d) AS BIGINT) AS min_dist
FROM pairs GROUP BY 1
"""


# --------------------------------------------------------------------------
# q183 integer-quantized k-means, q184 multi-touch conversion
# attribution, q185 interpolated-bigram LM fluency, q186 grouped OLS
# trend.  s20 (the streaming PSI monitor) lives in sblock.py; q190's
# oracle imports ``_Q185_TOKS`` from here — the shared-tokenizer
# coupling.
# --------------------------------------------------------------------------

_Q183_K = 4
_Q183_ITERS = 3


def q183_kmeans(spark, sf):
    """Integer-quantized k-means over the embeddings table
    (operators/cluster.py kmeans_quantized): k=4 clusters, 3 Lloyd
    iterations, deterministic md5(vec_id) seeding — final assignment
    (vec_id, cluster, d2) hash-gated against the oracle's unrolled
    MATERIALIZED-CTE iterations (the q175 pattern).  Exactness: floor
    quantization to a shifted non-negative grid (no round-half or
    floor-vs-truncate ambiguity anywhere), argmin with cluster-id
    tie-break, centroid floor-means of non-negative ints."""
    from ..operators.cluster import kmeans_quantized

    emb = load_table(spark, sf, "embeddings")
    return kmeans_quantized(
        emb, "vec_id", "embedding", _Q183_K, _Q183_ITERS
    )


def _q183_sql(k: int = _Q183_K, iters: int = _Q183_ITERS) -> str:
    parts = [f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, dim,
         CAST(floor(CAST(val AS DOUBLE) * 10000) AS BIGINT) + 10000 AS v
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings WHERE embedding IS NOT NULL)
), seeds AS MATERIALIZED (
  SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cluster
  FROM (SELECT vec_id,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM (SELECT DISTINCT vec_id FROM q))
  WHERE rn <= {k}
), c0 AS MATERIALIZED (
  SELECT s.cluster, q.dim, q.v FROM seeds s JOIN q USING (vec_id)
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", d{i} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q JOIN c{i - 1} c ON q.dim = c.dim GROUP BY 1, 2
), a{i} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM d{i}
  ) WHERE rk = 1
), u{i} AS MATERIALIZED (
  SELECT a.cluster, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
  FROM a{i} a JOIN q USING (vec_id) GROUP BY 1, 2
), c{i} AS MATERIALIZED (
  SELECT c.cluster, c.dim, COALESCE(u.v, c.v) AS v
  FROM c{i - 1} c
  LEFT JOIN u{i} u ON c.cluster = u.cluster AND c.dim = u.dim
)""")
    parts.append(f""", df AS (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q JOIN c{iters} c ON q.dim = c.dim GROUP BY 1, 2
)
SELECT vec_id, cluster, d2 FROM (
  SELECT vec_id, cluster, d2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cluster) AS rk
  FROM df
) WHERE rk = 1""")
    return "".join(parts)


Q183_SQL = _q183_sql()


_Q184_LOOKBACK_S = 72 * 3600
_Q184_TOUCHES = ("view", "click")
_Q184_CONV = "purchase"


def q184_attribution(spark, sf):
    """Last-touch + first-touch conversion attribution
    (operators/attribution.py touch_attribution): each purchase is
    credited to the latest and earliest view/click of the same user
    within 72 h (strictly before, integer-microsecond order, event_id
    tie-break), rolled up per (conversion day × last × first channel)
    with the summed last-touch gap.  The lookback BINDS at every
    fixture sf (attributed AND unattributed conversions both present
    — pinned by test).  Oracle IS the naive conversions × touches
    inequality join — proving the window rewrite exact."""
    from ..operators.attribution import touch_attribution

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    conv = touch_attribution(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        _Q184_TOUCHES,
        _Q184_CONV,
        _Q184_LOOKBACK_S,
    )
    return conv.groupBy(
        F.date_format(F.date_trunc("day", F.col("conv_ts")), "yyyy-MM-dd")
        .alias("day"),
        F.coalesce("last_channel", F.lit("none")).alias("last_channel"),
        F.coalesce("first_channel", F.lit("none")).alias("first_channel"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.coalesce(F.sum("last_gap_s"), F.lit(0))
        .cast("long")
        .alias("sum_last_gap_s"),
    )


Q184_SQL = f"""
WITH conv AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us
  FROM events WHERE event_type = '{_Q184_CONV}'
), tch AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('view', 'click')
), cand AS (
  SELECT c.event_id AS cid, t.us AS tus, t.event_id AS tid,
         t.event_type AS ch
  FROM conv c JOIN tch t ON c.user_id = t.user_id
   AND t.us <= c.us - 1
   AND t.us >= c.us - {_Q184_LOOKBACK_S * 1_000_000}
), lastt AS (
  SELECT cid, ch, tus FROM (
    SELECT cid, ch, tus, row_number() OVER (
      PARTITION BY cid ORDER BY tus DESC, tid DESC) AS rk FROM cand
  ) WHERE rk = 1
), firstt AS (
  SELECT cid, ch FROM (
    SELECT cid, ch, row_number() OVER (
      PARTITION BY cid ORDER BY tus ASC, tid ASC) AS rk FROM cand
  ) WHERE rk = 1
)
SELECT strftime(date_trunc('day', c.ts), '%Y-%m-%d') AS day,
       COALESCE(l.ch, 'none') AS last_channel,
       COALESCE(f.ch, 'none') AS first_channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(COALESCE(sum((c.us - l.tus) // 1000000), 0) AS BIGINT)
         AS sum_last_gap_s
FROM conv c
LEFT JOIN lastt l ON c.event_id = l.cid
LEFT JOIN firstt f ON c.event_id = f.cid
GROUP BY 1, 2, 3
"""


_Q185_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')"
)


def q185_bigram_nll(spark, sf):
    """Interpolated-bigram LM fluency score
    (operators/pipeline.py bigram_nll_score): per-doc avg NLL under
    p(w2|w1) = 3/4·c12/c1 + 1/4·c2/N — the KenLM perplexity-filter
    shape one rung above q118's unigram (word-salad that fools a
    unigram model scores high here).  Fixed exact-integer
    parenthesization (3·c12)/(4·c1) + c2/(4·N); ln + avg absorbed by
    ROUND 4 (the q118 rule, sweep-covered)."""
    from ..operators.pipeline import bigram_nll_score

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return bigram_nll_score(docs)


Q185_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, {_Q185_TOKS} AS arr FROM documents
), tk AS MATERIALIZED (
  SELECT doc_id, unnest(arr) AS tok,
         generate_subscripts(arr, 1) AS pos
  FROM t
), bg AS MATERIALIZED (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
), uni AS (
  SELECT tok AS w2, CAST(count(*) AS BIGINT) AS c2 FROM tk GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tot FROM tk
), lm AS (
  SELECT w1, w2,
         ln(CAST(3 * c12 AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
            + CAST(c2 AS DOUBLE) / CAST(4 * n_tot AS DOUBLE)) AS logp
  FROM c12 JOIN c1 USING (w1) JOIN uni USING (w2), tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(-AVG(logp), 4) AS avg_nll
FROM bg JOIN lm USING (w1, w2)
GROUP BY doc_id
"""


_Q186_EPOCH = "2024-01-01"


def q186_group_trend(spark, sf):
    """Grouped OLS trend (operators/stats.py group_trend): per-type
    least-squares line of daily cents totals on the day index (days
    since {epoch}) — slope = drift per day, intercept = fitted day-0
    level.  Exact int64 moments, closed-form integer numerators /
    denominator, one IEEE division each (the pairwise_corr
    discipline): slope/intercept hash with NO ROUND."""
    from ..operators.stats import group_trend

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    daily = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("_day"),
        )
        .agg(F.sum(F.expr(_CENTS)).alias("y"))
        .select(
            "event_type",
            F.datediff(F.col("_day"), F.lit(_Q186_EPOCH))
            .cast("long")
            .alias("x"),
            F.col("y").cast("long").alias("y"),
        )
    )
    return group_trend(daily, "event_type", "x", "y")


Q186_SQL = f"""
WITH d AS (
  SELECT event_type,
         CAST(datediff('day', DATE '{_Q186_EPOCH}',
                       date_trunc('day', ts)) AS BIGINT) AS x,
         CAST(sum({_CENTS}) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_trunc('day', ts)
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sum_x,
         CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM d GROUP BY 1
)
SELECT event_type, n, sum_x, sum_y,
       CASE WHEN n * sxx - sum_x * sum_x <> 0
            THEN CAST(n * sxy - sum_x * sum_y AS DOUBLE)
                 / CAST(n * sxx - sum_x * sum_x AS DOUBLE) END AS slope,
       CASE WHEN n * sxx - sum_x * sum_x <> 0
            THEN CAST(sum_y * sxx - sum_x * sxy AS DOUBLE)
                 / CAST(n * sxx - sum_x * sum_x AS DOUBLE) END
         AS intercept
FROM m
"""


# --------------------------------------------------------------------------
# q187 lag-k autocorrelation, q188 cluster-safe train/val/test split,
# q189 daily VWAP + realized volatility, q190 BPE tokenizer training,
# q191 product-quantization ADC top-k, q192 seasonal day-of-week
# outlier screen (16x scale probe: SCALING.md finding 17).  s21
# (streaming PIT enrichment) lives in sblock.py.
# --------------------------------------------------------------------------

_Q187_LAGS = (1, 2, 3)


def q187_autocorr(spark, sf):
    """Per-type autocorrelation of the daily cents series at lags
    1/2/3 (operators/stats.py autocorr_lags): is today's flow
    predicted by yesterday's?  The series is densified first — a
    type × full-day-span grid 0-fills silent days (a gap is a real
    zero in a flow series, not a missing observation), so lag-k pairs
    every day against the day truly k back.  Exact int64 moments +
    the pairwise_corr fixed IEEE parenthesization: corr hashes with
    NO ROUND.  The grid crossJoin is a 1-row broadcast bounds frame
    (the gapfill idiom, PLAN_AUDIT-whitelisted)."""
    from ..operators.stats import autocorr_lags

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("_d")
    ).agg(F.sum(F.expr(_CENTS)).alias("x"))
    bounds = daily.agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1"))
    # both crossJoins broadcast the SAME 1-row bounds frame (the
    # gapfill idiom); everything downstream equi-joins on (type, idx)
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.datediff(F.col("_d1"), F.col("_d0")).cast("long"),
                )
            ).alias("idx"),
        )
    )
    daily_idx = daily.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.datediff(F.col("_d"), F.col("_d0")).cast("long").alias("idx"),
        "x",
    )
    dense = grid.join(daily_idx, ["event_type", "idx"], "left").select(
        "event_type",
        "idx",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    return autocorr_lags(dense, "event_type", "idx", "x", _Q187_LAGS)


Q187_SQL = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(sum({_CENTS}) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), b AS (
  SELECT min(d) AS d0, max(d) AS d1 FROM daily
), grid AS (
  SELECT t.event_type, CAST(g AS BIGINT) AS idx
  FROM (SELECT DISTINCT event_type FROM daily) t, b,
       unnest(range(0, datediff('day', b.d0, b.d1) + 1)) AS s(g)
), dense AS MATERIALIZED (
  SELECT g.event_type, g.idx,
         CAST(COALESCE(daily.x, 0) AS BIGINT) AS x
  FROM grid g
  LEFT JOIN b ON true
  LEFT JOIN daily ON daily.event_type = g.event_type
                 AND daily.d = b.d0 + g.idx * INTERVAL 1 DAY
), lags AS (
  SELECT CAST(l AS BIGINT) AS lag
  FROM (VALUES ({_Q187_LAGS[0]}), ({_Q187_LAGS[1]}),
               ({_Q187_LAGS[2]})) v(l)
), pairs AS (
  SELECT a.event_type, l.lag, a.x AS xa, c.x AS xb
  FROM dense a
  CROSS JOIN lags l
  JOIN dense c ON c.event_type = a.event_type
              AND c.idx = a.idx + l.lag
), m AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(xa) AS BIGINT) AS sum_x,
         CAST(sum(xb) AS BIGINT) AS sum_y,
         CAST(sum(xa * xb) AS BIGINT) AS sxy,
         CAST(sum(xa * xa) AS BIGINT) AS sxx,
         CAST(sum(xb * xb) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs, sum_x, sum_y,
       CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) > 0
             AND (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)) > 0
            THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
                 / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sum_y AS DOUBLE)
                             * CAST(sum_y AS DOUBLE)))
       END AS corr
FROM m
"""


def q188_cluster_split(spark, sf):
    """Leakage-free train/val/test split (operators/pipeline.py
    cluster_safe_split): q114's content-hash split assigns each doc
    independently, so a near-dup pair can straddle train and val and
    the eval measures memorization.  Here q111's dedup clusters
    (exact-dup star edges + verified Jaccard near-dup pairs,
    min-label components) are assigned ATOMICALLY: the split key is
    the md5 of the cluster representative's text, members inherit it,
    singletons degrade to exact q114 semantics.  Fully hash-gated —
    the oracle recomputes components with Q111's recursive CTE and
    re-derives the same rep-hash CASE."""
    from ..operators.pipeline import cluster_safe_split
    from .pblock import q111_dedup_clusters

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    clusters = q111_dedup_clusters(spark, sf)
    return cluster_safe_split(d, clusters)


def _q188_sql() -> str:
    from .pblock import Q111_SQL

    return f"""
WITH comp AS MATERIALIZED ({Q111_SQL}),
full_docs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT f.doc_id, f.cluster_id,
       substring(md5(r.text), 1, 2) AS split_key,
       CASE WHEN substring(md5(r.text), 1, 2) < '0a' THEN 'val'
            WHEN substring(md5(r.text), 1, 2) < '14' THEN 'test'
            ELSE 'train' END AS split
FROM full_docs f JOIN documents r ON r.doc_id = f.cluster_id
"""


Q188_SQL = _q188_sql()


_Q189_QTY = "(event_id % 7) + 1"


def q189_vwap_vol(spark, sf):
    """Daily per-type VWAP + realized volatility
    (operators/twap.py vwap_realized_vol) — the execution-benchmark
    pair next to q156's TWAP: Σ(cents·qty)/Σqty exact-anchored with
    one IEEE division (NO ROUND), and the standard high-frequency RV
    estimator sqrt(Σ ln(p_t/p_{t-1})²) over the (ts, event_id)-
    total-ordered tick sequence, ROUND-4 on both sides (the q118/q185
    ln rule, sweep-covered).  Lot sizes are the deterministic fixture
    synth (event_id % 7) + 1 — the q110 contact_text pattern: the
    events table has no qty column, so one is derived identically on
    both sides.  Ticks with non-positive value are dropped as invalid
    (a zero price is indicative, not tradable — the operator's ln
    domain guard rightly raises on it; sf0.1 carries 6 such rows)."""
    from ..operators.robust import cents
    from ..operators.twap import vwap_realized_vol

    ev = load_table(spark, sf, "events").where(F.col("value") > 0)
    return vwap_realized_vol(
        ev,
        ["event_type"],
        "ts",
        cents("value"),
        F.expr(_Q189_QTY).cast("long"),
        "event_id",
    )


Q189_SQL = f"""
WITH t AS (
  SELECT event_type, date_trunc('day', ts) AS d, ts, event_id,
         {_CENTS} AS c, CAST({_Q189_QTY} AS BIGINT) AS q
  FROM events WHERE value > 0
), r AS (
  SELECT event_type, d, c, q,
         lag(c) OVER (PARTITION BY event_type, d
                      ORDER BY ts, event_id) AS pc
  FROM t
), rr AS (
  SELECT event_type, d, c, q,
         CASE WHEN pc IS NOT NULL
              THEN ln(CAST(c AS DOUBLE) / CAST(pc AS DOUBLE)) END AS lr
  FROM r
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(sum(q) AS BIGINT) AS sum_qty,
       CAST(sum(c * q) AS BIGINT) AS sum_qty_cents,
       CAST(sum(c * q) AS DOUBLE) / CAST(sum(q) AS DOUBLE) AS vwap_cents,
       CAST(count(lr) AS BIGINT) AS n_returns,
       CASE WHEN count(lr) > 0
            THEN ROUND(sqrt(sum(lr * lr)), 4) END AS rv4
FROM rr GROUP BY 1, 2
"""


_Q190_MERGES = 3
_Q190_TOP = 20


def q190_bpe_merges(spark, sf):
    """BPE tokenizer training (operators/bpe.py bpe_merges): learn 3
    byte-pair merge rules over the documents corpus and report them
    plus the top-20 final vocabulary symbols — the subword-vocab step
    of every LLM pipeline, distributed via the standard word-
    frequency factorization (corpus-sized work = ONE token count; the
    merge loop runs on the vocab frame).  The q111/q171/q183 bounded
    driver-loop class: k=3 iterations, 1-row argmax collect each,
    lineage cuts per round.  Merge semantics are the engine-native
    single-pass replace (pinned identical Spark vs DuckDB, run-
    overlap corner included); all counts exact int64 — hash-gated
    against the oracle's unrolled per-iteration CTEs."""
    from ..operators.bpe import bpe_merges

    docs = load_table(spark, sf, "documents").select("text")
    return bpe_merges(docs, _Q190_MERGES, _Q190_TOP)


def _q190_sql(k: int = _Q190_MERGES, top: int = _Q190_TOP) -> str:
    duck_syms = "list_filter(string_split(sym, '|'), x -> x <> '')"
    parts = [f"""
WITH w0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         '|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'
           AS sym
  FROM (SELECT unnest({_Q185_TOKS}) AS w FROM documents)
  GROUP BY w
)"""]
    for i in range(1, k + 1):
        parts.append(f""", t{i} AS MATERIALIZED (
  SELECT sym, cnt, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM (SELECT sym, cnt, {duck_syms} AS arr FROM w{i - 1})
), p{i} AS (
  SELECT x.tok AS l, y.tok AS r, CAST(sum(x.cnt) AS BIGINT) AS freq
  FROM t{i} x JOIN t{i} y ON x.sym = y.sym AND y.pos = x.pos + 1
  GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT p.cnt,
         replace(p.sym, '|' || b.l || '|' || b.r || '|',
                 '|' || b.l || b.r || '|') AS sym
  FROM w{i - 1} p, b{i} b
)""")
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS kind, CAST({i} AS BIGINT) AS rank, "
        f"l || ' ' || r AS token, freq FROM b{i}"
        for i in range(1, k + 1)
    )
    parts.append(f""", fin AS MATERIALIZED (
  SELECT cnt, unnest({duck_syms}) AS token FROM w{k}
), vocab AS (
  SELECT token, CAST(sum(cnt) AS BIGINT) AS freq FROM fin GROUP BY 1
), topv AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rk
  FROM vocab
)
{merge_rows}
UNION ALL
SELECT 'symbol' AS kind, CAST(rk AS BIGINT) AS rank, token, freq
FROM topv WHERE rk <= {top}""")
    return "".join(parts)


Q190_SQL = _q190_sql()


_Q191_DIM = 64
_Q191_M = 4
_Q191_K = 4
_Q191_ITERS = 2
_Q191_NQ = 3
_Q191_TOPK = 10


def q191_pq_topk(spark, sf):
    """Product-quantization ADC top-k (operators/cluster.py
    pq_adc_topk): each embedding compressed to m=4 subspace codes via
    per-subspace integer k-means (k=4, 2 Lloyd iterations), queries =
    the 3 smallest-md5(vec_id) vectors, distances answered by exact
    int64 Asymmetric Distance Computation over the m-lookup code
    frame — the classic memory-bound ANN rung (Jégou et al. 2011)
    between q116's int8 scalar quantization and the q92b/q93b
    bucketing paths, and unlike those it is FULLY hash-gated: the
    oracle unrolls all four per-subspace Lloyd chains as MATERIALIZED
    CTEs (the q183 pattern × m) and replays the ADC join."""
    from ..operators.cluster import pq_adc_topk

    emb = load_table(spark, sf, "embeddings")
    return pq_adc_topk(
        emb,
        "vec_id",
        "embedding",
        _Q191_DIM,
        _Q191_M,
        _Q191_K,
        _Q191_ITERS,
        _Q191_NQ,
        _Q191_TOPK,
    )


def _q191_sql() -> str:
    k, iters, m = _Q191_K, _Q191_ITERS, _Q191_M
    sub_d = _Q191_DIM // m
    parts = [f"""
WITH qfull AS MATERIALIZED (
  SELECT vec_id, dim,
         CAST(floor(CAST(val AS DOUBLE) * 10000) AS BIGINT) + 10000 AS v
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings WHERE embedding IS NOT NULL)
), ordv AS MATERIALIZED (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM (SELECT DISTINCT vec_id FROM qfull)
), seeds AS MATERIALIZED (
  SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cluster FROM ordv
  WHERE rn <= {k}
), qrs AS MATERIALIZED (
  SELECT vec_id AS query_id FROM ordv WHERE rn <= {_Q191_NQ}
)"""]
    for s in range(m):
        lo, hi = s * sub_d, (s + 1) * sub_d
        parts.append(f""", q_s{s} AS MATERIALIZED (
  SELECT vec_id, dim - {lo} AS dim, v FROM qfull
  WHERE dim >= {lo} AND dim < {hi}
), c0_s{s} AS MATERIALIZED (
  SELECT s.cluster, q.dim, q.v FROM seeds s JOIN q_s{s} q USING (vec_id)
)""")
        for i in range(1, iters + 1):
            parts.append(f""", d{i}_s{s} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q_s{s} q JOIN c{i - 1}_s{s} c ON q.dim = c.dim GROUP BY 1, 2
), a{i}_s{s} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM d{i}_s{s}
  ) WHERE rk = 1
), u{i}_s{s} AS MATERIALIZED (
  SELECT a.cluster, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
  FROM a{i}_s{s} a JOIN q_s{s} q USING (vec_id) GROUP BY 1, 2
), c{i}_s{s} AS MATERIALIZED (
  SELECT c.cluster, c.dim, COALESCE(u.v, c.v) AS v
  FROM c{i - 1}_s{s} c
  LEFT JOIN u{i}_s{s} u ON c.cluster = u.cluster AND c.dim = u.dim
)""")
        parts.append(f""", fd_s{s} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q_s{s} q JOIN c{iters}_s{s} c ON q.dim = c.dim GROUP BY 1, 2
), code_s{s} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM fd_s{s}
  ) WHERE rk = 1
), tab_s{s} AS MATERIALIZED (
  SELECT r.query_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM qrs r
  JOIN q_s{s} q ON q.vec_id = r.query_id
  JOIN c{iters}_s{s} c ON q.dim = c.dim
  GROUP BY 1, 2
)""")
    codes_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, CAST({s} AS BIGINT) AS sub, cluster"
        f" FROM code_s{s}"
        for s in range(m)
    )
    tab_union = "\n  UNION ALL\n".join(
        f"  SELECT query_id, CAST({s} AS BIGINT) AS sub, cluster, d2"
        f" FROM tab_s{s}"
        for s in range(m)
    )
    parts.append(f""", codes AS (
{codes_union}
), tab AS (
{tab_union}
), scores AS (
  SELECT t.query_id, c.vec_id, CAST(SUM(t.d2) AS BIGINT) AS adc_d2
  FROM codes c JOIN tab t ON t.sub = c.sub AND t.cluster = c.cluster
  GROUP BY 1, 2
)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id, adc_d2 FROM (
  SELECT query_id, vec_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, vec_id) AS rk
  FROM scores
) WHERE rk <= {_Q191_TOPK}""")
    return "".join(parts)


Q191_SQL = _q191_sql()


_Q192_K = 3


def q192_seasonal_outliers(spark, sf):
    """Seasonal (day-of-week) robust outlier screen
    (operators/robust.py seasonal_outliers): each day's cents total
    is judged against the MEDIAN/MAD of ITS OWN WEEKDAY within its
    type — weekly rhythm stops masquerading as anomaly and a
    genuinely odd Monday stops hiding inside the all-days spread (the
    seasonal twin of q152's per-type screen).  Lower medians by
    explicit rank selection, |x−med| deviations, dev > 3·MAD flags —
    exact ints + a boolean, fully hash-gated.  Weekday convention:
    Spark dayofweek()−1 == DuckDB dayofweek() (0 = Sunday), pinned
    in the oracle.  The flag BINDS at every fixture sf (24-40 of 150
    day rows flagged)."""
    from ..operators.robust import seasonal_outliers

    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("_d")
    ).agg(F.sum(F.expr(_CENTS)).alias("x"))
    daily = daily.select(
        "event_type",
        (F.dayofweek(F.col("_d")) - 1).cast("long").alias("dow"),
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("x"),
    )
    out = seasonal_outliers(
        daily, ["event_type"], "dow", "x", "day", _Q192_K
    )
    return out.select(
        "event_type",
        "day",
        "dow",
        F.col("x").alias("x_cents"),
        F.col("med_x").alias("med_cents"),
        F.col("mad_x").alias("mad_cents"),
        F.col("dev_x").alias("dev_cents"),
        "is_outlier",
    )


Q192_SQL = f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS dday,
         CAST(sum({_CENTS}) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), dd AS (
  SELECT event_type,
         CAST(dayofweek(dday) AS BIGINT) AS dow,
         strftime(dday, '%Y-%m-%d') AS day, x
  FROM d
), med AS (
  SELECT event_type, dow, x AS med_x FROM (
    SELECT event_type, dow, x, day,
           row_number() OVER (PARTITION BY event_type, dow
                              ORDER BY x, day) AS rn,
           count(*) OVER (PARTITION BY event_type, dow) AS n
    FROM dd) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT dd.event_type, dd.day, dd.dow, dd.x, m.med_x,
         abs(dd.x - m.med_x) AS dv
  FROM dd JOIN med m USING (event_type, dow)
), mad AS (
  SELECT event_type, dow, dv AS mad_x FROM (
    SELECT event_type, dow, dv, day,
           row_number() OVER (PARTITION BY event_type, dow
                              ORDER BY dv, day) AS rn,
           count(*) OVER (PARTITION BY event_type, dow) AS n
    FROM dev) WHERE rn = (n + 1) // 2
)
SELECT v.event_type, v.day, v.dow, v.x AS x_cents,
       v.med_x AS med_cents, m.mad_x AS mad_cents,
       v.dv AS dev_cents,
       v.dv > {_Q192_K} * m.mad_x AS is_outlier
FROM dev v JOIN mad m USING (event_type, dow)
"""


# --------------------------------------------------------------------------
# q193 IVF-PQ top-k (coarse quantizer composed with PQ ADC — the
# production FAISS index shape), q194 batched BPE training
# (symbol-disjoint top-m merges per round), q195 hyperplane bit-LSH
# top-k (binary-signature ANN, fully hash-gated), q196 char-entropy
# quality screen.  s22/s23/s24/s25 (streaming as-of enrichment, top-k
# ranking drift, CUSUM drift, rolling distinct actives) live in
# sblock.py.
# --------------------------------------------------------------------------

# q195's oracle replays the SAME deterministic hyperplane matrix the
# operator embeds (md5-derived +-1 rows — one Python constant, both
# engines; the in-engine md5 derivation itself is pinned by test)
from ..operators.bitlsh import hyperplane_weights  # noqa: E402

_Q193_DIM = 64
_Q193_CK = 4       # coarse inverted lists
_Q193_CI = 2       # coarse Lloyd iterations
_Q193_M = 4        # PQ subspaces
_Q193_K = 4        # PQ codebook size per subspace
_Q193_ITERS = 2    # PQ Lloyd iterations
_Q193_NPROBE = 2
_Q193_NQ = 3
_Q193_TOPK = 10


def q193_ivfpq_topk(spark, sf):
    """IVF-PQ top-k (operators/cluster.py ivf_pq_topk): the
    composition of the engine's two exact ANN rungs into the
    production FAISS index shape — an integer-k-means coarse
    quantizer (4 inverted lists, 2 Lloyd iterations) restricts each
    query to its nprobe=2 nearest lists, and PQ ADC (m=4 subspace
    codebooks shared across lists) ranks the candidates inside them.
    Unlike q92b's float-KMeans IVF this is FULLY hash-gated: the
    oracle unrolls the coarse chain AND all four per-subspace Lloyd
    chains as MATERIALIZED CTEs (the q183/q191 pattern), replays the
    probe selection, and re-runs the list-restricted ADC join.  The
    restriction BINDS at every fixture sf (probed-list candidates <
    corpus — pinned by test)."""
    from ..operators.cluster import ivf_pq_topk

    emb = load_table(spark, sf, "embeddings")
    return ivf_pq_topk(
        emb,
        "vec_id",
        "embedding",
        _Q193_DIM,
        _Q193_CK,
        _Q193_CI,
        _Q193_M,
        _Q193_K,
        _Q193_ITERS,
        _Q193_NPROBE,
        _Q193_NQ,
        _Q193_TOPK,
    )


def _q193_sql() -> str:
    ck, ci = _Q193_CK, _Q193_CI
    k, iters, m = _Q193_K, _Q193_ITERS, _Q193_M
    sub_d = _Q193_DIM // m
    parts = [f"""
WITH qfull AS MATERIALIZED (
  SELECT vec_id, dim,
         CAST(floor(CAST(val AS DOUBLE) * 10000) AS BIGINT) + 10000 AS v
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings WHERE embedding IS NOT NULL)
), ordv AS MATERIALIZED (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM (SELECT DISTINCT vec_id FROM qfull)
), seeds_c AS MATERIALIZED (
  SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cluster FROM ordv
  WHERE rn <= {ck}
), seeds_p AS MATERIALIZED (
  SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cluster FROM ordv
  WHERE rn <= {k}
), qrs AS MATERIALIZED (
  SELECT vec_id AS query_id FROM ordv WHERE rn <= {_Q193_NQ}
), cc0 AS MATERIALIZED (
  SELECT s.cluster, q.dim, q.v FROM seeds_c s JOIN qfull q USING (vec_id)
)"""]
    # coarse Lloyd chain over the FULL vectors
    for i in range(1, ci + 1):
        parts.append(f""", cd{i} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM qfull q JOIN cc{i - 1} c ON q.dim = c.dim GROUP BY 1, 2
), ca{i} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM cd{i}
  ) WHERE rk = 1
), cu{i} AS MATERIALIZED (
  SELECT a.cluster, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
  FROM ca{i} a JOIN qfull q USING (vec_id) GROUP BY 1, 2
), cc{i} AS MATERIALIZED (
  SELECT c.cluster, c.dim, COALESCE(u.v, c.v) AS v
  FROM cc{i - 1} c
  LEFT JOIN cu{i} u ON c.cluster = u.cluster AND c.dim = u.dim
)""")
    parts.append(f""", bfd AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM qfull q JOIN cc{ci} c ON q.dim = c.dim GROUP BY 1, 2
), bkt AS MATERIALIZED (
  SELECT vec_id, cluster AS bucket FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM bfd
  ) WHERE rk = 1
), probed AS MATERIALIZED (
  SELECT query_id, cluster AS bucket FROM (
    SELECT r.query_id, c.cluster,
           row_number() OVER (
             PARTITION BY r.query_id
             ORDER BY SUM((q.v - c.v) * (q.v - c.v)), c.cluster) AS rk
    FROM qrs r
    JOIN qfull q ON q.vec_id = r.query_id
    JOIN cc{ci} c ON q.dim = c.dim
    GROUP BY r.query_id, c.cluster
  ) WHERE rk <= {_Q193_NPROBE}
)""")
    # PQ sub-chains (the q191 pattern, seeds_p)
    for s in range(m):
        lo, hi = s * sub_d, (s + 1) * sub_d
        parts.append(f""", q_s{s} AS MATERIALIZED (
  SELECT vec_id, dim - {lo} AS dim, v FROM qfull
  WHERE dim >= {lo} AND dim < {hi}
), c0_s{s} AS MATERIALIZED (
  SELECT s.cluster, q.dim, q.v
  FROM seeds_p s JOIN q_s{s} q USING (vec_id)
)""")
        for i in range(1, iters + 1):
            parts.append(f""", d{i}_s{s} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q_s{s} q JOIN c{i - 1}_s{s} c ON q.dim = c.dim GROUP BY 1, 2
), a{i}_s{s} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM d{i}_s{s}
  ) WHERE rk = 1
), u{i}_s{s} AS MATERIALIZED (
  SELECT a.cluster, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
  FROM a{i}_s{s} a JOIN q_s{s} q USING (vec_id) GROUP BY 1, 2
), c{i}_s{s} AS MATERIALIZED (
  SELECT c.cluster, c.dim, COALESCE(u.v, c.v) AS v
  FROM c{i - 1}_s{s} c
  LEFT JOIN u{i}_s{s} u ON c.cluster = u.cluster AND c.dim = u.dim
)""")
        parts.append(f""", fd_s{s} AS MATERIALIZED (
  SELECT q.vec_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM q_s{s} q JOIN c{iters}_s{s} c ON q.dim = c.dim GROUP BY 1, 2
), code_s{s} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM fd_s{s}
  ) WHERE rk = 1
), tab_s{s} AS MATERIALIZED (
  SELECT r.query_id, c.cluster,
         CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d2
  FROM qrs r
  JOIN q_s{s} q ON q.vec_id = r.query_id
  JOIN c{iters}_s{s} c ON q.dim = c.dim
  GROUP BY 1, 2
)""")
    codes_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, CAST({s} AS BIGINT) AS sub, cluster"
        f" FROM code_s{s}"
        for s in range(m)
    )
    tab_union = "\n  UNION ALL\n".join(
        f"  SELECT query_id, CAST({s} AS BIGINT) AS sub, cluster, d2"
        f" FROM tab_s{s}"
        for s in range(m)
    )
    parts.append(f""", codes AS (
{codes_union}
), tab AS (
{tab_union}
), scores AS (
  SELECT t.query_id, c.vec_id, b.bucket,
         CAST(SUM(t.d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN bkt b ON b.vec_id = c.vec_id
  JOIN probed p ON p.bucket = b.bucket
  JOIN tab t ON t.query_id = p.query_id
            AND t.sub = c.sub AND t.cluster = c.cluster
  GROUP BY 1, 2, 3
)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id, bucket, adc_d2
FROM (
  SELECT query_id, vec_id, bucket, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, vec_id) AS rk
  FROM scores
) WHERE rk <= {_Q193_TOPK}""")
    return "".join(parts)


Q193_SQL = _q193_sql()


_Q194_ROUNDS = 2
_Q194_M = 2
_Q194_TOP = 20


def q194_bpe_batched(spark, sf):
    """Batched BPE training (operators/bpe.py bpe_merges_batched) —
    q190's production scale shortcut: each round learns the top m=2
    SYMBOL-DISJOINT pairs (greedy in (freq desc, l, r) rank order —
    on natural text the raw top-m always shares a symbol, measured)
    in ONE m-row collect, applying both replaces in rank order in a
    single vocab pass — collect count k/m, the shortcut real
    tokenizer runs (30k+ merges) need.  Batched == sequential is NOT
    claimed (a merged symbol's new pairs can out-rank the batch tail
    — observed at both gate sfs, documented in the operator); the
    batched semantics are deterministic and fully hash-gated: the
    oracle replays the greedy selection (top-1, then top-1 among
    symbol-disjoint survivors) and the same replace chain per round
    as MATERIALIZED CTEs."""
    from ..operators.bpe import bpe_merges_batched

    docs = load_table(spark, sf, "documents").select("text")
    return bpe_merges_batched(docs, _Q194_ROUNDS, _Q194_M, _Q194_TOP)


def _q194_sql(rounds: int = _Q194_ROUNDS, top: int = _Q194_TOP) -> str:
    # the b{i}a/b{i}b CTE pair and the (i-1)*2+k rank arithmetic
    # hard-code exactly TWO greedy picks per round - fail at import
    # if the operator knob diverges, not at gate time (r13 ADVICE)
    assert _Q194_M == 2, 'q194 oracle hard-codes m=2 greedy picks'
    duck_syms = "list_filter(string_split(sym, '|'), x -> x <> '')"
    parts = [f"""
WITH w0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         '|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'
           AS sym
  FROM (SELECT unnest({_Q185_TOKS}) AS w FROM documents)
  GROUP BY w
)"""]
    for i in range(1, rounds + 1):
        parts.append(f""", t{i} AS MATERIALIZED (
  SELECT sym, cnt, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM (SELECT sym, cnt, {duck_syms} AS arr FROM w{i - 1})
), p{i} AS MATERIALIZED (
  SELECT x.tok AS l, y.tok AS r, CAST(sum(x.cnt) AS BIGINT) AS freq
  FROM t{i} x JOIN t{i} y ON x.sym = y.sym AND y.pos = x.pos + 1
  GROUP BY 1, 2
), b{i}a AS MATERIALIZED (
  SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1
), b{i}b AS MATERIALIZED (
  -- greedy rank-order selection: the best pair symbol-disjoint from
  -- the round's first pick (the operator's batch rule)
  SELECT p.l, p.r, p.freq FROM p{i} p, b{i}a a
  WHERE p.l <> a.l AND p.l <> a.r AND p.r <> a.l AND p.r <> a.r
  ORDER BY p.freq DESC, p.l, p.r LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT p.cnt,
         replace(replace(p.sym,
                 '|' || a.l || '|' || a.r || '|',
                 '|' || a.l || a.r || '|'),
                 '|' || b.l || '|' || b.r || '|',
                 '|' || b.l || b.r || '|') AS sym
  FROM w{i - 1} p, b{i}a a, b{i}b b
)""")
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS kind, CAST({(i - 1) * 2 + 1} AS BIGINT) "
        f"AS rank, l || ' ' || r AS token, freq FROM b{i}a\n"
        "UNION ALL\n"
        f"SELECT 'merge' AS kind, CAST({(i - 1) * 2 + 2} AS BIGINT) "
        f"AS rank, l || ' ' || r AS token, freq FROM b{i}b"
        for i in range(1, rounds + 1)
    )
    parts.append(f""", fin AS MATERIALIZED (
  SELECT cnt, unnest({duck_syms}) AS token FROM w{rounds}
), vocab AS (
  SELECT token, CAST(sum(cnt) AS BIGINT) AS freq FROM fin GROUP BY 1
), topv AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rk
  FROM vocab
)
{merge_rows}
UNION ALL
SELECT 'symbol' AS kind, CAST(rk AS BIGINT) AS rank, token, freq
FROM topv WHERE rk <= {top}""")
    return "".join(parts)


Q194_SQL = _q194_sql()


_Q195_DIM = 64
# B=48 planes / C=200 candidates: tuned on the fixtures (uniform-
# sphere embeddings — the ADVERSARIAL case for any sign-LSH, the same
# regime that sets q92b's 0.65 IVF floor).  B=16/C=40 measured
# recall@10 of 0.17-0.3; 48/200 lands 0.83 (sf0.01) / 0.57 (sf0.1),
# floors pinned by tests/test_bitlsh.py.  The cut still BINDS at
# every sf (C < corpus).
_Q195_B = 48
_Q195_C = 200
_Q195_NQ = 3
_Q195_K = 10


def q195_bitlsh_topk(spark, sf):
    """Hyperplane bit-LSH top-k (operators/bitlsh.py bit_lsh_topk):
    the BINARY quantization ANN rung — B=48 deterministic +-1
    hyperplanes (md5-derived, engine-replayable), one BIGINT signature
    per vector, candidate generation by exact Hamming distance over
    signatures alone (XOR + popcount — ~10x fewer bytes than the raw
    vectors), exact-int64 d2 rerank of the top-C=200 candidates,
    final top-k=10 by (d2, vec_id).  Unlike q92b/q93b's rows-only
    bucketing paths this is FULLY hash-gated: weights, sign bits,
    Hamming cut and rerank are all deterministic and the oracle
    replays each stage.  Queries = the 3 smallest-md5(id) vectors
    (the q112/q181/q191 contract)."""
    from ..operators.bitlsh import bit_lsh_topk

    emb = load_table(spark, sf, "embeddings")
    return bit_lsh_topk(
        emb,
        "vec_id",
        "embedding",
        _Q195_DIM,
        _Q195_B,
        _Q195_C,
        _Q195_NQ,
        _Q195_K,
    )


def _q195_sql() -> str:
    weights = hyperplane_weights(_Q195_B, _Q195_DIM)
    wrows = ", ".join(
        f"({h}, {d}, {w})"
        for h, row in enumerate(weights)
        for d, w in enumerate(row)
    )
    return f"""
WITH qfull AS MATERIALIZED (
  SELECT vec_id, dim,
         CAST(floor(CAST(val AS DOUBLE) * 10000) AS BIGINT) + 10000 AS v
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings WHERE embedding IS NOT NULL)
), w(h, dim, wt) AS (VALUES {wrows}),
wh AS (SELECT h, CAST(sum(wt) AS BIGINT) AS wsum FROM w GROUP BY 1),
dots AS (
  SELECT q.vec_id, w.h, CAST(SUM(w.wt * q.v) AS BIGINT) AS dot
  FROM qfull q JOIN w ON w.dim = q.dim GROUP BY 1, 2
), sig AS MATERIALIZED (
  -- bit h set iff the UNSHIFTED dot >= 0: dot - SHIFT * sum(w) >= 0
  SELECT d.vec_id,
         CAST(SUM(CASE WHEN d.dot - 10000 * wh.wsum >= 0
                       THEN CAST(1 AS BIGINT) << d.h
                       ELSE 0 END) AS BIGINT) AS sig
  FROM dots d JOIN wh USING (h) GROUP BY 1
), ordv AS MATERIALIZED (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM (SELECT DISTINCT vec_id FROM qfull)
), qrs AS MATERIALIZED (
  SELECT o.vec_id AS query_id, s.sig AS q_sig
  FROM ordv o JOIN sig s ON s.vec_id = o.vec_id
  WHERE o.rn <= {_Q195_NQ}
), ham AS (
  SELECT r.query_id, s.vec_id,
         CAST(bit_count(xor(r.q_sig, s.sig)) AS BIGINT) AS hamming
  FROM qrs r, sig s
), cand AS MATERIALIZED (
  SELECT query_id, vec_id, hamming FROM (
    SELECT query_id, vec_id, hamming,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming, vec_id) AS rk
    FROM ham
  ) WHERE rk <= {_Q195_C}
), scored AS (
  SELECT c.query_id, c.vec_id, c.hamming,
         CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2
  FROM cand c
  JOIN qfull a ON a.vec_id = c.vec_id
  JOIN qfull b ON b.vec_id = c.query_id AND b.dim = a.dim
  GROUP BY 1, 2, 3
)
SELECT query_id, CAST(rk AS BIGINT) AS rank, vec_id, hamming, d2 FROM (
  SELECT query_id, vec_id, hamming, d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2, vec_id) AS rk
  FROM scored
) WHERE rk <= {_Q195_K}"""


Q195_SQL = _q195_sql()


_Q196_PPM_THRESHOLD = 200_000


def q196_char_entropy(spark, sf):
    """Char-entropy quality screen (operators/textstats.py
    char_entropy_stats): per doc, exact char-histogram stats (n_chars,
    n_distinct, top char with (count desc, char) tie-break, integer
    top-share ppm) + the Shannon entropy of the char distribution in
    the factored form H = ln(n) - (SUM c ln c)/n (every ln argument an
    exact integer; ROUND-4 both sides — the q118/q185 ln rule,
    sweep-eligible on promotion).  The low-quality FLAG compares exact
    integers only (top_share_ppm > {thr}) and BINDS both directions at
    every fixture sf (1/1/9 of 500/500/5000 docs flagged)."""
    from ..operators.textstats import char_entropy_stats

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return char_entropy_stats(
        docs, "doc_id", "text", _Q196_PPM_THRESHOLD
    )


Q196_SQL = f"""
WITH c AS MATERIALIZED (
  -- the SAME explicit exclusion class as the operator (Java's '.'
  -- excludes five line terminators, RE2's only LF — chr() builds
  -- the literal class so neither engine's escape syntax is parsed)
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(text,
                 '[^' || chr(10) || chr(13) || chr(133)
                      || chr(8232) || chr(8233) || ']')) AS ch
        FROM documents)
  GROUP BY 1, 2
), tops AS (
  SELECT doc_id, ch AS top_char, c AS top_cnt FROM (
    SELECT doc_id, ch, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, ch) AS rk
    FROM c
  ) WHERE rk = 1
), agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_distinct,
         ROUND(ln(CAST(sum(c) AS DOUBLE))
               - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                 / CAST(sum(c) AS DOUBLE), 4) AS entropy4
  FROM c GROUP BY 1
)
SELECT a.doc_id, a.n_chars, a.n_distinct, t.top_char, t.top_cnt,
       CAST(t.top_cnt * 1000000 // a.n_chars AS BIGINT) AS top_share_ppm,
       a.entropy4,
       (t.top_cnt * 1000000 // a.n_chars) > {_Q196_PPM_THRESHOLD}
         AS is_low_quality
FROM agg a JOIN tops t USING (doc_id)
"""


QUERIES = {
    "q145_kmv_setops": q145_kmv_setops,
    "q146_fuzzy_match": q146_fuzzy_match,
    "q147_pps_sample": q147_pps_sample,
    "q148_phrase_search": q148_phrase_search,
    "q150_gapfill_locf": q150_gapfill_locf,
    "q151_retention_cohorts": q151_retention_cohorts,
    "q153_activity_streaks": q153_activity_streaks,
    "q154_pairwise_corr": q154_pairwise_corr,
    "q155_range_join_concurrency": q155_range_join_concurrency,
    "q156_twap_daily": q156_twap_daily,
    "q157_profile_audit": q157_profile_audit,
    "q158_event_transitions": q158_event_transitions,
    "q159_basket_lift": q159_basket_lift,
    "q160_peak_concurrency": q160_peak_concurrency,
    "q161_weighted_quantiles": q161_weighted_quantiles,
    "q162_fk_orphan_audit": q162_fk_orphan_audit,
    "q163_price_qty_skyline": q163_price_qty_skyline,
    "q164_clamped_balance": q164_clamped_balance,
    "q165_flow_concentration": q165_flow_concentration,
    "q166_cusum_drift": q166_cusum_drift,
    "q167_psi_drift": q167_psi_drift,
    "q168_rolling_active": q168_rolling_active,
    "q169_coalesced_activity": q169_coalesced_activity,
    "s16_transitions_stream": s16_transitions_stream,
    "s17_gapfill_stream": s17_gapfill_stream,
    "q142_hist_rollup_report": q142_hist_rollup_report,
    "q143_topk_certified": q143_topk_certified,
    "q144_hll_overlap": q144_hll_overlap,
    "q149_incremental_simhash": q149_incremental_simhash,
    "q152_mad_outliers": q152_mad_outliers,
    "q170_triangle_counts": q170_triangle_counts,
    "q171_pagerank": q171_pagerank,
    "q172_funnel_within": q172_funnel_within,
    "q173_boolean_search": q173_boolean_search,
    "q174_setsim_join": q174_setsim_join,
    "q175_kcore": q175_kcore,
    "q176_collocations": q176_collocations,
    "q177_interval_overlap": q177_interval_overlap,
    "q178_skew_report": q178_skew_report,
    "q179_grouped_agg_pandas": q179_grouped_agg_pandas,
    "q180_quantile_rollup": q180_quantile_rollup,
    "q181_weighted_sample": q181_weighted_sample,
    "q182_proximity_search": q182_proximity_search,
    "q183_kmeans": q183_kmeans,
    "q184_attribution": q184_attribution,
    "q185_bigram_nll": q185_bigram_nll,
    "q186_group_trend": q186_group_trend,
    "q187_autocorr": q187_autocorr,
    "q188_cluster_split": q188_cluster_split,
    "q189_vwap_vol": q189_vwap_vol,
    "q190_bpe_merges": q190_bpe_merges,
    "q191_pq_topk": q191_pq_topk,
    "q192_seasonal_outliers": q192_seasonal_outliers,
    "q193_ivfpq_topk": q193_ivfpq_topk,
    "q194_bpe_batched": q194_bpe_batched,
    "q195_bitlsh_topk": q195_bitlsh_topk,
    "q196_char_entropy": q196_char_entropy,
}

ORACLE = {
    "q145_kmv_setops": Q145_SQL,
    "q146_fuzzy_match": Q146_SQL,
    "q147_pps_sample": Q147_SQL,
    "q148_phrase_search": Q148_SQL,
    "q150_gapfill_locf": Q150_SQL,
    "q151_retention_cohorts": Q151_SQL,
    "q153_activity_streaks": Q153_SQL,
    "q154_pairwise_corr": Q154_SQL,
    "q155_range_join_concurrency": Q155_SQL,
    "q156_twap_daily": Q156_SQL,
    "q157_profile_audit": Q157_SQL,
    "q158_event_transitions": Q158_SQL,
    "q159_basket_lift": Q159_SQL,
    "q160_peak_concurrency": Q160_SQL,
    "q161_weighted_quantiles": Q161_SQL,
    "q162_fk_orphan_audit": Q162_SQL,
    "q163_price_qty_skyline": Q163_SQL,
    "q164_clamped_balance": Q164_SQL,
    "q165_flow_concentration": Q165_SQL,
    "q166_cusum_drift": Q166_SQL,
    "q167_psi_drift": Q167_SQL,
    "q168_rolling_active": Q168_SQL,
    "q169_coalesced_activity": Q169_SQL,
    "s16_transitions_stream": S16_SQL,
    "s17_gapfill_stream": S17_SQL,
    "q142_hist_rollup_report": Q142_SQL,
    "q143_topk_certified": Q143_SQL,
    "q144_hll_overlap": Q144_SQL,
    "q149_incremental_simhash": Q149_SQL,
    "q152_mad_outliers": Q152_SQL,
    "q170_triangle_counts": Q170_SQL,
    "q171_pagerank": Q171_SQL,
    "q172_funnel_within": Q172_SQL,
    "q173_boolean_search": Q173_SQL,
    "q174_setsim_join": Q174_SQL,
    "q175_kcore": Q175_SQL,
    "q176_collocations": Q176_SQL,
    "q177_interval_overlap": Q177_SQL,
    "q178_skew_report": Q178_SQL,
    "q179_grouped_agg_pandas": Q179_SQL,
    "q180_quantile_rollup": Q180_SQL,
    "q181_weighted_sample": Q181_SQL,
    "q182_proximity_search": Q182_SQL,
    "q183_kmeans": Q183_SQL,
    "q184_attribution": Q184_SQL,
    "q185_bigram_nll": Q185_SQL,
    "q186_group_trend": Q186_SQL,
    "q187_autocorr": Q187_SQL,
    "q188_cluster_split": Q188_SQL,
    "q189_vwap_vol": Q189_SQL,
    "q190_bpe_merges": Q190_SQL,
    "q191_pq_topk": Q191_SQL,
    "q192_seasonal_outliers": Q192_SQL,
    "q193_ivfpq_topk": Q193_SQL,
    "q194_bpe_batched": Q194_SQL,
    "q195_bitlsh_topk": Q195_SQL,
    "q196_char_entropy": Q196_SQL,
}
