"""Single-pass column profiling — the dataset-audit operator a
training-data pipeline runs before anything else touches a drop.

ONE scan computes, for every declared column: row count, null count,
EXACT distinct count, canonical min/max strings, and an exact integer
sum anchor (ints summed as-is, 2-decimal money through the cents
cast) — the Deequ/completeness-check shape, emitted as one row per
column so downstream constraint checks are plain filters.

Canonical strings keep the hash gate engine-exact: integers and exact
cents render identically in Spark and DuckDB; strings compare/render
in binary collation on both; timestamps go through the shared
second-precision format (hashstable.py convention: never raw
timestamp values).

Plan shape (r16 rewrite — one corpus scan instead of two):

1. every (column, value) is canonicalized to ONE of two join-safe
   slots — ``vl`` (bigint: ints as-is, money in cents, timestamps as
   ``unix_micros``; every mapping strictly monotonic AND injective, so
   min/max/distinct over ``vl`` equal min/max/distinct over the typed
   value) or ``vs`` (string, binary collation) — and exploded as
   (col, vl, vs) rows;
2. ``groupBy(col, vl, vs) -> cnt`` collapses the stream to the
   distinct-value histogram (codegen hash aggregate: grouping KEYS may
   be strings — only string AGG BUFFERS poison hash aggregation);
3. a per-column fold over the histogram derives every statistic
   exactly: n_rows = sum(cnt), n_null = cnt of the null group,
   n_distinct = count of non-null groups, min/max over the (already
   distinct) values, sum_anchor = sum(vl * cnt) for integral kinds.

The former implementation ran TWO scans (a count_distinct Expand pass
plus a min/max/sum fold pass, recombined by join) because mixing k
count_distincts with string min/max in one agg degrades to a
SortAggregate keyed by all k distinct expressions (measured 29 s vs
3.6 s on the sf0.1 fixture, r8).  The histogram formulation needs no
multi-distinct machinery at all, so the poison cannot occur: string
min/max only ever run over the (tiny) per-column distinct-value frame.

Input parallelization: the fixture tables are single-file single-row-
group parquet, so the scan — and everything fused into it, here the
k-way expand and the partial histogram aggregate — plans as ONE task
(guide sect. 2.5's "one huge unsplittable file").  When the planned
scan parallelism is below the cluster's, the expand input is
re-distributed by a hash of the profiled columns first (deterministic,
no round-robin sort, no skew: the combined key space is the row
space).  At real scale the guard never fires — a multi-row-group
corpus scan already carries the parallelism — so no extra shuffle is
paid exactly where it would hurt (measured sf0.1: 3.5 s -> 1.8 s with
the guard firing; q157's plan then opens with one REPARTITION_BY_NUM
hash exchange on the profiled columns ahead of the expand).

At corpus scale swap ``exact_distinct=False`` for
approx_count_distinct (HLL, constant-size partials) — that path keeps
the classic two-agg shape (HLL partials ride the fold pass; there is
no histogram to reuse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .robust import cents

__all__ = ["profile_columns"]

_KINDS = ("int", "cents", "str", "ts")


def _canon(kind: str, col):
    """Canonical cross-engine string rendering of a min/max value."""
    if kind == "ts":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def profile_columns(
    df: DataFrame,
    specs: list[tuple[str, str]],
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile ``specs`` = [(column_name, kind)] in one scan.

    kind ∈ ``int`` (exact integer), ``cents`` (2-decimal money,
    audited in integer cents), ``str`` (binary collation), ``ts``
    (second-precision canonical format).  Output one row per column:
    ``col_name``, ``n_rows``, ``n_null``, ``n_distinct``,
    ``min_str``/``max_str`` (canonical, NULL on all-null columns),
    ``sum_anchor`` (exact int64 — NULL for str/ts kinds).
    """
    for name, kind in specs:
        if kind not in _KINDS:
            raise ValueError(f"unknown kind {kind!r} for {name!r}")
    if not exact_distinct:
        return _profile_approx(df, specs)

    structs = []
    for name, kind in specs:
        if kind == "str":
            vl = F.lit(None).cast("long")
            vs = F.col(name)
        elif kind == "ts":
            # unix_micros is injective and monotonic on TIMESTAMP
            # (microsecond internal precision), so distinct/min/max
            # over vl equal those over the typed value.
            vl = F.unix_micros(F.col(name))
            vs = F.lit(None).cast("string")
        elif kind == "cents":
            vl = cents(name).cast("long")
            vs = F.lit(None).cast("string")
        else:
            vl = F.col(name).cast("long")
            vs = F.lit(None).cast("string")
        structs.append(
            F.struct(F.lit(name).alias("c"), vl.alias("vl"), vs.alias("vs"))
        )
    summable = [n for n, k in specs if k in ("int", "cents")]

    src = df.select(*[F.col(n) for n, _ in specs])
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        # unsplittable/under-parallelized input: spread the expand +
        # partial histogram across the cluster (see module docstring).
        src = src.repartition(
            sc.defaultParallelism, *[F.col(n) for n, _ in specs]
        )

    hist = (
        src.select(F.explode(F.array(*structs)).alias("e"))
        .select("e.c", "e.vl", "e.vs")
        .groupBy("c", "vl", "vs")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nonnull = F.col("vl").isNotNull() | F.col("vs").isNotNull()
    fold = hist.groupBy("c").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(~nonnull, F.col("cnt")).otherwise(F.lit(0)))
        .alias("n_null"),
        F.count(F.when(nonnull, F.lit(1))).alias("n_distinct"),
        F.min("vl").alias("_mn_l"),
        F.max("vl").alias("_mx_l"),
        F.min("vs").alias("_mn_s"),
        F.max("vs").alias("_mx_s"),
        # the product is gated to integral kinds: an ungated
        # vl * cnt would overflow int64 on unix_micros timestamps
        # (ANSI mode would — correctly — refuse the plan at runtime).
        F.sum(
            F.when(F.col("c").isin(summable), F.col("vl") * F.col("cnt"))
        ).alias("_sum_l"),
    )

    # one row per DECLARED column even on empty input (r16 ADVICE: the
    # histogram fold emits only observed groups, so an empty frame
    # produced ZERO rows where the docstring promises one per spec —
    # and where the pre-r16 keyless agg and the approx path still emit
    # n_rows=0/n_null=0/n_distinct=0 rows).  Left-joining the fold onto
    # the literal spec-name frame restores the contract; on non-empty
    # input every declared column has at least one histogram group, so
    # the join is 1:1 and the coalesces are no-ops — output identical.
    names = df.sparkSession.createDataFrame(
        [(n,) for n, _ in specs], "c string"
    )
    fold = names.join(fold, "c", "left").select(
        "c",
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        F.coalesce("n_null", F.lit(0)).alias("n_null"),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        "_mn_l",
        "_mx_l",
        "_mn_s",
        "_mx_s",
        "_sum_l",
    )

    def _render(slot_l, slot_s):
        out = None
        for name, kind in specs:
            if kind == "str":
                r = F.col(slot_s)
            elif kind == "ts":
                r = _canon("ts", F.timestamp_micros(F.col(slot_l)))
            else:
                r = F.col(slot_l).cast("string")
            branch = F.when(F.col("c") == name, r)
            out = branch if out is None else out.when(F.col("c") == name, r)
        return out

    return fold.select(
        F.col("c").alias("col_name"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        _render("_mn_l", "_mn_s").alias("min_str"),
        _render("_mx_l", "_mx_s").alias("max_str"),
        F.when(
            F.col("c").isin(summable), F.col("_sum_l").cast("long")
        ).alias("sum_anchor"),
    )


def _profile_approx(df: DataFrame, specs: list[tuple[str, str]]) -> DataFrame:
    """approx_count_distinct variant: the classic two-agg recombine
    (HLL partials are constant-size, so the Expand histogram buys
    nothing here)."""
    simple, dist, packs = [], [], []
    for name, kind in specs:
        base = cents(name) if kind == "cents" else F.col(name)
        dist.append(
            F.approx_count_distinct(base).alias(f"_{name}_dist")
        )
        simple += [
            F.count(F.lit(1)).alias(f"_{name}_rows"),
            F.count(base).alias(f"_{name}_nn"),
            F.min(base).alias(f"_{name}_min"),
            F.max(base).alias(f"_{name}_max"),
            (
                F.sum(base).cast("long")
                if kind in ("int", "cents")
                else F.max(F.lit(None).cast("long"))
            ).alias(f"_{name}_sum"),
        ]
        packs.append(
            F.struct(
                F.lit(name).alias("col_name"),
                F.col(f"_{name}_rows").alias("n_rows"),
                (F.col(f"_{name}_rows") - F.col(f"_{name}_nn")).alias(
                    "n_null"
                ),
                F.col(f"_{name}_dist").alias("n_distinct"),
                _canon(kind, F.col(f"_{name}_min")).alias("min_str"),
                _canon(kind, F.col(f"_{name}_max")).alias("max_str"),
                F.col(f"_{name}_sum").alias("sum_anchor"),
            )
        )
    one = df.agg(*simple).join(F.broadcast(df.agg(*dist)))
    return one.select(F.explode(F.array(*packs)).alias("p")).select("p.*")
