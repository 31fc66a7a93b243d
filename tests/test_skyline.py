"""skyline_2d semantics (operators/skyline.py) + the naive-dominance
ground-truth proof the standing q163 oracle can't afford at sf0.1."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from check_oracle import TABLES, hash_rows

from live_market_data_orderflow_analysis_big_data_project__spark.operators.skyline import (  # noqa: E501
    skyline_2d,
)
from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
    _Q163_NAIVE_SQL,
    q163_price_qty_skyline,
)

from conftest import SF0001, SF001


def _run(spark, rows):
    df = spark.createDataFrame(rows, "g string, price long, qty long")
    out = skyline_2d(df, ["g"], F.col("price"), F.col("qty"))
    return {(r["g"], r["min_val"], r["max_val"]): r["n_rows"]
            for r in out.collect()}


def test_dominated_points_removed(spark):
    rows = [("a", 10, 5), ("a", 20, 3),   # dominated: pricier, less qty
            ("a", 5, 2), ("a", 30, 9)]
    got = _run(spark, rows)
    assert got == {("a", 10, 5): 1, ("a", 5, 2): 1, ("a", 30, 9): 1}


def test_equal_price_only_max_qty_survives(spark):
    rows = [("a", 10, 5), ("a", 10, 7), ("a", 10, 7)]
    got = _run(spark, rows)
    assert got == {("a", 10, 7): 2}  # duplicates both survive


def test_equal_qty_cheaper_dominates(spark):
    # same qty, higher price -> dominated (strict on price, >= on qty)
    rows = [("a", 10, 5), ("a", 12, 5)]
    assert _run(spark, rows) == {("a", 10, 5): 1}


def test_exact_duplicates_all_survive(spark):
    rows = [("a", 10, 5), ("a", 10, 5), ("a", 10, 5)]
    assert _run(spark, rows) == {("a", 10, 5): 3}


def test_groups_independent(spark):
    rows = [("a", 10, 5), ("b", 1, 1)]
    got = _run(spark, rows)
    assert ("b", 1, 1) in got and ("a", 10, 5) in got


def test_window_formulation_equals_naive_dominance_on_fixtures(spark):
    """The ground-truth proof: the window skyline hash-equals the
    quadratic NOT EXISTS dominance at sf0.001 and sf0.01 (at sf0.1
    the naive twin costs ~504 s in DuckDB — the standing oracle uses
    the window math; THIS test is where the naive proof lives)."""
    for sf in (SF0001, SF001):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )
        spdf = q163_price_qty_skyline(spark, sf).toPandas()
        dpdf = con.execute(_Q163_NAIVE_SQL).df()
        con.close()
        assert len(spdf) == len(dpdf), sf
        assert hash_rows(
            list(spdf.columns),
            list(spdf.itertuples(index=False, name=None)),
        ) == hash_rows(
            list(dpdf.columns),
            list(dpdf.itertuples(index=False, name=None)),
        ), sf
