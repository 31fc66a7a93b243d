"""The one Spark-vs-DuckDB compare (tools/check_oracle.py ``compare``)
and the bench CLI's subset mode (bench.py KEY ...)."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np

from check_oracle import compare

from conftest import REPO, SF0001

COLS = ["a", "b"]
ROWS = [(1, "x"), (2, "y"), (3, "z")]


def test_compare_passes_reordered_rows_and_columns():
    dcols = ["b", "a"]
    drows = [(b, a) for a, b in reversed(ROWS)]
    assert compare(COLS, ROWS, dcols, drows) == []


def test_compare_reports_rowcount():
    problems = compare(COLS, ROWS, COLS, ROWS[:2])
    assert problems == ["rowcount spark=3 duck=2"]


def test_compare_reports_column_set():
    problems = compare(COLS, ROWS, ["a", "c"], ROWS)
    assert problems == ["cols spark=['a', 'b'] duck=['a', 'c']"]


def test_compare_reports_first_differing_lines():
    drows = [(1, "x"), (2, "Y"), (3, "z")]
    problems = compare(COLS, ROWS, COLS, drows)
    assert problems == ["value mismatch", "  spark: 2|y", "  duck : 2|Y"]


def test_compare_lists_at_most_three_differing_lines():
    srows = [(i, "s") for i in range(5)]
    drows = [(i, "d") for i in range(5)]
    problems = compare(COLS, srows, COLS, drows)
    assert problems[0] == "value mismatch"
    assert len(problems) == 1 + 2 * 3


def test_compare_normalises_negative_zero_and_nan():
    srows = [(-0.0, np.float64("nan")), (np.float64(1.5), None)]
    drows = [(0.0, None), (1.5, float("nan"))]
    assert compare(["x", "y"], srows, ["x", "y"], drows) == []


def _md5(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def test_bench_subset_prints_one_line_and_writes_no_record():
    record = os.path.join(REPO, "BENCH_full.json")
    before = _md5(record)
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF0001}
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q07"],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    assert len(out) == 1
    line = json.loads(out[0])
    assert line["n_queries"] == 1 and line["n_failed"] == 0
    (key,) = line["queries"]
    assert key.startswith("q07_")
    parts = line["query_phases"][key]
    assert len(parts["build"]) == len(parts["execute"]) == 3
    # each sample's sum is its total; the reported value is the median
    totals = sorted(round(b + e, 3) for b, e in zip(parts["build"], parts["execute"]))
    assert abs(line["queries"][key] - totals[1]) <= 0.002
    assert _md5(record) == before


def test_bench_unknown_key_exits_2():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q07", "no_such_key"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 2
    assert "no_such_key" in proc.stderr
