"""tools/scale_probe.py: its probe keys, its rewrite of docs/SCALING.md's
head, and its one timer (bench.py in a subprocess)."""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as ent
from scale_probe import PROBE_QUERIES, render, run_isolated

from conftest import REPO, SF0001


def _table_rows(doc: str):
    rows = []
    for line in doc.splitlines():
        if line.startswith("| q") and not line.startswith("| query |"):
            head, t1, tm, ratio = line[2:-2].rsplit(" | ", 3)
            key, why = head.split(" | ", 1)
            rows.append((key, why, float(t1), float(tm), float(ratio)))
    return rows


def test_probe_keys_are_unique_queries_entries():
    keys = [k for k, _ in PROBE_QUERIES]
    assert len(set(keys)) == len(keys)
    assert [k for k in keys if k not in ent.queries()] == []


def test_render_keeps_the_text_after_the_table():
    tail = "\nFindings:\n\n1. a  |  pipe, trailing spaces  \n\n| not | a row |\n"
    doc = (
        "# old title\n\nold intro\n\n"
        "| query | representative of | 1x sec | 4x sec | ratio |\n"
        "|---|---|---|---|---|\n"
        "| q01_old | gone | 1.00 | 2.00 | 2.0 |\n" + tail
    )
    out = render(doc, 4, "local[4]", [("q01_scan_project", "scan", 1.5, 3.25, 2.17)])
    assert out.startswith("# Scale probe (4x replicated sf0.1 fixtures, local[4])\n")
    assert "| q01_scan_project | scan | 1.50 | 3.25 | 2.2 |\n" + tail in out
    assert out.endswith(tail) and "q01_old" not in out


def test_render_round_trips_scaling_doc():
    with open(os.path.join(REPO, "docs", "SCALING.md")) as f:
        doc = f.read()
    mult, master = re.match(
        r"# Scale probe \((\d+)x replicated sf0.1 fixtures, (.+)\)\n", doc
    ).groups()
    why = dict(PROBE_QUERIES)
    # each row's "representative of" text is the probe's own
    rows = [(k, why[k], t1, tm, r) for k, _, t1, tm, r in _table_rows(doc)]
    assert render(doc, int(mult), master, rows) == doc


def test_run_isolated_raises_on_unknown_key():
    # bench.py exits 2 on an unknown key before any Spark session starts
    with pytest.raises(RuntimeError, match="exit 2"):
        run_isolated("no_such_key", SF0001)
