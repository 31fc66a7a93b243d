"""Seeded generator for the ten batch tables the query entries read.

The shapes follow FIXTURES.md (column names, types and value domains of
the TPC-H-like star, ``events``, ``documents`` and ``embeddings``); the
row counts scale linearly with ``sf`` like the fixture builds.  The same
``(seed, sf)`` always writes byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    # events: a 30-day stream in time order, ~150 users, prices >= 0.01
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.lognormal(3.5, 0.9, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: word soup over a 30-word vocabulary; 5% are copies of an
    # earlier document with a trailing "dup" token (the near-duplicates
    # the dedup entries look for)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    # embeddings: unit vectors in ten clusters, one per label.  The centres
    # are as far apart as the noise is wide, so each vector's nearest
    # neighbours share its label and q136's approximate-search recall stays
    # above its floors whatever the seed (on a near-uniform sphere the IVF
    # recall of one probe vector falls below its floor for some seeds).
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 0.125, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
