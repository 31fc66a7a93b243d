"""Hyperplane bit-LSH top-k (operators/bitlsh.py): hand-model
equality, cross-engine weight derivation, contract guards, and the
gate-fixture binding discipline."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from live_market_data_orderflow_analysis_big_data_project__spark.operators.bitlsh import (  # noqa: E501
    bit_lsh_topk,
    hyperplane_weights,
)

from conftest import SF0001, SF001


def _model(vecs, dim, n_planes, n_candidates, n_queries, topk):
    """Pure-Python replay: quantize, sign bits, Hamming cut, d2
    rerank — the reviewer's literal formulation."""
    import math

    W = hyperplane_weights(n_planes, dim)
    q = {
        i: [math.floor(x * 10_000) + 10_000 for x in v]
        for i, v in vecs.items()
    }
    sig = {}
    for i, qv in q.items():
        s = 0
        for h, row in enumerate(W):
            # unshifted dot >= 0  <=>  shifted dot >= SHIFT * sum(w)
            if sum(w * v for w, v in zip(row, qv)) >= 10_000 * sum(row):
                s |= 1 << h
        sig[i] = s
    qids = sorted(
        q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:n_queries]
    out = {}
    for qi in qids:
        ham = sorted(
            (bin(sig[qi] ^ sig[i]).count("1"), i) for i in q
        )[:n_candidates]
        scored = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(q[i], q[qi])),
                i,
                h,
            )
            for h, i in ham
        )
        for rank, (d2, i, h) in enumerate(scored[:topk], start=1):
            out[(qi, rank)] = (i, h, d2)
    return out


def test_matches_python_model_on_synthetic_vectors(spark):
    vecs = {
        0: [0.5, -0.25, 0.0, 1.0],
        1: [0.5, -0.25, 0.0, 0.9],
        2: [-1.0, 1.0, -1.0, 1.0],
        3: [0.1, 0.1, 0.1, 0.1],
        4: [-0.5, -0.5, 0.5, 0.5],
        5: [0.49, -0.26, 0.01, 0.98],
    }
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.hamming, r.d2)
        for r in bit_lsh_topk(df, "vec_id", "embedding", 4, 8, 4, 2, 3)
        .collect()
    }
    assert got == _model(vecs, 4, 8, 4, 2, 3)


def test_weight_derivation_matches_duckdb_md5():
    """The +-1 weights come from Python hashlib.md5; the oracle's
    claim is that an IN-ENGINE derivation would agree — pin DuckDB's
    md5() against hyperplane_weights on a sample grid."""
    W = hyperplane_weights(4, 8)
    con = duckdb.connect()
    for h in range(4):
        for d in range(8):
            hexd = con.execute(
                "SELECT substring(md5(?), 1, 1)", [f"h{h}:d{d}"]
            ).fetchone()[0]
            want = 1 if int(hexd, 16) < 8 else -1
            assert W[h][d] == want, (h, d)
    con.close()


def test_signature_is_balanced_not_degenerate(spark):
    """On the real fixture the sign bits must actually vary — a
    constant signature would make Hamming vacuous and the gate a
    plain brute-force rerank."""
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
        q195_bitlsh_topk,
    )

    for sf in (SF0001, SF001):
        rows = q195_bitlsh_topk(spark, sf).collect()
        hams = {r.hamming for r in rows}
        assert len(hams) > 1, (sf, hams)
        # rerank does real work: d2 order differs from hamming order
        by_ham = sorted(rows, key=lambda r: (r.query_id, r.hamming, r.vec_id))
        by_d2 = sorted(rows, key=lambda r: (r.query_id, r.rank))
        assert [r.vec_id for r in by_ham] != [r.vec_id for r in by_d2], sf


def test_recall_floor_vs_exact_bruteforce(spark):
    """Measured ANN quality, pinned (the q136/q92b discipline): the
    pipeline is fully deterministic on a fixed fixture, so recall@10
    vs the exact d2 top-10 is a constant — floors are the measured
    means minus margin (sf0.001: 0.93, sf0.01: 0.83; the uniform-
    sphere fixture is the ADVERSARIAL case for sign-LSH, the same
    regime behind q92b's 0.65 IVF floor; sf0.1 measures 0.57 by
    hand)."""
    import numpy as np

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        quantize_vectors,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
        q195_bitlsh_topk,
    )

    floors = {SF0001: 0.85, SF001: 0.75}
    for sf, floor in floors.items():
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        v = quantize_vectors(emb, "vec_id", "embedding").toPandas()
        arr = {r.vec_id: np.array(r.qv) for r in v.itertuples()}
        got = q195_bitlsh_topk(spark, sf).toPandas()
        rec = []
        for q in got["query_id"].unique():
            d2 = sorted(
                (int(((arr[i] - arr[q]) ** 2).sum()), i) for i in arr
            )[:10]
            exact = {i for _, i in d2}
            rec.append(
                len(exact & set(got[got.query_id == q]["vec_id"])) / 10
            )
        mean = sum(rec) / len(rec)
        assert mean >= floor, (sf, rec, mean)


def test_contract_guards(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_planes"):
        bit_lsh_topk(df, "vec_id", "embedding", 2, 64, 4, 1, 2)
    with pytest.raises(ValueError, match="topk"):
        bit_lsh_topk(df, "vec_id", "embedding", 2, 8, 2, 1, 3)
    with pytest.raises(Exception, match="dimension"):
        bit_lsh_topk(df, "vec_id", "embedding", 3, 8, 2, 1, 2).collect()
    with pytest.raises(ValueError, match="available"):
        bit_lsh_topk(df, "vec_id", "embedding", 2, 8, 2, 5, 2)
    # n_candidates >= corpus: the Hamming cut would be vacuous (a
    # brute-force rerank in disguise) — loud, like the other guards
    two = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.3, -0.4])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="vacuous"):
        bit_lsh_topk(two, "vec_id", "embedding", 2, 8, 2, 1, 2)


def test_signature_kernel_matches_expression_fold(spark):
    """The Arrow matmul signature kernel == the pure-expression
    zip_with/aggregate fold it replaced (r16), bit for bit on the real
    fixture — the test_semdedup_kernel_matches_hof_fold discipline.
    Every term is int64 so equality is exact, not approximate; the
    test applies ``signature_udf`` (THE kernel bit_lsh_topk ships, not
    a copy) next to the fold in one projection."""
    from pyspark.sql import functions as F

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.bitlsh import (  # noqa: E501
        signature_udf,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        quantize_vectors,
    )

    n_planes, dim = 16, 64
    W = hyperplane_weights(n_planes, dim)
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    vecs = quantize_vectors(emb, "vec_id", "embedding")
    fold = None
    for h, row in enumerate(W):
        dot = F.aggregate(
            F.zip_with(
                "qv",
                F.array(*[F.lit(w).cast("long") for w in row]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(
            dot >= F.lit(10_000 * sum(row)).cast("long"),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** h).cast("long")
        fold = term if fold is None else fold + term
    rows = vecs.select(
        "vec_id",
        signature_udf(W, dim)("qv").alias("kern"),
        fold.alias("fold"),
    ).collect()
    assert rows, "fixture must be non-empty"
    assert all(r.kern == r.fold for r in rows)


def test_signature_kernel_null_and_dim_contract(spark):
    """NULL vector -> NULL signature (the expression fold's behavior;
    the r16 kernel crashed with an opaque TypeError — ADVICE r16);
    wrong width still raises the documented dimension message."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.bitlsh import (  # noqa: E501
        signature_udf,
    )

    W = hyperplane_weights(4, 3)
    sig = signature_udf(W, 3)
    df = spark.createDataFrame(
        [(0, [10_000, 10_001, 9_999]), (1, None), (2, [10_000] * 3)],
        "vec_id long, qv array<bigint>",
    )
    got = {
        r.vec_id: r.s
        for r in df.select("vec_id", sig("qv").alias("s")).collect()
    }
    assert got[1] is None
    assert got[0] is not None and got[2] is not None
    bad = spark.createDataFrame(
        [(0, [10_000, 10_000])], "vec_id long, qv array<bigint>"
    )
    with pytest.raises(Exception, match="dimension"):
        bad.select(sig("qv")).collect()
