"""operators/cluster.py — integer-quantized Lloyd's k-means.

The q183 gate proves row parity with the unrolled-CTE SQL
oracle at two sfs; these pin the algorithm itself against a pure-Python
model (quantization, md5 seeding, argmin tie-break, floor-mean update,
empty-cluster carry), the |x| <= 1 guard, partitioning invariance, the
fixture-binding discipline, and plan purity.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
    kmeans_quantized,
    pq_adc_topk,
    quantize_vectors,
)

from conftest import SF0001, SF001

_SCALE, _SHIFT = 10_000, 10_000


def _model(rows, k, iters):
    """Pure-Python twin of kmeans_quantized: rows = [(id, [floats])].

    The DataFrame column is array<FLOAT> — the engine (and the DuckDB
    oracle reading the same storage) quantizes the float32 value, so
    the model must round-trip through float32 before flooring or it
    tests numpy literals, not the operator."""
    import numpy as np

    q = {
        i: [
            math.floor(float(np.float32(x)) * _SCALE) + _SHIFT
            for x in v
        ]
        for i, v in rows
    }
    seeds = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:k]
    cent = {c: list(q[i]) for c, i in enumerate(seeds)}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def assign():
        return {
            i: min(cent, key=lambda c: (d2(q[i], cent[c]), c)) for i in q
        }

    for _ in range(iters):
        a = assign()
        for c in cent:
            members = [q[i] for i in q if a[i] == c]
            if members:
                cent[c] = [
                    sum(col) // len(members) for col in zip(*members)
                ]
    a = assign()
    return {i: (a[i], d2(q[i], cent[a[i]])) for i in q}


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _pts():
    # two visible 3-D blobs + a couple of stragglers, deterministic
    rows = []
    for i in range(8):
        rows.append((i, [0.1 + i * 0.01, 0.2, -0.3]))
    for i in range(8, 15):
        rows.append((i, [-0.7, -0.1 - (i - 8) * 0.02, 0.6]))
    rows.append((15, [0.9, 0.9, -0.9]))
    return rows


def test_kmeans_equals_python_model(spark):
    rows = _pts()
    for k, iters in ((2, 2), (3, 3), (4, 1)):
        got = {
            r.vec_id: (r.cluster, r.d2)
            for r in kmeans_quantized(
                _df(spark, rows), "vec_id", "embedding", k, iters
            ).collect()
        }
        assert got == _model(rows, k, iters), (k, iters)


def test_empty_cluster_keeps_centroid(spark):
    # identical points: every point ties to both seeds, the cluster-id
    # tie-break sends all of them to cluster 0, cluster 1 empties and
    # must carry its centroid (no crash, no schema shrink, model parity)
    rows = [(i, [0.5, -0.5]) for i in range(5)]
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_quantized(
            _df(spark, rows), "vec_id", "embedding", 2, 2
        ).collect()
    }
    assert got == _model(rows, 2, 2)
    assert {c for c, _ in got.values()} == {0}


def test_coordinate_guard_fails_loudly(spark):
    rows = [(1, [0.5, 1.5])]
    with pytest.raises(Exception, match="kmeans_quantized"):
        quantize_vectors(_df(spark, rows), "vec_id", "embedding").collect()


def test_partitioning_invariance(spark):
    rows = _pts()
    base = _df(spark, rows)
    a = {
        (r.vec_id, r.cluster, r.d2)
        for r in kmeans_quantized(
            base.repartition(1), "vec_id", "embedding", 3, 2
        ).collect()
    }
    b = {
        (r.vec_id, r.cluster, r.d2)
        for r in kmeans_quantized(
            base.repartition(7, "vec_id"), "vec_id", "embedding", 3, 2
        ).collect()
    }
    assert a == b


def test_ragged_partition_widths_fail_loudly():
    """The driver fold of per-partition Lloyd partials: equal widths
    sum element-wise, an empty partition contributes its count only,
    and two partitions reporting different vector widths for one chain
    raise the dimension error instead of summing a truncated prefix."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        _fold_partials,
    )

    part0 = [{"name": "km", "cluster": 0, "cnt": 1, "sums": [10, 20]}]
    part1 = [{"name": "km", "cluster": 0, "cnt": 2, "sums": [1, 2]},
             {"name": "km", "cluster": 1, "cnt": 0, "sums": []}]
    assert _fold_partials(part0 + part1, "kmeans_quantized") == {
        ("km", 0): (3, [11, 22]),
        ("km", 1): (0, None),
    }
    ragged = [{"name": "km", "cluster": 0, "cnt": 1, "sums": [1, 2, 3]}]
    with pytest.raises(ValueError, match="kmeans_quantized: vector dimension"):
        _fold_partials(part0 + ragged, "kmeans_quantized")


def test_fixture_binding(spark):
    """The q172/q182 binding discipline at BOTH gate sfs: multiple
    clusters hold members (k-means did something) and the iterations
    moved assignments off the seed partition (iters=0 != iters=3) —
    otherwise the gate degenerates to nearest-seed assignment."""
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
        _Q183_ITERS,
        _Q183_K,
        q183_kmeans,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (  # noqa: E501
        load_table,
    )

    for sf in (SF0001, SF001):
        out = q183_kmeans(spark, sf)
        sizes = {
            r.cluster: r.c
            for r in out.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        assert len(sizes) >= 2, (sf, sizes)
        seed_only = {
            (r.vec_id, r.cluster)
            for r in kmeans_quantized(
                load_table(spark, sf, "embeddings"),
                "vec_id",
                "embedding",
                _Q183_K,
                0,
            ).collect()
        }
        final = {(r.vec_id, r.cluster) for r in out.collect()}
        assert final != seed_only, sf


def test_assign_plan_shape(spark):
    """r17 invariant: the final assign is ONE narrow Arrow kernel pass
    (guide §4.2 — vectorized, never row-at-a-time BatchEvalPython),
    with no join/exchange/sort/window left in the assign plan — the
    pre-r17 shape was a centroid crossJoin + row_number window (an
    n·k-row exchange per assign)."""
    plan = (
        kmeans_quantized(_df(spark, _pts()), "vec_id", "embedding", 2, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan          # no pickled-row UDF
    assert "ArrowEvalPython" in plan              # the argmin kernel
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "Exchange", "Window", "Sort"):
        assert node not in plan, node


def _pq_model(rows, dim, m, k, iters, n_queries, topk):
    """Pure-Python twin of pq_adc_topk (same float32 round-trip,
    same md5 seed/query ordering, same per-subspace Lloyd loop and
    exact-int ADC)."""
    import numpy as np

    q = {
        i: [
            math.floor(float(np.float32(x)) * _SCALE) + _SHIFT
            for x in v
        ]
        for i, v in rows
    }
    sub_d = dim // m

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    order = sorted(
        q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    queries, seeds = order[:n_queries], order[:k]
    codes, cents = {}, {}
    for s in range(m):
        sq = {i: v[s * sub_d:(s + 1) * sub_d] for i, v in q.items()}
        cent = {c: list(sq[i]) for c, i in enumerate(seeds)}

        def assign():
            return {
                i: min(cent, key=lambda c: (d2(sq[i], cent[c]), c))
                for i in sq
            }

        for _ in range(iters):
            a = assign()
            for c in cent:
                members = [sq[i] for i in sq if a[i] == c]
                if members:
                    cent[c] = [
                        sum(col) // len(members) for col in zip(*members)
                    ]
        a = assign()
        for i in sq:
            codes[(i, s)] = a[i]
        for c in cent:
            cents[(s, c)] = cent[c]

    out = {}
    for qi in queries:
        scored = sorted(
            (
                sum(
                    d2(
                        q[qi][s * sub_d:(s + 1) * sub_d],
                        cents[(s, codes[(i, s)])],
                    )
                    for s in range(m)
                ),
                i,
            )
            for i in q
        )
        out[qi] = {
            rank + 1: (i, dd)
            for rank, (dd, i) in enumerate(scored[:topk])
        }
    return out


def test_pq_adc_equals_python_model(spark):
    rows = [
        (i, [((i * 7 + j * 3) % 19 - 9) / 10.0 for j in range(8)])
        for i in range(12)
    ]
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in pq_adc_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            m=2, k=2, iters=1, n_queries=2, topk=5,
        ).collect()
    }
    want = _pq_model(rows, 8, 2, 2, 1, 2, 5)
    assert got == {
        (qi, rank): pair
        for qi, ranks in want.items()
        for rank, pair in ranks.items()
    }


def test_pq_dim_guard_fails_loudly(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    rows = [(1, [0.1, 0.2, 0.3, 0.4]), (2, [0.0, 0.1, 0.2, 0.3])]
    with pytest.raises(SparkRuntimeException, match="dimension"):
        pq_adc_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            m=2, k=2, iters=0, n_queries=1, topk=3,
        ).collect()


def test_pq_param_validation():
    with pytest.raises(ValueError, match="divide"):
        pq_adc_topk(None, "vec_id", "embedding", 10, m=4)
    with pytest.raises(ValueError):
        pq_adc_topk(None, "vec_id", "embedding", 8, m=2, topk=0)


def test_pq_no_python_no_cartesian_in_plan(spark):
    rows = [
        (i, [((i * 5 + j) % 11 - 5) / 10.0 for j in range(8)])
        for i in range(10)
    ]
    plan = (
        pq_adc_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            m=2, k=2, iters=1, n_queries=1, topk=3,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # r17: the per-(query, sub) code assigns run through the Arrow
    # argmin kernel (guide §4.2) — vectorized only, never pickled rows
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


# --- IVF-PQ composition (staged gate q193) ---------------------------------


def test_ivfpq_full_probe_equals_pq(spark):
    """With nprobe == coarse_k every inverted list is probed, so the
    IVF restriction is a no-op and the composition must reproduce
    pq_adc_topk exactly (same codebooks: seeds_p are the same k
    smallest-md5 ids either way) — the equivalence that proves the
    bucket machinery only RESTRICTS, never re-ranks."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        ivf_pq_topk,
    )

    rows = [
        (i, [((i * 7 + j * 3) % 19 - 9) / 10.0 for j in range(8)])
        for i in range(12)
    ]
    pq = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in pq_adc_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            m=2, k=2, iters=1, n_queries=2, topk=5,
        ).collect()
    }
    ivf = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in ivf_pq_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            coarse_k=3, coarse_iters=1, m=2, k=2, iters=1,
            nprobe=3, n_queries=2, topk=5,
        ).collect()
    }
    assert ivf == pq


def test_ivfpq_restriction_binds_on_fixture(spark):
    """The q193 knobs (nprobe=2 of coarse_k=4 lists) must actually
    restrict at every gate sf: with topk unbounded the per-query
    candidate count is the probed lists' population — assert it is
    strictly below the corpus size and above zero, so the gate is
    exercising the IVF path, not degenerate full-scan PQ."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        ivf_pq_topk,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.queries.ablock import (  # noqa: E501
        _Q193_CI,
        _Q193_CK,
        _Q193_DIM,
        _Q193_ITERS,
        _Q193_K,
        _Q193_M,
        _Q193_NPROBE,
        _Q193_NQ,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (  # noqa: E501
        load_table,
    )

    for sf in (SF0001, SF001):
        emb = load_table(spark, sf, "embeddings")
        n_vecs = emb.where(F.col("embedding").isNotNull()).count()
        cand = (
            ivf_pq_topk(
                emb, "vec_id", "embedding", _Q193_DIM,
                _Q193_CK, _Q193_CI, _Q193_M, _Q193_K, _Q193_ITERS,
                _Q193_NPROBE, _Q193_NQ, topk=10**9,
            )
            .groupBy("query_id")
            .count()
            .collect()
        )
        assert len(cand) == _Q193_NQ, sf
        for r in cand:
            assert 0 < r["count"] < n_vecs, (sf, r)


def test_ivfpq_param_validation():
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        ivf_pq_topk,
    )

    with pytest.raises(ValueError, match="divide"):
        ivf_pq_topk(None, "vec_id", "embedding", 10, m=4)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_pq_topk(
            None, "vec_id", "embedding", 8, coarse_k=2, nprobe=3, m=2
        )
    with pytest.raises(ValueError):
        ivf_pq_topk(None, "vec_id", "embedding", 8, m=2, topk=0)


def test_ivfpq_no_python_no_cartesian_in_plan(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        ivf_pq_topk,
    )

    rows = [
        (i, [((i * 5 + j) % 11 - 5) / 10.0 for j in range(8)])
        for i in range(10)
    ]
    plan = (
        ivf_pq_topk(
            _df(spark, rows), "vec_id", "embedding", 8,
            coarse_k=2, coarse_iters=1, m=2, k=2, iters=1,
            nprobe=1, n_queries=1, topk=3,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # r17: the per-(query, sub) code assigns run through the Arrow
    # argmin kernel (guide §4.2) — vectorized only, never pickled rows
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def _ivfpq_model(
    rows, dim, coarse_k, coarse_iters, m, k, iters, nprobe, n_queries, topk
):
    """Pure-Python twin of ivf_pq_topk: the _pq_model machinery plus a
    coarse Lloyd loop over the FULL vectors, per-query top-nprobe list
    selection (d2 asc, cluster asc), and the list-restricted ADC."""
    import numpy as np

    q = {
        i: [
            math.floor(float(np.float32(x)) * _SCALE) + _SHIFT
            for x in v
        ]
        for i, v in rows
    }
    sub_d = dim // m

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    order = sorted(
        q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    queries = order[:n_queries]

    def lloyd(vecs, kk, it):
        cent = {c: list(vecs[i]) for c, i in enumerate(order[:kk])}

        def assign():
            return {
                i: min(cent, key=lambda c: (d2(vecs[i], cent[c]), c))
                for i in vecs
            }

        for _ in range(it):
            a = assign()
            for c in cent:
                members = [vecs[i] for i in vecs if a[i] == c]
                if members:
                    cent[c] = [
                        sum(col) // len(members) for col in zip(*members)
                    ]
        return cent, assign()

    cent_c, buckets = lloyd(q, coarse_k, coarse_iters)
    probed = {
        qi: {
            c
            for _, c in sorted(
                (d2(q[qi], cent_c[c]), c) for c in cent_c
            )[:nprobe]
        }
        for qi in queries
    }

    codes, cents = {}, {}
    for s in range(m):
        sq = {i: v[s * sub_d:(s + 1) * sub_d] for i, v in q.items()}
        cent, a = lloyd(sq, k, iters)
        for i in sq:
            codes[(i, s)] = a[i]
        for c in cent:
            cents[(s, c)] = cent[c]

    out, out_cand = {}, {}
    for qi in queries:
        cand = [i for i in q if buckets[i] in probed[qi]]
        scored = sorted(
            (
                sum(
                    d2(
                        q[qi][s * sub_d:(s + 1) * sub_d],
                        cents[(s, codes[(i, s)])],
                    )
                    for s in range(m)
                ),
                i,
            )
            for i in cand
        )
        out[qi] = {
            rank + 1: (i, buckets[i], dd)
            for rank, (dd, i) in enumerate(scored[:topk])
        }
        out_cand[qi] = len(cand)
    return out, out_cand


def test_ivfpq_equals_python_model(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        ivf_pq_topk,
    )

    rows = [
        (i, [((i * 7 + j * 3) % 19 - 9) / 10.0 for j in range(8)])
        for i in range(14)
    ]
    args = dict(coarse_k=3, coarse_iters=1, m=2, k=2, iters=1,
                nprobe=2, n_queries=2, topk=6)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.bucket, r.adc_d2)
        for r in ivf_pq_topk(
            _df(spark, rows), "vec_id", "embedding", 8, **args
        ).collect()
    }
    want, n_cand = _ivfpq_model(rows, 8, **args)
    assert got == {
        (qi, rank): trip
        for qi, ranks in want.items()
        for rank, trip in ranks.items()
    }
    # the restriction binds on this fixture: some vector is excluded
    # from some query's candidate set (counted pre-topk in the model)
    assert any(v < len(rows) for v in n_cand.values())
