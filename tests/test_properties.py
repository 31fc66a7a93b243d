"""Property-based tests (hypothesis): operator output vs pure-Python
reference models on randomized inputs.

The oracle gate checks fixed fixtures; these check the algebra itself —
arbitrary texts (unicode, empty, shorter-than-k) through the same
formulas a reviewer would write by hand.  Alphabets avoid the few
codepoints where JVM and Python simple case-mapping diverge (e.g.
U+0130), which would test the host libc, not the operator.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F  # noqa: F401  (parity with peers)

from live_market_data_orderflow_analysis_big_data_project__spark.operators.llmops import (
    jaccard_pairs,
    rolling_fingerprint,
    rolling_fingerprint_fast,
)

ALPHABET = "abcdefgh XY12,.éüñΩ"
K, BASE, MOD = 8, 31, 1_000_000_007


def _ref_fingerprint(text: str | None):
    if text is None:
        return (0, None, None, 0)
    t = text.lower()
    if len(t) < K:
        return (0, None, None, 0)
    hs = [
        sum(ord(t[i + j]) * BASE ** (K - 1 - j) for j in range(K)) % MOD
        for i in range(len(t) - K + 1)
    ]
    return (len(hs), min(hs), max(hs), len(set(hs)))


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet=ALPHABET, max_size=30), min_size=1, max_size=6))
def test_rolling_fingerprint_matches_reference_model(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    expected = {i: _ref_fingerprint(t) for i, t in enumerate(texts)}
    cols = ("n_grams", "fp_min", "fp_max", "n_distinct")
    for impl in (rolling_fingerprint, rolling_fingerprint_fast):
        got = {
            r["doc_id"]: tuple(r[c] for c in cols)
            for r in impl(df).collect()
        }
        assert got == expected


def _ref_jaccard_pairs(texts, threshold):
    toksets = {
        i: {w for w in re.split(r"\W+", t.lower(), flags=re.UNICODE) if w}
        for i, t in enumerate(texts)
    }
    out = {}
    ids = sorted(toksets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = toksets[ids[ai]], toksets[ids[bi]]
            if not a and not b:
                continue
            inter = len(a & b)
            union = len(a) + len(b) - inter
            if union and inter / union >= threshold:
                out[(ids[ai], ids[bi])] = inter / union
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab cd,ef.gh", min_size=1, max_size=25),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_pairs_matches_reference_model(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, threshold=0.3).collect()
    }
    assert got == _ref_jaccard_pairs(texts, 0.3)


def _ref_chunks(text: str, C: int, S: int):
    toks = [w for w in re.split(r"\W+", text.lower(), flags=re.UNICODE) if w]
    n = len(toks)
    if n == 0:
        return {}
    over = max(n - C, 0)
    n_chunks = 1 + over // S + (1 if over % S else 0)
    return {
        i: (len(toks[i * S : i * S + C]), " ".join(toks[i * S : i * S + C]))
        for i in range(n_chunks)
    }


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.text(alphabet="ab cd,ef.gh", max_size=80), min_size=1, max_size=5),
    st.integers(min_value=2, max_value=6),
    st.integers(min_value=1, max_value=5),
)
def test_chunk_documents_matches_reference_model(spark, texts, C, S):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        chunk_documents,
    )

    S = min(S, C)  # stride > chunk would skip tokens; the op is used with S <= C
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_tokens=C, stride=S).collect()
    }
    expected = {
        (i, ci): chunk
        for i, t in enumerate(texts)
        for ci, chunk in _ref_chunks(t, C, S).items()
    }
    assert got == expected


def _ref_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_dedup_clusters_matches_union_find(spark, edges):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        dedup_clusters,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(df).collect()}
    assert got == _ref_components(edges)


def _ref_quantize(vec):
    from decimal import ROUND_HALF_UP, Decimal

    sc = max(max(abs(x) for x in vec), 1e-12) / 127.0
    # Spark's round(double) goes BigDecimal.valueOf -> decimal repr of the
    # double -> HALF_UP; Decimal(repr(v)) mirrors that exactly.
    return [
        int(Decimal(repr(x / sc)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for x in vec
    ]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000).map(lambda k: k / 8.0),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_quantize_embeddings_matches_reference_model(spark, vecs):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["q"] for r in quantize_embeddings(df).collect()}
    assert got == {i: _ref_quantize(v) for i, v in enumerate(vecs)}
    assert all(-127 <= c <= 127 for q in got.values() for c in q)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=6),
        min_size=5,
        max_size=12,
    )
)
def test_incremental_dedup_is_equivalent_to_global_dedup(spark, texts):
    """The index-merge invariant: (already-indexed hashes) UNION
    (incremental survivors) == the global exact-dedup hash set, and the
    survivors' hashes never intersect the index.  Tiny alphabet forces
    genuine collisions both across the split and within the shard."""
    import hashlib

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        incremental_dedup,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_dedup(df).collect()

    mx = len(texts) - 1
    idx_hi, shard_lo = (mx * 4) // 5, (mx * 3) // 5
    index = {hashlib.md5(t.encode()).hexdigest()
             for i, t in rows if i < idx_hi}
    shard = [(i, hashlib.md5(t.encode()).hexdigest())
             for i, t in rows if i >= shard_lo]
    expect = {}
    for i, h in shard:
        if h in index:
            continue
        if h not in expect:
            expect[h] = [i, 0]
        expect[h][0] = min(expect[h][0], i)
        expect[h][1] += 1
    got = {r.text_hash: [r.kept_id, r.n_copies_in_shard] for r in out}
    assert got == expect
    assert not (set(got) & index)
    # union property: index + survivors covers every distinct text that
    # exists in corpus-or-shard
    all_hashes = index | {h for _, h in shard}
    assert index | set(got) == all_hashes


# --- round-8 staged operators vs brute-force reference models ---------------


def _ts(us: int):
    from datetime import datetime, timedelta

    return datetime(2024, 1, 1) + timedelta(microseconds=us)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 60)),
        min_size=1,
        max_size=24,
    )
)
def test_skyline_equals_brute_force_dominance(spark, pts):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.skyline import (  # noqa: E501
        skyline_2d,
    )

    rows = [("g", p, q) for p, q in pts]
    df = spark.createDataFrame(rows, "g string, price long, qty long")
    got = {
        (r["min_val"], r["max_val"]): r["n_rows"]
        for r in skyline_2d(df, ["g"], F.col("price"), F.col("qty")).collect()
    }
    import collections

    survivors = [
        a
        for a in pts
        if not any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in pts
        )
    ]
    expect = collections.Counter(survivors)
    assert got == dict(expect)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 300)),
        min_size=1,
        max_size=20,
    )
)
def test_coalesce_intervals_equals_brute_force_union(spark, spans):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.coalesce_intervals import (  # noqa: E501
        coalesce_intervals,
    )

    rows = [
        ("g", _ts(lo), _ts(lo + length), i)
        for i, (lo, length) in enumerate(spans)
    ]
    df = spark.createDataFrame(
        rows, "g string, lo timestamp, hi timestamp, id long"
    )
    r = coalesce_intervals(df, ["g"], "lo", "hi", "id").collect()[0]
    # brute-force reference: sort + merge (touching closed intervals
    # connect, so the merge condition is lo <= current max hi)
    ivs = sorted((lo, lo + length) for lo, length in spans)
    merged = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    assert r["n_episodes"] == len(merged)
    assert r["covered_us"] == sum(hi - lo for lo, hi in merged)
    assert r["sum_span_us"] == sum(length for _, length in spans)
    assert r["n_intervals"] == len(spans)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(-500, 500), min_size=1, max_size=60))
def test_clamped_balance_equals_literal_fold(spark, xs):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.balance import (  # noqa: E501
        clamped_balance,
    )

    rows = [("g", _ts(i * 1000), i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "g string, ts timestamp, id long, x long"
    )
    r = clamped_balance(df, "g", "ts", F.col("x"), "id").collect()[0]
    s, peak, clamps = 0, 0, 0
    for x in xs:
        if s + x < 0:
            clamps += 1
            s = 0
        else:
            s += x
        peak = max(peak, s)
    assert (r["final_balance"], r["peak_balance"], r["n_clamped"]) == (
        s,
        peak,
        clamps,
    )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(0, 5000), min_size=1, max_size=40),
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 2000)),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([1, 2, 7]),  # bin width in seconds over a µs domain
)
def test_range_count_binned_equals_brute_force(spark, points, spans, bin_s):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.rangejoin import (  # noqa: E501
        range_count_binned,
    )

    # scale offsets to µs so intervals straddle multiple bins
    p = spark.createDataFrame(
        [(_ts(x * 500_000),) for x in points], "p_ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            (i, _ts(lo * 500_000), _ts((lo + length) * 500_000))
            for i, (lo, length) in enumerate(spans)
        ],
        "iv_id long, lo timestamp, hi timestamp",
    )
    got = {
        r["iv_id"]: r["n_in_range"]
        for r in range_count_binned(p, iv, "p_ts", "lo", "hi", bin_s).collect()
    }
    expect = {
        i: sum(1 for x in points if lo <= x <= lo + length)
        for i, (lo, length) in enumerate(spans)
    }
    assert got == expect


# --- round-10 staged operators vs pure-Python models ------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=10,
    ),
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([1, 3, 11]),  # bin seconds over a µs-scaled domain
)
def test_interval_overlap_binned_equals_brute_force(spark, ls, rs, bin_s):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.overlapjoin import (  # noqa: E501
        interval_overlap_binned,
    )

    sc = 700_000  # µs per unit: intervals straddle bins at every width
    left = spark.createDataFrame(
        [(i, _ts(lo * sc), _ts((lo + ln) * sc)) for i, (lo, ln) in enumerate(ls)],
        "id long, lo timestamp, hi timestamp",
    )
    right = spark.createDataFrame(
        [(i, _ts(lo * sc), _ts((lo + ln) * sc)) for i, (lo, ln) in enumerate(rs)],
        "id long, lo timestamp, hi timestamp",
    )
    got = {
        (r.l_id, r.r_id): r.overlap_us
        for r in interval_overlap_binned(
            left, right, bin_seconds=bin_s
        ).collect()
    }
    expect = {}
    for i, (alo, aln) in enumerate(ls):
        for j, (blo, bln) in enumerate(rs):
            if alo <= blo + bln and blo <= alo + aln:
                expect[(i, j)] = (
                    min(alo + aln, blo + bln) - max(alo, blo)
                ) * sc
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ).map(lambda ps: [(a, b) for a, b in ps if a != b]),
    st.integers(1, 4),
    st.integers(1, 4),
)
def test_kcore_peel_equals_python_peeling(spark, pairs, k, rounds):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.kcore import (  # noqa: E501
        kcore_peel,
    )

    if not pairs:
        return
    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    cur = set(edges)
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    fdeg: dict[int, int] = {}
    for a, b in cur:
        fdeg[a] = fdeg.get(a, 0) + 1
        fdeg[b] = fdeg.get(b, 0) + 1
    got = {
        r.node: (r.in_core, r.core_deg)
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    want = {
        n: (n in fdeg, fdeg.get(n, 0)) for e in edges for n in e
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde ", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([(1, 2), (3, 5), (1, 1)]),
)
def test_setsim_join_equals_naive_token_jaccard(spark, texts, t):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.setjoin import (  # noqa: E501
        setsim_join,
    )

    t_num, t_den = t
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {
        d: {w for w in re.split(r"\W+", txt.lower()) if w}
        for d, txt in docs
    }
    want = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter * t_den >= t_num * union:
                    want[(a, b)] = inter
    got = {
        (r.doc_a, r.doc_b): r.n_inter
        for r in setsim_join(df, t_num, t_den).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r11-staged operators: quantile summary + weighted ticket race
# ---------------------------------------------------------------------------

@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from(["b0", "b1", "b2"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=7),
)
def test_spaced_summary_read_within_bound(spark, rows, k):
    """For ANY input and any k: per-bucket summaries hold <= k rows
    with weights summing to n_b, and the merged read's exact rank
    distance from the target is <= SUM_b(ceil(n_b/k) - 1) — the merge
    theorem on arbitrary data, not the fixture."""
    import math
    from collections import Counter

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.quantsketch import (  # noqa: E501
        quantile_report,
        spaced_summary,
        value_histogram,
    )

    df = spark.createDataFrame(rows, "g string, b string, v long")
    hist = value_histogram(df, ["g"], "b", "v")
    summ = spaced_summary(hist, ["g"], "b", "v", k)
    n_b = Counter((g, b) for g, b, _ in rows)
    per_bucket = {
        (r.g, r.b): (r.c, r.w)
        for r in summ.groupBy("g", "b")
        .agg(F.count("*").alias("c"), F.sum("weight").alias("w"))
        .collect()
    }
    assert set(per_bucket) == set(n_b)
    for key, (c, w) in per_bucket.items():
        assert c <= k and w == n_b[key], key
    qs = {"p50": (1, 2), "p90": (9, 10)}
    rep = quantile_report(hist, summ, ["g"], "b", "v", k, qs)
    for r in rep.collect():
        want_bound = sum(
            math.ceil(n / k) - 1 for (g, _), n in n_b.items() if g == r.g
        )
        assert r.err_bound == want_bound, r.g
        for name in qs:
            assert r[f"err_{name}"] <= r.err_bound, (r.g, name)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=-2, max_value=6),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=1, max_value=5),
)
def test_weighted_race_matches_model_on_arbitrary_inputs(spark, rows, n):
    """weighted_sample_race == the pure-Python min-of-w-md5 model on
    arbitrary (stratum, id, weight) inputs, including non-positive
    weights (excluded) and strata smaller than n."""
    import hashlib
    from collections import defaultdict

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.sampling import (  # noqa: E501
        weighted_sample_race,
    )

    df = spark.createDataFrame(rows, "g string, id long, w long")
    got = {
        (r.g, r.id): (r.weight, r.rank)
        for r in weighted_sample_race(df, ["g"], "w", n, "id").collect()
    }
    per = defaultdict(list)
    for g, i, w in rows:
        if w > 0:
            mk = min(
                hashlib.md5(f"{i}:{t}".encode()).hexdigest()
                for t in range(1, w + 1)
            )
            per[g].append((mk, i, w))
    want = {}
    for g, items in per.items():
        for rank, (mk, i, w) in enumerate(sorted(items), start=1):
            if rank <= n:
                want[(g, i)] = (w, rank)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(-1000, 1000).map(lambda v: v / 1000.0),
            min_size=2, max_size=2,
        ),
        min_size=1, max_size=12,
    ),
    st.integers(1, 3),
    st.integers(0, 2),
)
def test_kmeans_equals_python_model_on_arbitrary_points(spark, vecs, k, iters):
    """kmeans_quantized == the pure-Python Lloyd model (float32
    round-trip, md5 seeding, argmin tie-break, floor-mean update,
    empty-cluster carry) on arbitrary 2-D point sets."""
    from test_cluster import _model

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.cluster import (  # noqa: E501
        kmeans_quantized,
    )

    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    if len(rows) < k:
        # fewer vectors than seeds is a CONTRACT violation: the
        # operator's under-fill guard must raise loudly (silently
        # under-filled codebooks were the r12 ADVICE class)
        with pytest.raises(ValueError, match="distinct vectors for"):
            kmeans_quantized(df, "vec_id", "embedding", k, iters)
        return
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_quantized(
            df, "vec_id", "embedding", k, iters
        ).collect()
    }
    assert got == _model(rows, k, iters)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),            # user
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(0, 500),          # microsecond offset (collisions likely)
        ),
        min_size=1, max_size=25,
    ),
    st.integers(1, 300),                  # lookback seconds
)
def test_attribution_equals_brute_force(spark, events, lookback_s):
    """touch_attribution == the naive inequality-join model on
    arbitrary event tapes with heavy timestamp collisions."""
    import datetime as dt

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.attribution import (  # noqa: E501
        touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, i, ty, t0 + dt.timedelta(seconds=s))
        for i, (u, ty, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = {
        r.conv_id: (r.last_channel, r.last_gap_s,
                    r.first_channel, r.first_gap_s)
        for r in touch_attribution(
            df, "user_id", "ts", "event_type", "event_id",
            ("view", "click"), "purchase", lookback_s,
        ).collect()
    }

    want = {}
    tape = [(u, i, ty, s) for i, (u, ty, s) in enumerate(events)]
    for (u, i, ty, s) in tape:
        if ty != "purchase":
            continue
        cand = [
            (s2, i2, ty2)
            for (u2, i2, ty2, s2) in tape
            if u2 == u and ty2 in ("view", "click")
            and s2 < s and s2 >= s - lookback_s
        ]
        if cand:
            ls, li, lch = max(cand)
            fs, fi, fch = min(cand)
            want[i] = (lch, s - ls, fch, s - fs)
        else:
            want[i] = (None, None, None, None)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(-10_000, 10_000)),
        min_size=1, max_size=30,
    )
)
def test_group_trend_matches_fraction_arithmetic(spark, pts):
    """group_trend's slope/intercept == one IEEE division of the exact
    Fraction numerator/denominator on arbitrary integer series."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.stats import (  # noqa: E501
        group_trend,
    )

    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x long, y long"
    )
    out = group_trend(df, "g", "x", "y").collect()[0]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    assert out.n == n and out.sum_x == sx and out.sum_y == sy
    if den == 0:
        assert out.slope is None and out.intercept is None
    else:
        assert out.slope == (n * sxy - sx * sy) / den
        assert out.intercept == (sy * sxx - sx * sxy) / den


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 30), st.integers(-10_000, 10_000),
        min_size=1, max_size=25,
    ),
    st.integers(1, 4),
)
def test_autocorr_matches_python_model(spark, series, lag):
    """autocorr_lags on an arbitrary SPARSE integer series == the
    hand model: index-aligned pairs, exact moments, one fixed IEEE
    expression (bit-equal, not approx)."""
    import math

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.stats import (  # noqa: E501
        autocorr_lags,
    )

    df = spark.createDataFrame(
        [("g", i, x) for i, x in series.items()], "k string, i long, x long"
    )
    rows = autocorr_lags(df, "k", "i", "x", (lag,)).collect()
    pairs = [
        (series[i], series[i + lag]) for i in series if i + lag in series
    ]
    if not pairs:
        assert rows == []
        return
    (r,) = rows
    n = len(pairs)
    sx = sum(p[0] for p in pairs)
    sy = sum(p[1] for p in pairs)
    assert (r.n_pairs, r.sum_x, r.sum_y) == (n, sx, sy)
    sxy = float(sum(p[0] * p[1] for p in pairs))
    sxx = float(sum(p[0] * p[0] for p in pairs))
    syy = float(sum(p[1] * p[1] for p in pairs))
    nf, sxf, syf = float(n), float(sx), float(sy)
    varx = nf * sxx - sxf * sxf
    vary = nf * syy - syf * syf
    if varx > 0 and vary > 0:
        assert r.corr == (nf * sxy - sxf * syf) / math.sqrt(varx * vary)
    else:
        assert r.corr is None


def _bpe_model_merge(arr, left, right):
    """The pinned single-pass replace semantics on a symbol array:
    left-to-right, a merge consumes the boundary that would start a
    match at the IMMEDIATELY following position."""
    out, i, blocked = [], 0, -1
    while i < len(arr):
        if (
            i + 1 < len(arr)
            and arr[i] == left
            and arr[i + 1] == right
            and i != blocked
        ):
            out.append(left + right)
            blocked = i + 2
            i += 2
        else:
            out.append(arr[i])
            i += 1
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=5),
        min_size=1, max_size=15,
    ),
    st.integers(1, 3),
)
def test_bpe_matches_python_model(spark, words, k):
    """bpe_merges on arbitrary corpora == the pure-python trainer:
    overlap-counted pair frequencies, (freq desc, l, r) argmax, and
    the exact single-pass merge model above."""
    import collections

    import pytest as _pytest

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.bpe import (  # noqa: E501
        bpe_merges,
    )

    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    wc = collections.Counter(words)
    state = {w: list(w) for w in wc}
    want_merges = []
    exhausted = False
    for rank in range(1, k + 1):
        pc: collections.Counter = collections.Counter()
        for w, arr in state.items():
            for j in range(len(arr) - 1):
                pc[(arr[j], arr[j + 1])] += wc[w]
        if not pc:
            exhausted = True
            break
        (left, right), freq = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want_merges.append((rank, f"{left} {right}", freq))
        state = {
            w: _bpe_model_merge(arr, left, right)
            for w, arr in state.items()
        }
    if exhausted:
        with _pytest.raises(ValueError, match="exhausted"):
            bpe_merges(docs, k, 20).collect()
        return
    out = bpe_merges(docs, k, 20).collect()
    got_merges = sorted(
        (r.rank, r.token, r.freq) for r in out if r.kind == "merge"
    )
    assert got_merges == want_merges
    vocab: collections.Counter = collections.Counter()
    for w, arr in state.items():
        for s in arr:
            vocab[s] += wc[w]
    want_top = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got_top = sorted(
        ((r.rank, r.token, r.freq) for r in out if r.kind == "symbol")
    )
    assert [(t, f) for _, t, f in got_top] == want_top


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),            # day
            st.integers(0, 86_399),       # second of day
            st.integers(1, 50_000),       # cents (positive: ln domain)
            st.integers(1, 9),            # qty
        ),
        min_size=1, max_size=25,
    )
)
def test_vwap_rv_matches_python_model(spark, ticks):
    """vwap_realized_vol on arbitrary tick tapes == the hand model:
    exact Fraction VWAP (bit-equal), RV from math.log over the same
    (ts, id) total order (ROUND-4 tolerance, the ln rule)."""
    import datetime as dt
    import math
    from fractions import Fraction

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.twap import (  # noqa: E501
        vwap_realized_vol,
    )

    rows = [
        (
            i,
            dt.datetime(2024, 1, day, 0, 0, 0)
            + dt.timedelta(seconds=sec),
            c,
            q,
        )
        for i, (day, sec, c, q) in enumerate(ticks)
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, c long, q long"
    ).withColumn("k", F.lit("X"))
    got = {
        r.day: r
        for r in vwap_realized_vol(
            df, ["k"], "ts", F.col("c"), F.col("q"), "id"
        ).collect()
    }
    by_day: dict = {}
    for i, ts, c, q in rows:
        by_day.setdefault(ts.date(), []).append((ts, i, c, q))
    assert set(got) == {d.strftime("%Y-%m-%d") for d in by_day}
    for d, tape in by_day.items():
        tape.sort()  # (ts, id) total order
        r = got[d.strftime("%Y-%m-%d")]
        num = sum(c * q for _, _, c, q in tape)
        den = sum(q for _, _, _, q in tape)
        assert r.n_ticks == len(tape)
        assert r.sum_qty == den and r.sum_qty_cents == num
        assert r.vwap_cents == float(Fraction(num, den))
        lrs = [
            math.log(tape[i][2] / tape[i - 1][2])
            for i in range(1, len(tape))
        ]
        assert r.n_returns == len(lrs)
        if lrs:
            assert abs(
                r.rv4 - round(math.sqrt(sum(x * x for x in lrs)), 4)
            ) <= 1e-4  # last-ulp ln differences can flip the ROUND
        else:
            assert r.rv4 is None


@settings(max_examples=5, deadline=None)
@given(
    st.integers(3, 20),
    st.lists(st.tuples(st.integers(0, 19), st.integers(0, 19)),
             max_size=12),
)
def test_cluster_safe_split_matches_python_model(spark, n_docs, edges):
    """cluster_safe_split on arbitrary edge sets == the hand model:
    union-find components, min-id rep, md5-of-rep-text split; every
    cluster lands atomically in one split."""
    import hashlib

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (  # noqa: E501
        cluster_safe_split,
    )

    docs = [(i, f"text body number {i}") for i in range(n_docs)]
    edges = [(a % n_docs, b % n_docs) for a, b in edges]
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in range(n_docs)}
    # normalize: rep = min doc id of the component
    groups: dict = {}
    for i, r in comp.items():
        groups.setdefault(r, []).append(i)
    rep = {i: min(groups[r]) for r, ms in groups.items() for i in ms
           for r in [comp[i]]}

    def split_of(text):
        h = hashlib.md5(text.encode()).hexdigest()[:2]
        return "val" if h < "0a" else "test" if h < "14" else "train"

    want = {
        i: (rep[i], split_of(docs[rep[i]][1])) for i in range(n_docs)
    }
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    cdf = spark.createDataFrame(
        [(i, rep[i]) for i in range(n_docs) if rep[i] != i],
        "doc_id long, cluster_id long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.split)
        for r in cluster_safe_split(ddf, cdf).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(-5_000, 5_000)),
        min_size=1, max_size=30,
    ),
    st.integers(1, 4),
)
def test_seasonal_outliers_matches_python_model(spark, pts, k):
    """seasonal_outliers on arbitrary (season, value) frames == the
    hand model: per-season lower median by (value, id) rank, lower
    MAD, strict k-MAD flags."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.robust import (  # noqa: E501
        seasonal_outliers,
    )

    rows = [("g", s, i, x) for i, (s, x) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "g string, season long, id long, x long"
    )
    got = {
        r.id: (r.med_x, r.mad_x, r.dev_x, r.is_outlier)
        for r in seasonal_outliers(
            df, ["g"], "season", "x", "id", k
        ).collect()
    }

    def lower_med(vals):
        # lower median of (value, id)-ordered list
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1][0]

    by_season: dict = {}
    for i, (s, x) in enumerate(pts):
        by_season.setdefault(s, []).append((x, i))
    want = {}
    for s, members in by_season.items():
        med = lower_med(members)
        devs = [(abs(x - med), i) for x, i in members]
        mad = lower_med(devs)
        for x, i in members:
            dv = abs(x - med)
            want[i] = (med, mad, dv, dv > k * mad)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(1, 9)),
        st.integers(-500, 500),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 5),
)
def test_cusum_series_equals_hand_clamp_loop(spark, daily, h):
    """cusum_daily_series == the literal per-day Lindley clamp loop on
    arbitrary (group, day, total) frames — reference-day medians/MADs
    by explicit lower-median selection, groups with no pre-split rows
    surfacing NULLs (split fixed at day 5)."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.monitor import (  # noqa: E501
        cusum_daily_series,
    )

    split = "2024-01-05"
    rows = [
        (g, f"2024-01-0{d}", x) for (g, d), x in sorted(daily.items())
    ]
    df = spark.createDataFrame(rows, "g string, day string, total long")
    got = {
        (r.g, r.day): (r.day_total, r.med_ref, r.mad_ref, r.dev,
                       r.cusum, r.is_alarm)
        for r in cusum_daily_series(
            df, ["g"], "day", "total", split, h_mult=h
        ).collect()
    }

    def lower_med(pairs):  # (value, tiebreak) total order
        return sorted(pairs)[(len(pairs) + 1) // 2 - 1][0]

    want = {}
    for g in {g for g, _ in daily}:
        ref = [(x, d) for (gg, d), x in daily.items()
               if gg == g and f"2024-01-0{d}" < split]
        cur = sorted(
            (f"2024-01-0{d}", x) for (gg, d), x in daily.items()
            if gg == g and f"2024-01-0{d}" >= split
        )
        if not cur:
            continue
        if not ref:
            for day, x in cur:
                want[(g, day)] = (x, None, None, None, None, None)
            continue
        med = lower_med(ref)
        mad = lower_med([(abs(x - med), d) for x, d in ref])
        prefix, floor = 0, 0
        for day, x in cur:
            dev = x - med - mad
            prefix += dev
            floor = min(floor, prefix)
            s = prefix - min(floor, 0)
            want[(g, day)] = (x, med, mad, dev, s, s > h * mad)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c.\n\réü ", max_size=25),
        min_size=1,
        max_size=6,
    ),
    st.integers(100_000, 900_000),
)
def test_char_entropy_matches_reference_model(spark, texts, thr):
    """char_entropy_stats == the Counter/ln hand model on arbitrary
    terminator-bearing unicode texts (the test_textstats model,
    Decimal-HALF_UP rounding mirror included)."""
    from test_textstats import _model

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.textstats import (  # noqa: E501
        char_entropy_stats,
    )

    tmap = dict(enumerate(texts))
    df = spark.createDataFrame(
        list(tmap.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_chars, r.n_distinct, r.top_char, r.top_cnt,
                   r.top_share_ppm, r.entropy4, r.is_low_quality)
        for r in char_entropy_stats(df, "doc_id", "text", thr).collect()
    }
    assert got == _model(tmap, thr)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(-1000, 1000).map(lambda v: v / 1000.0),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=10,
    ),
    st.integers(1, 12),
)
def test_bit_lsh_equals_python_model_on_arbitrary_vectors(
    spark, vecs, n_planes
):
    """bit_lsh_topk == the pure-Python signature/Hamming/rerank model
    (test_bitlsh._model) on arbitrary 4-D point sets and plane
    counts."""
    from test_bitlsh import _model

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.bitlsh import (  # noqa: E501
        bit_lsh_topk,
    )

    vmap = dict(enumerate(vecs))
    df = spark.createDataFrame(
        list(vmap.items()), "vec_id long, embedding array<double>"
    )
    # the r15 vacuous-cut guard requires n_candidates < corpus (a
    # non-binding Hamming cut raises rather than silently brute-forcing)
    n_cand = min(len(vecs) - 1, 4)
    topk = min(2, n_cand)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.hamming, r.d2)
        for r in bit_lsh_topk(
            df, "vec_id", "embedding", 4, n_planes, n_cand, 1, topk
        ).collect()
    }
    assert got == _model(vmap, 4, n_planes, n_cand, 1, topk)


@settings(max_examples=5, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(1, 5), st.integers(1, 12)),  # (user, day)
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 7),
)
def test_rolling_active_from_pairs_equals_trailing_window_model(
    spark, pairs, w
):
    """rolling_active_from_pairs (the s25 read) == the naive per-day
    trailing-window distinct count on arbitrary sparse (user, day)
    activity sets — the contribution-explode rewrite vs the
    formulation it replaces."""
    import datetime as dt

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.rolling import (  # noqa: E501
        rolling_active_from_pairs,
    )

    rows = [
        (u, dt.date(2024, 1, d)) for u, d in sorted(pairs)
    ]
    df = spark.createDataFrame(rows, "user_id long, d date")
    got = {
        r.day: (r.dau, r.wau)
        for r in rolling_active_from_pairs(df, "user_id", "d", w)
        .collect()
    }
    want = {}
    days = sorted({d for _, d in pairs})
    for d in days:
        dau = len({u for u, dd in pairs if dd == d})
        wau = len({u for u, dd in pairs if d - w < dd <= d})
        want[f"2024-01-{d:02d}"] = (dau, wau)
    assert got == want
