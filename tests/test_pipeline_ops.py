"""Unit tests for operators/pipeline.py — corpus-curation operators.

Each test builds a tiny inline frame with a hand-computable answer, so
the semantics are pinned independently of the DuckDB oracle twins
(queries/pblock.py) that gate the same operators on the fixture tables.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
    decontaminate,
    dedup_clusters,
    embedding_centroids,
    epoch_shuffle,
    hash_sample,
    pack_shards,
    quality_classifier_score,
    repetition_stats,
    chunk_documents,
    quantize_embeddings,
    scrub_pii,
    semdedup,
    source_mixture_sample,
    span_dedup_stats,
    split_assign,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_shared_ngrams(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "totally unrelated words here nothing shared at all"),
        ],
    )
    eval_set = _docs(spark, [(100, "quick brown fox jumps over me")])
    out = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in decontaminate(corpus, eval_set, n=5).collect()
    }
    # doc 1 shares exactly one 5-gram: "quick brown fox jumps over"
    assert out == {1: 1}


def test_hash_sample_deterministic_and_exact(spark):
    df = _docs(spark, [(i, f"document number {i}") for i in range(50)])
    got = sorted(r["doc_id"] for r in hash_sample(df, "40000000").collect())
    want = sorted(
        i
        for i in range(50)
        if hashlib.md5(f"document number {i}".encode()).hexdigest()[:8]
        < "40000000"
    )
    assert got == want and 0 < len(got) < 50
    # re-running yields the identical membership (content-pure, no RNG)
    assert got == sorted(r["doc_id"] for r in hash_sample(df, "40000000").collect())


def test_pack_shards_prefix_sum(spark):
    df = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", "d e"), (3, "s", "f g h i"), (4, "t", "x")],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in pack_shards(df, budget_tokens=4).collect()}
    # source s: tokens 3,2,4 -> before 0,3,5 -> shards 0,0,1
    assert [out[i]["shard_id"] for i in (1, 2, 3)] == [0, 0, 1]
    assert out[4]["shard_id"] == 0  # fresh prefix sum per source
    assert out[3]["n_tokens"] == 4


def test_repetition_stats_flags_degenerate_doc(spark):
    df = _docs(
        spark,
        [(1, "spam spam spam spam ham"), (2, "all words are different here")],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, 0.5).collect()}
    assert out[1]["n_tokens"] == 5 and out[1]["n_types"] == 2
    assert out[1]["top_token_frac"] == 0.8 and out[1]["dup_ratio"] == 0.6
    assert out[1]["repetitive"] == 1
    assert out[2]["dup_ratio"] == 0.0 and out[2]["repetitive"] == 0


def test_scrub_pii_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org, call 555-1234 ok"),
            (2, "no pii here, 555-12345 is not a fixture phone"),
        ],
        "doc_id long, contact_text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["scrubbed"] == "mail <EMAIL> and <EMAIL>, call <PHONE> ok"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (2, 1)
    # \b keeps 555-12345 unmatched (trailing digit breaks the boundary)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert out[2]["scrubbed"] == "no pii here, 555-12345 is not a fixture phone"


def test_dedup_clusters_transitive_chain(spark):
    # chain 1-2-3 plus pair 10-11: min-label must propagate transitively
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_hand_components(spark):
    # chain + triangle + pair, with duplicate, reversed and self edges
    # tolerated; a self-loop's node exists, alone
    pairs = (
        [(i, i + 1) for i in range(5)]
        + [(200, 201), (201, 202), (202, 200)]
        + [(300, 301), (301, 300), (300, 301), (7, 7)]
    )
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(edges).collect()}
    assert out == (
        {i: 0 for i in range(6)}
        | {200: 200, 201: 200, 202: 200, 300: 300, 301: 300, 7: 7}
    )


def test_dedup_clusters_long_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(edges).collect()}
    assert out == {i: 0 for i in range(10)}


def test_dedup_clusters_diameter_100_chain_raises(spark):
    # a diameter-100 path needs ~100 rounds: the default 15-round budget
    # raises instead of returning a partial labeling
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="no fixpoint"):
        dedup_clusters(chain)


def test_dedup_clusters_nonconvergence_raises_loudly(spark):
    # the 0-...-9 path converges at the default budget but not in one round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="max_iters=1 rounds"):
        dedup_clusters(edges, max_iters=1)


def test_stratified_sample_quota_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", f"text {i}") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    out = stratified_sample(df, per_stratum=5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_lang.values()) == [5, 5]
    # membership is the 5 smallest md5 keys per stratum
    for lang, ids in by_lang.items():
        pool = [i for i in range(40) if ("en" if i % 2 else "fr") == lang]
        want = sorted(
            pool, key=lambda i: hashlib.md5(f"text {i}".encode()).hexdigest()[:8]
        )[:5]
        assert sorted(ids) == sorted(want)


def test_embedding_centroids_elementwise_mean(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, 20.0])],
        "label int, embedding array<float>",
    )
    out = {
        (r["label"], r["dim"]): r["centroid"]
        for r in embedding_centroids(df).collect()
    }
    assert out == {(0, 0): 2.0, (0, 1): 4.0, (1, 0): 10.0, (1, 1): 20.0}


def test_split_assign_disjoint_exhaustive(spark):
    df = _docs(spark, [(i, f"doc body {i}") for i in range(100)])
    out = split_assign(df).collect()
    assert len(out) == 100  # exhaustive: every doc gets exactly one split
    for r in out:
        want = (
            "val"
            if r["split_key"] < "0a"
            else "test" if r["split_key"] < "14" else "train"
        )
        assert r["split"] == want
    # rerun-stable (content-pure)
    again = {r["doc_id"]: r["split"] for r in split_assign(df).collect()}
    assert again == {r["doc_id"]: r["split"] for r in out}


def test_chunk_documents_coverage_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(80))  # 80 tokens
    df = _docs(spark, [(1, words), (2, "tiny doc")])
    out = [
        r
        for r in chunk_documents(df, chunk_tokens=32, stride=24).collect()
        if r["doc_id"] == 1
    ]
    # n_chunks = 1 + ceil((80-32)/24) = 3; last chunk is full (tokens 48..79)
    assert sorted(r["chunk_idx"] for r in out) == [0, 1, 2]
    by_idx = {r["chunk_idx"]: r for r in out}
    assert by_idx[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert by_idx[1]["chunk_text"].split()[0] == "w24"  # stride 24
    assert by_idx[2]["chunk_text"].split()[-1] == "w79"  # covers the tail
    assert [by_idx[i]["n_chunk_tokens"] for i in (0, 1, 2)] == [32, 32, 32]
    # short doc: one (short) chunk
    small = [
        r
        for r in chunk_documents(df, chunk_tokens=32, stride=24).collect()
        if r["doc_id"] == 2
    ]
    assert len(small) == 1 and small[0]["n_chunk_tokens"] == 2


def test_quantize_embeddings_codes_and_scale(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 254.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale = max|x|/127 = 2/127; codes = round(x*127/2)
    assert out[1]["q"] == [64, -127, 32]
    assert abs(out[1]["scale"] - round(2.0 / 127, 6)) < 1e-9
    assert out[2]["q"] == [0, 0, 127] and out[2]["scale"] == 2.0
    assert all(-127 <= c <= 127 for r in out.values() for c in r["q"])


def test_bm25_ranks_and_scores(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        bm25_search,
    )
    import math

    df = _docs(
        spark,
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry cherry"),
        ],
    )
    rows = bm25_search(df, ["apple", "banana"], top_k=10).collect()
    # doc 3 has no query term; docs rank 1 (2 hits) then 2
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert [r["n_hit_terms"] for r in rows] == [2, 1]

    def idf(df_t, n=3):
        return math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))

    def norm(tf, dl, avgdl=3.0, k1=1.2, b=0.75):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    want1 = round(idf(1) * norm(2, 3) + idf(2) * norm(1, 3), 4)
    want2 = round(idf(2) * norm(1, 2), 4)
    assert rows[0]["score"] == pytest.approx(want1, abs=1e-4)
    assert rows[1]["score"] == pytest.approx(want2, abs=1e-4)


def test_unigram_nll_matches_hand_model(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        unigram_nll_score,
    )
    import math

    df = _docs(spark, [(1, "a a b"), (2, "b c")])
    out = {r["doc_id"]: r for r in unigram_nll_score(df).collect()}
    # counts: a=2 b=2 c=1, total=5
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[1]["avg_nll"] == pytest.approx(-math.log(0.4), abs=1e-4)
    assert out[2]["avg_nll"] == pytest.approx(
        -(math.log(0.4) + math.log(0.2)) / 2, abs=1e-4
    )


def test_collapse_clusters_keep_list(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        collapse_clusters,
    )

    docs = _docs(spark, [(i, f"doc {i}") for i in range(1, 6)])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_kept"])
        for r in collapse_clusters(docs, dedup_clusters(edges)).collect()
    }
    # 1-2-3 collapse to cluster 1 (min id kept); 4 and 5 are singletons
    assert out == {
        1: (1, 1),
        2: (1, 0),
        3: (1, 0),
        4: (4, 1),
        5: (5, 1),
    }


def test_span_dedup_flags_mirrored_doc(spark):
    # docs 1 and 2 are token-identical (all spans shared); doc 3 unique
    base = " ".join(f"tok{i}" for i in range(16))  # 16 tokens = 2 spans
    df = _docs(spark, [(1, base), (2, base), (3, "only unique words live here")])
    out = {
        r["doc_id"]: (
            r["n_spans"], r["n_dup_spans"], r["dup_span_frac"], r["flagged"]
        )
        for r in span_dedup_stats(df, span_tokens=8).collect()
    }
    assert out[1] == (2, 2, 1.0, 1)
    assert out[2] == (2, 2, 1.0, 1)
    assert out[3] == (1, 0, 0.0, 0)


def test_semdedup_kernel_matches_hof_fold(spark):
    """The r16 Arrow pair kernel must reproduce the former expression
    fold BIT-EXACTLY (pre-round doubles, not a tolerance): sequential
    cumsum order, exact float->double widening, IEEE sqrt/divide.
    Recomputes every stripe's pair sims with the F.aggregate fold and
    compares unrounded doubles for equality on the sf0.01 fixture."""
    from pyspark.sql import Window

    from live_market_data_orderflow_analysis_big_data_project__spark.functions.vectors import (  # noqa: E501
        dot,
        l2_norm,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (  # noqa: E501
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    striped = emb.withColumn(
        "__sub", ((F.row_number().over(w) - F.lit(1)) / F.lit(512)).cast("int")
    )
    a = striped.select(
        F.col("label").alias("l"), "__sub",
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    b = striped.select(
        F.col("label").alias("l"), "__sub",
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    fold_stats = (
        a.join(b.hint("merge"), ["l", "__sub"])
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ib",
            F.round(
                dot("va", "vb") / (F.col("na") * F.col("nb")), 4
            ).alias("sim"),
        )
        .groupBy("ib")
        .agg(
            F.sum(F.when(F.col("sim") >= 0.35, 1).otherwise(0))
            .cast("long").alias("n_close_earlier"),
            F.max("sim").alias("max_cos_earlier"),
        )
    )
    want = {
        r["ib"]: (r["n_close_earlier"], r["max_cos_earlier"])
        for r in fold_stats.collect()
    }
    got = {
        r["vec_id"]: (r["n_close_earlier"], r["max_cos_earlier"])
        for r in semdedup(emb, threshold=0.35, max_cluster=512).collect()
        if r["max_cos_earlier"] is not None
    }
    assert got == want


def test_semdedup_keeps_first_of_duplicate_chain(spark):
    emb = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (1, 0, [1.0, 0.0]),   # duplicate of vec 0 (cos = 1)
            (2, 0, [0.0, 1.0]),   # orthogonal -> kept
            (3, 1, [1.0, 0.0]),   # alone in its cluster -> kept
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["n_close_earlier"], r["max_cos_earlier"], r["is_kept"])
        for r in semdedup(emb, threshold=0.9).collect()
    }
    assert out[0] == (0, None, 1)      # first member: no earlier
    assert out[1] == (1, 1.0, 0)      # dup of 0 -> dropped
    assert out[2][0] == 0 and out[2][2] == 1
    assert out[3] == (0, None, 1)


def test_source_mixture_matches_hand_formula(spark):
    rows = [(i, f"text number {i}", "alpha" if i < 8 else "beta")
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in source_mixture_sample(df).collect()}

    hexd = "0123456789abcdef"
    w = {s: hexd.index(hashlib.md5(s.encode()).hexdigest()[0]) + 1
         for s in ("alpha", "beta")}
    n = {"alpha": 8, "beta": 2}
    wt, nt = sum(w.values()), 10
    for i, text, src in rows:
        frac = min(1.0, (w[src] / wt) * (nt / n[src]))
        assert out[i]["sample_frac"] == round(frac, 4)
        key = hashlib.md5(text.encode()).hexdigest()[:8]
        want = 1 if frac >= 1.0 or key < format(int(frac * 2**32), "08x") else 0
        assert out[i]["is_kept"] == want, (i, src, frac, key)


def test_quality_classifier_single_token_doc(spark):
    df = _docs(spark, [(1, "hello hello hello")])
    [r] = quality_classifier_score(df).collect()
    i = int(hashlib.md5(b"hello").hexdigest()[:2], 16)
    w = ((i * 37) % 101 - 50) / 64.0
    assert r["n_tokens"] == 3
    assert r["score"] == round(w, 4)
    assert r["prob"] == round(1.0 / (1.0 + math.exp(-w)), 4)
    assert r["label"] == (1 if w > 0 else 0)


def test_epoch_shuffle_is_a_deterministic_permutation(spark):
    df = _docs(spark, [(i, f"doc {i}") for i in range(64)])
    a = epoch_shuffle(df, epoch=7).collect()
    b = epoch_shuffle(df, epoch=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    assert sorted(r["doc_id"] for r in a) == list(range(64))  # permutation
    # positions dense per shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # a different epoch produces a different order
    c = epoch_shuffle(df, epoch=8).collect()
    key_a = {r["doc_id"]: r["shuffle_key"] for r in a}
    key_c = {r["doc_id"]: r["shuffle_key"] for r in c}
    assert key_a != key_c


def test_rrf_fuse_ranks_and_scores(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, score double"
    )
    sem = spark.createDataFrame(
        [(2, 9.0), (4, 1.0)], "doc_id long, sim double"
    )
    out = rrf_fuse(
        [(lex, "score"), (sem, "sim")], names=("lex", "sem"), c=60, top_k=10
    ).collect()
    rows = {r.doc_id: r for r in out}
    # ranks: missing system contributes rank 0 / score 0
    assert (rows[1].lex_rank, rows[1].sem_rank) == (1, 0)
    assert (rows[2].lex_rank, rows[2].sem_rank) == (2, 1)
    assert (rows[3].lex_rank, rows[3].sem_rank) == (3, 0)
    assert (rows[4].lex_rank, rows[4].sem_rank) == (0, 2)
    assert rows[2].rrf_score == 1.0 / 62 + 1.0 / 61
    assert rows[1].rrf_score == 1.0 / 61
    # fusion order: doc in both systems outranks any single-system doc here
    assert [r.doc_id for r in out] == [2, 1, 4, 3]


def test_rrf_fuse_tie_break_is_id_order(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        rrf_fuse,
    )

    # equal scores: rank must follow doc_id ascending (deterministic)
    lex = spark.createDataFrame(
        [(7, 5.0), (3, 5.0), (5, 5.0)], "doc_id long, score double"
    )
    out = rrf_fuse([(lex, "score")], names=("lex",), top_k=3).collect()
    assert [(r.doc_id, r.lex_rank) for r in out] == [(3, 1), (5, 2), (7, 3)]


def test_rrf_fuse_rejects_bad_inputs(spark):
    import pytest

    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        rrf_fuse,
    )

    lex = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="names"):
        rrf_fuse([(lex, "score"), (lex, "score")], names=("only_one",))


def test_incremental_dedup_drops_rescrape_and_intra_shard_copies(spark):
    """max(id)=10 -> index = ids < 8, shard = ids >= 6.  ids 6-7 are
    re-scrapes of indexed texts (dropped by the anti-join); id 9 and 10
    are copies of each other (first-wins within the shard); id 8 is a
    fresh singleton."""
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        incremental_dedup,
    )

    rows = [
        (0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta"),
        (4, "epsilon"), (5, "zeta"), (6, "alpha"), (7, "zeta"),
        (8, "fresh one"), (9, "fresh two"), (10, "fresh two"),
    ]
    out = {
        r.kept_id: r.n_copies_in_shard
        for r in incremental_dedup(_docs(spark, rows)).collect()
    }
    assert out == {8: 1, 9: 2}


def test_incremental_dedup_hash_matches_md5(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        incremental_dedup,
    )

    rows = [(i, f"text {i}") for i in range(11)]
    got = {
        r.kept_id: r.text_hash
        for r in incremental_dedup(_docs(spark, rows)).collect()
    }
    # shard_lo = 30 div 5 = 6, idx_hi = 40 div 5 = 8: survivors are 8..10
    assert set(got) == {8, 9, 10}
    for i, h in got.items():
        assert h == hashlib.md5(f"text {i}".encode()).hexdigest()


def _docs_src(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_pack_sequences_concat_and_chunk(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        pack_sequences,
    )

    # one shard, 3 docs of 3/4/2 tokens, capacity 4.  Whatever the
    # md5 order, the concatenated 9-token stream cuts into sequences
    # of 4/4/1 tokens; exactly one doc straddles each interior cut.
    rows = [
        (0, "s", "a b c"),
        (1, "s", "d e f g"),
        (2, "s", "h i"),
    ]
    out = {
        r["seq_id"]: r
        for r in pack_sequences(_docs_src(spark, rows), capacity=4).collect()
    }
    assert sorted(out) == [0, 1, 2]
    assert [out[i]["n_tokens"] for i in (0, 1, 2)] == [4, 4, 1]
    assert out[0]["carry_in"] == 0  # nothing precedes the first cut
    # totals are layout-invariant: every token lands in exactly one seq
    assert sum(r["n_tokens"] for r in out.values()) == 9
    # doc-start count across sequences == number of docs
    assert sum(r["n_starts"] for r in out.values()) == 3


def test_pack_sequences_full_except_last_per_shard(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        pack_sequences,
    )
    from live_market_data_orderflow_analysis_big_data_project__spark.sources.tables import (
        load_table,
    )

    cap = 256
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    seqs = pack_sequences(docs, capacity=cap).collect()
    last = {}
    for r in seqs:
        last[r["source"]] = max(last.get(r["source"], -1), r["seq_id"])
    for r in seqs:
        if r["seq_id"] < last[r["source"]]:
            assert r["n_tokens"] == cap, r
        else:
            assert 1 <= r["n_tokens"] <= cap, r
        assert r["n_docs"] >= 1
        # carry_in consistency: a sequence with no doc starting in it
        # must be wholly inside one straddling doc
        if r["n_starts"] == 0:
            assert r["carry_in"] == 1 and r["n_docs"] == 1


def test_dup_ngram_stats_hand_computed(spark):
    from live_market_data_orderflow_analysis_big_data_project__spark.operators.pipeline import (
        dup_ngram_stats,
    )

    rows = [
        (0, "a b a b a b"),   # bigrams: ab ba ab ba ab -> 5 occ, all dup
        (1, "a b c d"),       # 3 distinct bigrams, none repeated
    ]
    out = {
        r["doc_id"]: r
        for r in dup_ngram_stats(
            _docs(spark, rows), n=2, flag_num=1, flag_den=5
        ).collect()
    }
    assert out[0]["n_grams"] == 5
    assert out[0]["dup_gram_frac"] == 1.0
    assert out[0]["top_gram_frac"] == 0.6  # 'a b' x3 of 5
    assert out[0]["flagged"] == 1
    assert out[1]["n_grams"] == 3
    assert out[1]["dup_gram_frac"] == 0.0
    assert out[1]["flagged"] == 0
