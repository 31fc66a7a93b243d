"""Training-data pipeline operators: decontamination, deterministic
sampling, shard packing, repetition stats, PII scrubbing, dedup
clustering, stratified sampling, embedding centroids.

These extend the LLM-data block (operators/llmops.py) with the corpus
*curation* steps a 100 TB pretraining pipeline runs between raw scrape
and tokenizer: drop benchmark-contaminated docs, draw reproducible
samples, pack documents into fixed-token-budget shards, kill
degenerate/repetitive text, redact PII, collapse near-dup clusters to
one representative, and summarize the embedding space.

Every operator is pure DataFrame expressions (no Python in the hot
path); the one driver-side loop (``dedup_clusters``) is a bounded
Pregel-style iteration over distributed joins, the standard Spark shape
for connected components (GraphX/GraphFrames do the same with
large-star/small-star optimizations).

Reference parity: the reference engine (data_processor.py) has no
corpus-curation surface; these operators are the SURVEY.md section 2.4
"beyond the reference" extensions, same family as operators/llmops.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm
from .llmops import shingles_col, tokens_col

__all__ = [
    "span_dedup_stats",
    "semdedup",
    "source_mixture_sample",
    "quality_classifier_score",
    "epoch_shuffle",
    "decontaminate",
    "hash_sample",
    "pack_shards",
    "pack_sequences",
    "repetition_stats",
    "dup_ngram_stats",
    "scrub_pii",
    "dedup_clusters",
    "stratified_sample",
    "embedding_centroids",
    "split_assign",
    "cluster_safe_split",
    "chunk_documents",
    "quantize_embeddings",
    "bm25_search",
    "unigram_nll_score",
    "bigram_nll_score",
    "collapse_clusters",
    "rrf_fuse",
    "incremental_dedup",
]


def _ratio4(num_expr: str, den_col: str) -> Column:
    """``round(num/den, 4)`` with EXACT integer half-up arithmetic:
    ``(k*20000 + n) div (2n)`` on positive operands, where Spark's
    ``div`` (truncate) and DuckDB's ``//`` (floor) agree — the one
    rounding idiom shared by every rational-ratio operator
    (repetition_stats, dup_ngram_stats, and the q123-class oracles).
    ROUND(double, 4) instead diverges between engines exactly on half
    boundaries (Spark HALF_UP vs DuckDB half-even), which sf0.1 hits.
    """
    return (
        F.expr(
            f"(({num_expr}) * 20000 + {den_col}) div (2 * {den_col})"
        ).cast("double")
        / 10000
    )


def _md5_key(col: Column | str) -> Column:
    """First 8 hex digits of md5 — a deterministic, engine-portable
    uniform key in [0, 16^8).  Compared lexicographically (hex digits
    sort like their values), so no hex->int conversion is needed and
    DuckDB computes the identical key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("binary")), 1, 8)


def _shingle_streams(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The shared decontamination front half: the corpus exploded to
    (id, shingle) rows and the eval set's DISTINCT shingle frame.
    Both decontaminate variants build exactly these two streams; only
    the probe strategy downstream differs (broadcast hash join vs
    bloom pre-pass + confirm join)."""
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(shingles_col(text_col, n)).alias("shingle")
    )
    eval_sh = eval_set.select(
        F.explode(shingles_col(text_col, n)).alias("shingle")
    ).distinct()
    return corpus_sh, eval_sh


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with an evaluation set.

    The standard pretraining hygiene step (GPT-3 appendix C / PaLM
    sect. 8 style): a training document is contaminated if any of its
    n-grams appears verbatim in a benchmark document.  Returns one row
    per contaminated doc: (doc_id, n_shared_ngrams).

    100 TB: the eval side is benchmarks — MBs, not TBs — so its
    distinct-shingle set is broadcast and the corpus is flagged in ONE
    linear scan with a broadcast hash join; the corpus side is NOT
    pre-deduplicated (that would shuffle every (doc, shingle) pair) —
    matches are filtered through the broadcast first, so the only
    shuffle is the countDistinct over the contaminated subset, which is
    eval-set-sized, not corpus-sized.
    """
    corpus_sh, eval_sh = _shingle_streams(corpus, eval_set, n, text_col, id_col)
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared_ngrams"))
    )


def decontaminate_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """``decontaminate`` with a bloom-of-the-eval-set pre-pass on the
    corpus shingle stream (operators/bloom.py) — result IDENTICAL to
    the exact version (the bloom admits every true match; the confirm
    join drops its false positives), which is how q106b hash-gates
    against q106's own oracle.

    When to prefer it over the plain broadcast join: the eval set's
    distinct-shingle frame no longer fits the broadcast threshold but
    its ~10-bits-per-key bloom does.  The corpus side still never
    shuffles — the bloom probe is a narrow codegen filter inside the
    shingle-explode stage, and the only shuffle remains the final
    eval-set-bounded countDistinct.
    """
    from .bloom import bloom_prefilter_join

    corpus_sh, eval_sh = _shingle_streams(corpus, eval_set, n, text_col, id_col)
    return (
        bloom_prefilter_join(
            corpus_sh, eval_sh, "shingle", m_bits, k,
            small_keys_distinct=True,  # eval_sh is .distinct() above
        )
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared_ngrams"))
    )


def hash_sample(
    df: DataFrame,
    threshold_hex: str = "20000000",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic content-hash sampling: keep rows whose md5 key
    sorts below ``threshold_hex`` ("20000000" = 2/16 = 12.5%).

    The reproducible alternative to ``df.sample()``: membership depends
    only on content, so the same doc is in/out of the sample across
    runs, cluster sizes, and engines — the property a 100 TB corpus
    snapshot needs for auditable subsampling.  Narrow per-row filter,
    no shuffle, no RNG state.
    """
    return df.withColumn("sample_key", _md5_key(text_col)).filter(
        F.col("sample_key") < F.lit(threshold_hex)
    )


def pack_shards(
    df: DataFrame,
    budget_tokens: int = 1000,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into fixed-token-budget training shards.

    Within each ``part_col`` partition, documents are laid out in
    ``id_col`` order and cut into shards of ~``budget_tokens`` via a
    running prefix sum: shard_id = floor(tokens_before / budget).

    100 TB: the window is PARTITIONED BY the layout key, so each
    partition's prefix sum is independent — parallel, single shuffle on
    part_col.  (A single *global* packing order would instead use
    range-partitioning + per-partition offsets, two passes; per-source
    sharding is what real pipelines do anyway to keep domains
    co-located.)
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens_col(text_col))
    return df.select(
        F.col(id_col),
        F.col(part_col),
        n_tok.alias("n_tokens"),
        F.floor(
            F.coalesce(F.sum(n_tok).over(w), F.lit(0)) / budget_tokens
        ).alias("shard_id"),
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 256,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (per-sequence stats).

    ``pack_shards`` assigns each WHOLE document to a shard; the other
    packing a pretraining pipeline runs is concat-and-chunk: within a
    shard, documents are concatenated in a deterministic order and the
    token stream is cut at exactly ``capacity`` tokens, documents
    straddling cut points (the GPT-2/Pile data layout — no padding,
    every sequence full except a shard's last).  This operator computes
    the resulting sequence map without materializing per-token rows:
    per doc, the token span ``[start, end)`` comes from a prefix sum,
    and the doc contributes one row per sequence it overlaps
    (``explode(sequence(start div C, (end-1) div C))`` — fan-out
    n_docs + n_tokens/C, NOT n_tokens).

    Per (shard, seq_id): ``n_docs`` contributing, ``n_tokens`` (== C
    except the shard's last), ``carry_in`` (starts mid-document — a
    doc straddles the left cut), ``n_starts`` (docs beginning here —
    attention-mask reset points in packed training).

    Order is ``md5('pack:' || doc_id)`` — deterministic, engine-
    portable, and decorrelated from ingest order (packing wants
    shuffled docs; correlated neighbors inflate same-doc batches).

    100 TB: the window partitions by ``part_col`` (shards are
    independent — this is why pipelines pack per shard), so the prefix
    sum is one shuffle wide; the seq_id regroup is a second.  All
    integer arithmetic -> hash-exact against the oracle.
    """
    n_tok = F.size(tokens_col(text_col))
    key = F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(part_col)
        .orderBy("_pack_key", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        df.select(
            F.col(id_col),
            F.col(part_col),
            n_tok.alias("_n_tok"),
            key.alias("_pack_key"),
        )
        .filter(F.col("_n_tok") > 0)
        .select(
            F.col(part_col),
            F.coalesce(F.sum("_n_tok").over(w), F.lit(0).cast("long")).alias(
                "_start"
            ),
            F.col("_n_tok"),
        )
        .select(
            F.col(part_col),
            "_start",
            (F.col("_start") + F.col("_n_tok")).alias("_end"),
        )
    )
    per_seq = spans.select(
        F.col(part_col),
        "_start",
        "_end",
        F.explode(
            F.sequence(
                F.expr(f"_start div {capacity}"),
                F.expr(f"(_end - 1) div {capacity}"),
            )
        ).alias("seq_id"),
    )
    c = F.lit(capacity).cast("long")
    lo = F.col("seq_id") * c
    hi = lo + c
    return per_seq.groupBy(part_col, "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.least(F.col("_end"), hi) - F.greatest(F.col("_start"), lo)
        ).alias("n_tokens"),
        F.max((F.col("_start") < lo).cast("int")).alias("carry_in"),
        F.sum((F.col("_start") >= lo).cast("long")).alias("n_starts"),
    )


def repetition_stats(
    df: DataFrame,
    dup_ratio_flag: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style within-document repetition stats.

    Per doc: token count, distinct-token (type) count, the most common
    token's share, and the duplicate-token ratio (1 - types/tokens);
    ``repetitive`` flags docs above ``dup_ratio_flag``.  Degenerate
    generated text (the same line or phrase looped) spikes both ratios;
    Gopher sect. A1.1 filters on exactly these.

    100 TB: explode -> two keyed aggregations ((doc, token) then doc).
    Both keys are high-cardinality and uniform — partial aggregation
    does most of the work map-side; no skew, no Python.

    Cross-engine exactness: both ratios are rationals k/n, and
    ROUND(double, 4) diverges between engines exactly when k/n lands
    on a half boundary (Spark HALF_UP vs DuckDB half-even — the
    boundary class the sf0.1 sweep caught live on q123).  The 4-dp
    half-up rounding is therefore integer arithmetic:
    (k*20000 + n) div (2n), exact for any n, positive operands so
    Spark's `div` (truncate) and DuckDB's `//` (floor) agree.
    """
    per_tok = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("cnt"))
    )
    agg = per_tok.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.max("cnt").alias("max_cnt"),
    )

    dup = _ratio4("n_tokens - n_types", "n_tokens")
    return agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_types"),
        _ratio4("max_cnt", "n_tokens").alias("top_token_frac"),
        dup.alias("dup_ratio"),
        (dup > dup_ratio_flag).cast("int").alias("repetitive"),
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 2,
    flag_num: int = 1,
    flag_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style duplicate n-gram fraction (A1.1's n-gram family).

    ``repetition_stats`` measures UNIGRAM repetition (type/token ratio,
    top-token share) — blind to looped PHRASES, where every token is
    common but the same n-gram cycles.  Per doc and n-gram: ``n_grams``
    (total occurrences), ``dup_gram_frac`` (fraction of occurrences
    whose gram appears more than once in the doc — Gopher's "duplicate
    n-gram fraction"), ``top_gram_frac`` (most frequent gram's share),
    and ``flagged`` when dup_gram_frac > flag_num/flag_den — the
    comparison is exact integer cross-multiplication, so the flag
    never rides on float rounding.

    100 TB: explode n-grams -> two keyed aggregations ((doc, gram),
    then doc) — high-cardinality uniform keys, partial-agg friendly,
    no Python.  Ratios use the same exact integer half-up 4-dp
    arithmetic as repetition_stats (Spark HALF_UP vs DuckDB half-even
    diverges exactly on half boundaries otherwise).
    """
    per_gram = (
        df.select(
            F.col(id_col), F.explode(shingles_col(text_col, n)).alias("gram")
        )
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
    )
    agg = per_gram.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            "_dup_occ"
        ),
        F.max("cnt").alias("_max_cnt"),
    )

    return agg.select(
        F.col(id_col),
        F.col("n_grams"),
        _ratio4("_dup_occ", "n_grams").alias("dup_gram_frac"),
        _ratio4("_max_cnt", "n_grams").alias("top_gram_frac"),
        (
            F.col("_dup_occ") * flag_den > F.col("n_grams") * flag_num
        ).cast("int").alias("flagged"),
    )


# Engine-portable regexes: no lookaround (RE2-safe), no \d (class parity).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"


def scrub_pii(
    df: DataFrame,
    text_col: str = "contact_text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Redact emails and (555-prefixed fixture) phone numbers.

    Emails first, then phones, each replaced by a typed placeholder;
    per-row redaction counts let the pipeline monitor PII density by
    source.  Patterns avoid lookaround so Java (Spark) and RE2 (DuckDB)
    regex engines agree character-for-character.

    100 TB: narrow per-row regexp_replace/regexp_count — fully
    pipelined inside whole-stage codegen, no shuffle, no Python.
    """
    emails = F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE))
    phones = F.regexp_count(F.col(text_col), F.lit(PII_PHONE_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(text_col, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        emails.alias("n_emails"),
        phones.alias("n_phones"),
    )


def dedup_clusters(
    edges: DataFrame,
    max_iters: int = 15,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id,
    cluster_id) with cluster_id = min doc id in the component.

    Dedup pair-finders (exact md5 groups, MinHash/SimHash banding)
    emit EDGES; corpus dedup needs CLUSTERS, so transitively linked
    docs collapse to one kept representative.  This is min-label
    propagation (Pregel-style): every node starts labeled with its own
    id; each round a node takes the min of its and its neighbors'
    labels; converged when no label changes.  Rounds needed = graph
    diameter (near-dup components are tiny — pairs and small chains).
    A graph that has not converged within ``max_iters`` rounds raises
    ``ValueError`` rather than returning a partial labeling.

    ``edges`` must have columns (doc_a, doc_b).

    100 TB: each round is one join keyed by node id — distributed,
    no all-pairs; ``localCheckpoint`` cuts the lineage so plans don't
    grow with iterations (the standard iterative-algorithm discipline;
    GraphFrames' large-star/small-star does the same with fewer
    rounds on high-diameter graphs).  The per-round convergence check
    is a ``_chg`` flag computed INSIDE the label-update projection and
    counted off the already-checkpointed frame — one action per round,
    no second join (a separate old-vs-new join cost ~0.4 s of the
    ~2.5 s q111 wall at sf0.1, the rest being the edge-finder pipeline
    the loop consumes).
    """
    sym = edges.selectExpr(f"doc_a AS {id_col}", "doc_b AS nbr").unionAll(
        edges.selectExpr(f"doc_b AS {id_col}", "doc_a AS nbr")
    )
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(id_col).distinct().withColumn("lbl", F.col(id_col))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels.withColumnRenamed(id_col, "nbr"), "nbr")
            .groupBy(id_col)
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, id_col, "left")
            .select(
                F.col(id_col),
                F.least(F.col("lbl"), F.col("nbr_lbl")).alias("lbl"),
                F.coalesce(
                    F.col("nbr_lbl") < F.col("lbl"), F.lit(False)
                ).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        labels = new_labels.drop("_chg")
        if new_labels.filter(F.col("_chg")).count() == 0:
            return labels.select(
                F.col(id_col), F.col("lbl").alias("cluster_id")
            )
    raise ValueError(
        f"dedup_clusters: labels still changing after max_iters="
        f"{max_iters} rounds - no fixpoint (graph diameter exceeds the "
        "round budget; raise max_iters)"
    )


def stratified_sample(
    df: DataFrame,
    per_stratum: int = 20,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-stratum quota sample: the ``per_stratum`` docs
    with the smallest content-hash keys in each stratum.

    Hash-ordered rank gives exact quotas AND run-to-run reproducibility
    (no RNG): the language-balanced eval split you can re-derive from
    the corpus alone.

    100 TB: one shuffle on the stratum key; strata are few, so the
    rank window is the skew risk — at real scale, pre-filter each
    stratum with ``hash_sample`` at a few times the target rate (narrow,
    no shuffle), then rank only the survivors.  Quota-size output.
    """
    w = Window.partitionBy(stratum_col).orderBy("sample_key", id_col)
    return (
        df.select(
            F.col(id_col),
            F.col(stratum_col),
            _md5_key(text_col).alias("sample_key"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_stratum)
        .drop("sample_key")
    )


def split_assign(
    df: DataFrame,
    val_hex: str = "0a",
    test_hex: str = "14",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash range.

    md5-prefix ranges partition the corpus into DISJOINT, EXHAUSTIVE
    splits ([0, val) -> val, [val, test) -> test, rest -> train) that any
    engine re-derives from content alone — so a doc can never leak
    between splits across reprocessing runs, the failure mode RNG-based
    splitting invites.  Defaults: ~3.9% val, ~3.9% test.

    100 TB: one narrow CASE per row, zero shuffle.
    """
    key = F.substring(F.md5(F.col(text_col).cast("binary")), 1, 2)
    return df.select(
        F.col(id_col),
        key.alias("split_key"),
        F.when(key < val_hex, "val")
        .when(key < test_hex, "test")
        .otherwise("train")
        .alias("split"),
    )


def cluster_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    val_hex: str = "0a",
    test_hex: str = "14",
    text_col: str = "text",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Leakage-free train/val/test split: every near-dup CLUSTER is
    assigned atomically to one split.

    ``split_assign`` hashes each doc independently, so two near-dup
    docs can land one in train and one in val — and the eval split
    then scores memorization, not generalization (the classic
    contaminated-split failure).  Here the split key is the md5 of the
    cluster REPRESENTATIVE's text (cluster id = min doc id of the
    component, so its text always exists): all members inherit the
    rep's assignment, and singletons degrade to exactly
    ``split_assign`` semantics on their own text.

    ``clusters`` is a (doc_id, cluster_id) frame as produced by
    ``dedup_clusters`` — it may cover only docs that HAVE an edge;
    uncovered docs become their own singleton cluster.  Every
    cluster_id MUST name a doc present in ``docs`` (dedup_clusters
    guarantees it: cluster id = min member doc id); a clusters frame
    violating that raises per-row instead of silently dropping the
    orphaned members (the repo's loud contract-guard pattern).

    At 100 TB: two keyed equi-joins (cluster lookup, rep-text lookup)
    plus one narrow CASE — no window, no all-pairs.  A giant cluster
    makes its rep a hot join key on the text lookup; that join is
    many-to-one onto a deduped rep frame, so AQE's skew split handles
    it without salting.
    """
    full = docs.select(id_col).join(
        clusters.select(
            F.col(id_col).alias("_cid"), F.col(cluster_col).alias("_cl")
        ),
        on=F.col(id_col) == F.col("_cid"),
        how="left",
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_cl"), F.col(id_col)).alias(cluster_col),
    )
    reps = docs.select(
        F.col(id_col).alias(cluster_col),
        F.substring(F.md5(F.col(text_col).cast("binary")), 1, 2).alias(
            "split_key"
        ),
    )
    # LEFT join + per-row raise: a cluster_id with no doc in ``docs``
    # is a broken contract (rep text must exist), and an inner join
    # would swallow every member of that cluster without a sound.
    key = F.expr(
        "CASE WHEN split_key IS NULL THEN "
        "CAST(raise_error('cluster_safe_split: cluster_id has no "
        "matching doc in docs - clusters must come from dedup_clusters "
        "over the same corpus (docstring)') AS STRING) "
        "ELSE split_key END"
    )
    return full.join(reps, cluster_col, "left").select(
        id_col,
        cluster_col,
        key.alias("split_key"),
        F.when(key < val_hex, "val")
        .when(key < test_hex, "test")
        .otherwise("train")
        .alias("split"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks (1 doc row ->
    ceil growth), the pretraining/RAG chunking step.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens); the last
    chunk may be short; docs shorter than one chunk yield one chunk.
    n_chunks = 1 + ceil(max(n - chunk_tokens, 0) / stride), so every
    token lands in at least one chunk and consecutive chunks overlap by
    ``chunk_tokens - stride``.

    100 TB: ``sequence``+``explode`` is a narrow per-row expansion — row
    growth ~n/stride, no shuffle; the token array is built once per doc
    and sliced per chunk.  (``sequence(1, 0)`` would count DOWN in
    Spark, so the chunk-count arithmetic keeps the upper bound >= 0
    explicitly.)
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    n_chunks = 1 + F.floor(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int") + F.when(
        (F.greatest(n - chunk_tokens, F.lit(0)) % stride) > 0, 1
    ).otherwise(0)
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).filter(F.size("__toks") > 0)
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return out.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale
    (max |x| / 127) — the storage layout ANN services ship embeddings
    in (4x smaller than float32, dot products in integer arithmetic).

    Output: (vec_id, scale ROUND 6, q array<int> in [-127, 127]).
    Division and rounding happen in IEEE double on both engines, so the
    quantized codes are hash-exact, not approximate.

    100 TB: narrow per-row array transform, zero shuffle.
    """
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(dbl, lambda x: F.abs(x)))
    scale = F.greatest(max_abs, F.lit(1e-12)) / F.lit(127.0)
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.transform(dbl, lambda x: F.round(x / scale, 0).cast("int")).alias(
            "q"
        ),
    )


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label elementwise centroid, long format (label, dim, centroid).

    The embedding-space summary behind IVF coarse quantizers (q92b) and
    cluster-balance monitoring: posexplode to (label, dim, value),
    average per cell.

    100 TB: one shuffle keyed by (label, dim) — cardinality
    labels x dims, uniform by construction; partial avg aggregates
    map-side so the shuffle carries (sum, count) pairs, not vectors.
    Long format avoids driver-side array reassembly.
    """
    return (
        df.select(
            F.col(label_col), F.posexplode(vec_col).alias("dim", "val")
        )
        .groupBy(label_col, "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("centroid"))
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval: top-k docs for a bag of query terms.

    The classic Okapi BM25 scoring (Lucene's IDF variant,
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``) — the retrieval step of a
    RAG / data-curation pipeline, complementing q96's per-term TF-IDF
    table with an actual ranked search over the corpus.

    Pipeline: doc lengths come from a narrow ``size(tokens)`` projection
    (no explode, includes zero-token docs in N/avgdl, matching the SQL
    twin); term frequencies explode only rows matching the query terms
    (the IN filter pushes below the explode's generator output, so the
    shuffle carries query-term hits, not the corpus); per-term document
    frequencies aggregate from the tf table (tiny: <= |terms| rows) and
    broadcast back, as do the two corpus scalars.

    100 TB: one shuffle for tf (keyed by doc, term), one for the final
    per-doc sum; df/N/avgdl are broadcast scalars; top-k compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), never a global sort.

    Output: (doc_id, n_hit_terms, score ROUND 4), ordered score desc
    with doc_id tie-break.
    """
    toks = tokens_col(text_col)
    dl = df.select(F.col(id_col), F.size(toks).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term").isin([t.lower() for t in query_terms]))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("term_df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("term_df") + 0.5)
        / (F.col("term_df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("w", idf * norm)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.round(F.sum("w"), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def unigram_nll_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own unigram language model — the perplexity-style fluency/quality
    filter (CCNet / Gopher run a KenLM n-gram model; the unigram case
    is the same pipeline shape with an in-engine model).

    Two passes over one exploded token frame: (1) global token counts
    become the LM (``p(t) = count(t) / total``); (2) each doc averages
    ``-ln p(t)`` over its tokens.  Docs full of rare tokens score high
    (surprising text), template/boilerplate docs score low — both tails
    are curation candidates.

    100 TB: the LM table is vocabulary-sized (~millions of rows, MBs)
    — broadcast back to the token frame, so the per-doc pass adds no
    shuffle beyond its own groupBy; if vocabulary outgrows the
    broadcast threshold, drop the hint and AQE falls back to a shuffle
    join keyed by term (uniform by construction after the count agg).

    Output: (doc_id, n_tokens, avg_nll ROUND 4).
    """
    tk = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    vocab = tk.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.log(F.col("cnt").cast("double") / F.col("total")).alias("logp"),
    )
    return (
        tk.join(F.broadcast(lm), "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("avg_nll"),
        )
    )


def bigram_nll_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average negative log-likelihood under an
    INTERPOLATED BIGRAM model of the corpus itself — the next step up
    the KenLM ladder from ``unigram_nll_score`` (CCNet's perplexity
    filter is exactly this shape at n=5): a doc is scored by how
    predictable each token is GIVEN ITS PREDECESSOR, so shuffled-word
    salad that fools the unigram filter (every token common, order
    nonsense) scores high here.

    Model: p(w2|w1) = 3/4 · c(w1 w2)/c(w1 ·) + 1/4 · c(w2)/N — Jelinek-
    Mercer interpolation with a rational λ = 3/4, where c(w1 ·) is the
    bigram-margin count (so the conditional sums to 1 over the seen
    successors) and the unigram floor makes unseen bigrams finite.
    Hash discipline: the probability is built with a FIXED
    parenthesization of exact-integer operands —
    (3·c12)/(4·c1) + c2/(4·N), two IEEE divisions and one add — and
    only ``ln`` is transcendental, absorbed by the q118 rule (per-doc
    ROUND 4 + sweep coverage).

    Docs with < 2 tokens have no bigram events and are excluded (the
    unigram score covers them).  Output: (id, n_bigrams, avg_nll).

    100 TB: one bigram-instance frame (the q95/q176 adjacency shape),
    three count aggregations over it; the LM is bigram-vocabulary-
    sized, joined back keyed by (w1, w2) — broadcast when it fits,
    AQE's shuffle join otherwise (uniform by construction after the
    count agg).  No Python, no windows over raw rows.
    """
    toks = df.select(
        F.col(id_col), tokens_col(text_col).alias("_arr")
    ).where(F.size("_arr") >= 2)
    m = F.size("_arr") - 1
    pairs = F.zip_with(
        F.slice("_arr", 1, m),
        F.slice("_arr", 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = toks.select(
        F.col(id_col), F.explode(pairs).alias("_p")
    ).select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = df.select(F.explode(tokens_col(text_col)).alias("tok")).groupBy(
        "tok"
    ).agg(F.count(F.lit(1)).alias("c2"))
    n_tot = uni.agg(F.sum("c2").alias("n_tot"))
    lm = (
        c12.join(c1, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            F.log(
                (F.lit(3) * F.col("c12")).cast("double")
                / (F.lit(4) * F.col("c1")).cast("double")
                + F.col("c2").cast("double")
                / (F.lit(4) * F.col("n_tot")).cast("double")
            ).alias("logp"),
        )
    )
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), 4).alias("avg_nll"),
        )
    )


def collapse_clusters(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Turn a (doc_id, cluster_id) component labeling into the corpus
    keep-list: every doc mapped to its cluster (singletons form their
    own), kept iff it is the cluster's canonical representative (the
    min-id member, which min-label propagation makes the label itself).

    This is the step that actually SHRINKS the corpus after
    ``dedup_clusters`` — downstream stages filter ``is_kept = 1`` and
    every near-dup class contributes exactly one document.

    100 TB: ``clusters`` is bounded by the near-dup graph (docs with at
    least one edge), far smaller than the corpus — broadcast it and the
    keep-list is a single narrow scan of ``df``; no shuffle.
    """
    return (
        df.select(id_col)
        .join(F.broadcast(clusters), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias(
                "cluster_id"
            ),
            (
                F.coalesce(F.col("cluster_id"), F.col(id_col))
                == F.col(id_col)
            )
            .cast("int")
            .alias("is_kept"),
        )
    )


def span_dedup_stats(
    df: DataFrame,
    span_tokens: int = 8,
    flag_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document span-level exact dedup stats (the C4 / CCNet
    paragraph-dedup shape, at fixed token granularity): cut each doc
    into non-overlapping ``span_tokens``-token spans, count how many
    DISTINCT docs each span occurs in, and report per doc how much of
    it is boilerplate shared with other docs.

    A doc whose spans mostly appear elsewhere is template/mirror
    content; curation drops the doc (``flagged``) or strips the
    duplicated spans.  Span granularity generalizes line/paragraph
    dedup to text without newline structure.

    100 TB: single-lineage plan — the chunking map stage runs ONCE
    (an fp-keyed join shape would recompute it per join leg): explode
    (~n_tokens/span_tokens rows per doc), pre-aggregate per
    (span, doc) so each later stage sees one row per doc-span pair,
    count docs per span with a window (a running count, no unbounded
    buffer — the heavy-hitter span costs a counter, not a collect),
    then roll up per doc.  Three shuffles over strictly shrinking
    rows, no join, no recompute.

    Output: (doc_id, n_spans, n_dup_spans, dup_span_frac ROUND 4,
    flagged) — ``n_dup_spans`` counts span POSITIONS whose text occurs
    in >= 2 distinct docs.
    """
    from pyspark.sql import Window

    spans = chunk_documents(
        df,
        chunk_tokens=span_tokens,
        stride=span_tokens,
        id_col=id_col,
        text_col=text_col,
    ).select(F.col(id_col), F.col("chunk_text").alias("span"))
    # one row per (span, doc); n_pos = how many positions in the doc
    # hold this span text.  count(*) per span on THIS frame == distinct
    # doc frequency, so no countDistinct is needed downstream.
    per_doc_span = spans.groupBy("span", id_col).agg(
        F.count("*").alias("n_pos")
    )
    with_df = per_doc_span.withColumn(
        "span_df", F.count("*").over(Window.partitionBy("span"))
    )
    dup_pos = F.sum(
        F.when(F.col("span_df") >= 2, F.col("n_pos")).otherwise(0)
    )
    frac = F.round(dup_pos / F.sum("n_pos"), 4)
    return with_df.groupBy(id_col).agg(
        F.sum("n_pos").cast("long").alias("n_spans"),
        dup_pos.cast("long").alias("n_dup_spans"),
        frac.alias("dup_span_frac"),
        (frac >= flag_frac).cast("int").alias("flagged"),
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    max_cluster: int = 512,
) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al.,
    2023): within each cluster, a vector is a semantic duplicate if an
    earlier (lower-id) cluster member sits within cosine ``threshold``;
    keep only the earliest member of each duplicate chain.

    The whole point of the cluster scope is scale: the corpus-wide
    pairwise matrix is quadratic, but partitioning by a coarse cluster
    (here the fixture's ``label``; in production the k-means cell from
    the q113/q92b coarse quantizer) bounds the join to
    sum(|cluster|^2) — embarrassingly parallel across clusters, the
    published SemDeDup design point.

    ``max_cluster`` enforces that bound INSIDE the operator: clusters
    larger than the cap are split into deterministic id-ordered stripes
    of at most ``max_cluster`` vectors (``(row_number - 1) div cap``),
    so the join cost is <= |corpus| * max_cluster no matter what the
    upstream quantizer produced.  This is the real SemDeDup posture — a
    production run scales k with the corpus so cluster size stays O(1);
    when it doesn't, striping caps the blow-up at the cost of missing
    cross-stripe pairs (finer clusters, the approximation SemDeDup
    already embraces).  The 16x scale probe is what caught the uncapped
    formulation: fixture labels are a FIXED space, so replicated
    corpora grew each cluster 16x and the pair join went quadratic
    (ratio 51.8 vs the linear <= 16 bar; capped it probes linear).

    100 TB (r16 shape): ONE linear shuffle keyed by (cluster, stripe)
    feeds a vectorized Arrow grouped-map kernel that computes each
    stripe's pair block with native matrix code — the published
    SemDeDup blocked-matmul design point, and strictly less data
    motion than the former stripe-keyed self-join (which shuffled both
    corpus legs and ran every per-pair dot through the interpreted
    ArrayAggregate HOF path).  The quadratic term stays bounded by
    ``max_cluster`` inside each group; peak kernel memory is chunked.
    Then one groupBy keyed by vector id and one left join back to the
    corpus.  Numeric contract: the kernel reproduces the expression
    fold BIT-EXACTLY (see the in-function note), so the ROUND(4) hash
    gate semantics are unchanged.

    Output: (vec_id, label, n_close_earlier, max_cos_earlier ROUND 4 —
    NULL for each stripe's first member, is_kept).  Threshold compares
    the ROUNDED similarity so the boundary is engine-portable.
    """
    w = Window.partitionBy(label_col).orderBy(id_col)
    # (rn-1)/cap truncated = floor for non-negative ints; exact in double
    # far past any real row_number.
    striped = df.withColumn(
        "__sub",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(max_cluster)).cast("int"),
    )

    # r16: the per-stripe pairwise kernel is a vectorized Arrow
    # grouped-map (guide sect. 4.2 — hand whole batches to native
    # vectorized code) instead of a stripe-keyed self-join whose
    # per-pair dot ran through the INTERPRETED ArrayAggregate/ZipWith
    # HOF path (~10 us/pair measured; the join itself was 0.3 s, the
    # fold 2 s).  Distribution is unchanged — one shuffle keyed by
    # (label, stripe), quadratic work bounded by ``max_cluster`` inside
    # each group, exactly the published SemDeDup blocked-matmul shape.
    #
    # Bit-exactness contract (the hash gate hashes ROUND(sim, 4), and
    # the engine's convention is bit-identical doubles BEFORE the
    # round): float->double widening is exact (== x.cast("double")),
    # elementwise IEEE double multiply is engine-independent, and
    # np.cumsum accumulates left-to-right — the same (((p0)+p1)+p2)...
    # chain as the former F.aggregate fold.  The fold's 0.0 seed turns
    # a leading -0.0 into +0.0; "+ 0.0" after the cumsum reconciles
    # that one divergence (x + 0.0 is the identity for every other
    # IEEE double).  sqrt and division are correctly-rounded IEEE ops
    # on both sides.  Pinned by test_semdedup_kernel_matches_hof_fold.
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_b", df.schema[id_col].dataType),
            StructField("__sim_raw", DoubleType()),
        ]
    )

    def _pair_sims(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        n = len(ids)
        iu, ju = np.triu_indices(n, k=1)
        if n < 2:
            return pd.DataFrame(
                {"id_b": ids[ju], "__sim_raw": np.zeros(0, dtype=np.float64)}
            )
        V = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        norms = np.sqrt((V * V).cumsum(axis=1)[:, -1] + 0.0)
        sims = np.empty(len(iu), dtype=np.float64)
        # chunked so peak memory stays ~chunk * dim * 8 bytes however
        # large a stripe is (max_cluster^2 / 2 pairs at the cap)
        chunk = 1 << 15
        for s in range(0, len(iu), chunk):
            i, j = iu[s:s + chunk], ju[s:s + chunk]
            dots = (V[i] * V[j]).cumsum(axis=1)[:, -1] + 0.0
            sims[s:s + chunk] = dots / (norms[i] * norms[j])
        return pd.DataFrame({"id_b": ids[ju], "__sim_raw": sims})

    pairs = (
        striped.select(
            F.col(label_col).alias("__lbl"),
            F.col("__sub"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
        .groupBy("__lbl", "__sub")
        .applyInPandas(_pair_sims, out_schema)
        .select("id_b", F.round(F.col("__sim_raw"), 4).alias("sim"))
    )
    stats = pairs.groupBy("id_b").agg(
        F.sum(F.when(F.col("sim") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_close_earlier"),
        F.max("sim").alias("max_cos_earlier"),
    )
    return (
        df.select(F.col(id_col), F.col(label_col))
        .join(stats, F.col(id_col) == F.col("id_b"), "left")
        .select(
            F.col(id_col),
            F.col(label_col),
            F.coalesce(F.col("n_close_earlier"), F.lit(0)).alias(
                "n_close_earlier"
            ),
            F.col("max_cos_earlier"),
            (F.coalesce(F.col("n_close_earlier"), F.lit(0)) == 0)
            .cast("int")
            .alias("is_kept"),
        )
    )


_HEX_DIGITS = "0123456789abcdef"


def _hex_nibble(col: Column) -> Column:
    """0..15 from one lowercase hex character — position in the digit
    alphabet, the engine-portable hex->int that needs no
    ``conv``/``from_hex`` (DuckDB twin: ``strpos``)."""
    return F.position(col, F.lit(_HEX_DIGITS)) - 1


def source_mixture_sample(
    df: DataFrame,
    oversample: float = 1.0,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture resampling (the DoReMi / Pile-construction step):
    re-weight the corpus toward target per-source shares by
    deterministic content-hash subsampling.

    Target shares here derive from a fixture-stable rule (first md5
    nibble of the source name + 1, normalized) standing in for learned
    domain weights; each source keeps
    ``frac = min(1, oversample * share * N / n_source)`` of its docs,
    chosen by md5 content key < a per-source hex threshold — the same
    rerun-stable, engine-portable membership rule as ``hash_sample``.

    100 TB: per-source counts and weights are a tiny dim (|sources|
    rows) broadcast back to the corpus; membership is then a narrow
    per-row compare — one small agg plus a linear scan, no repartition
    of the fact table.

    Output: (doc_id, source, sample_frac ROUND 4, is_kept).
    """
    w = _hex_nibble(F.substring(F.md5(F.col(source_col).cast("binary")), 1, 1)) + 1
    per_src = df.groupBy(source_col).agg(
        F.count("*").alias("n_src"), F.max(w).alias("w")
    )
    tot = per_src.agg(
        F.sum("n_src").alias("n_total"), F.sum("w").alias("w_total")
    )
    dim = per_src.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.lit(oversample)
            * (F.col("w") / F.col("w_total"))
            * (F.col("n_total") / F.col("n_src")),
        ).alias("frac"),
    )
    thr = F.format_string(
        "%08x", F.floor(F.col("frac") * F.lit(4294967296.0)).cast("long")
    )
    key = F.substring(F.md5(F.col(text_col).cast("binary")), 1, 8)
    return (
        df.select(F.col(id_col), F.col(source_col), key.alias("__key"))
        .join(F.broadcast(dim), source_col)
        .select(
            F.col(id_col),
            F.col(source_col),
            F.round(F.col("frac"), 4).alias("sample_frac"),
            ((F.col("frac") >= 1.0) | (F.col("__key") < thr))
            .cast("int")
            .alias("is_kept"),
        )
    )


def quality_classifier_score(
    df: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linear model-based quality scoring over hashed token features —
    the fastText-classifier shape (CCNet/LLaMA "looks like Wikipedia"
    filters) with an in-engine weight table.

    Tokens hash to ``n_buckets`` buckets (two md5 hex chars); a
    256-row weight table (deterministic surrogate for learned weights,
    INTEGER values w64 = (i*37) % 101 - 50, i.e. the dyadic weight
    w64/64) joins in broadcast; the doc score is the mean bucket
    weight squashed by a sigmoid.

    Cross-engine exactness: the weight sum S is an exact BIGINT, and
    ``score`` (4-dp half-up mean) is computed with INTEGER arithmetic
    on |S| — sign * ((|S|*10^4 + 32n) div (64n)) / 10^4 — because
    ROUND(double, 4) is engine-divergent exactly when the rational
    S/(64n) lands on a half boundary (Spark HALF_UP vs DuckDB
    half-even; sf0.1 has two docs with S/(64n) = k/1600 on the
    boundary, caught by the cross-sf oracle sweep in round 6).  The
    abs/sign split keeps the integer division on POSITIVE operands,
    where Spark's `div` (truncate) and DuckDB's `//` (floor) agree.
    ``prob`` stays ROUND(sigmoid, 4): one IEEE division for the raw
    mean plus libm exp — identical across engines at every fixture sf.

    100 TB: the weight table is model-sized (constant) — broadcast
    hash join against the exploded token frame, then one groupBy keyed
    by doc.  Swapping in real learned weights changes the table
    contents, not the plan.

    Output: (doc_id, n_tokens, score ROUND 4, prob ROUND 4, label).
    """
    spark = df.sparkSession
    i = F.col("id").cast("int")
    weights = spark.range(n_buckets).select(
        F.format_string("%02x", i).alias("bucket"),
        ((i * 37) % 101 - 50).cast("long").alias("w64"),
    )
    tk = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
    ).select(
        F.col(id_col),
        F.substring(F.md5(F.col("tok").cast("binary")), 1, 2).alias(
            "bucket"
        ),
    )
    scored = tk.join(F.broadcast(weights), "bucket")
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("w64").alias("s64"),
    )
    raw = F.col("s64").cast("double") / (64.0 * F.col("n_tokens"))
    half_up = F.expr(
        "CASE WHEN s64 < 0 THEN -1 ELSE 1 END"
        " * ((abs(s64) * 10000 + 32 * n_tokens) div (64 * n_tokens))"
    )
    return agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        (half_up.cast("double") / 10000).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 4).alias("prob"),
        (F.col("s64") > 0).cast("int").alias("label"),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch
    permutes the corpus by a content-free hash of (epoch, doc_id),
    sharded so no single global row_number ever materializes.

    The shard is the first hex nibble of the key (16 uniform shards;
    production uses more digits), the position is a ROW_NUMBER
    partitioned BY SHARD — windows run per-shard in parallel, and the
    global training order is simply (shard, pos).  Rerunning with the
    same epoch reproduces the exact order on any cluster size;
    changing the epoch re-permutes.

    100 TB: one hash-partition shuffle by shard + a per-shard sort —
    the same cost as any repartition, with no driver-side or
    single-partition step (a global ROW_NUMBER would serialize the
    corpus through one task; partitioned windows are the scale-legal
    formulation).

    Output: (doc_id, shuffle_key, shard, pos).
    """
    key = F.substring(
        F.md5(
            F.concat(
                F.lit(f"epoch{epoch}:"), F.col(id_col).cast("string")
            ).cast("binary")
        ),
        1,
        8,
    )
    shard = _hex_nibble(F.substring(F.col("shuffle_key"), 1, 1))
    win = (
        Window.partitionBy("shard")
        .orderBy(F.col("shuffle_key"), F.col(id_col))
    )
    return (
        df.select(F.col(id_col), key.alias("shuffle_key"))
        .select(
            F.col(id_col), F.col("shuffle_key"), shard.alias("shard")
        )
        .select(
            F.col(id_col),
            F.col("shuffle_key"),
            F.col("shard"),
            (F.row_number().over(win) - 1).cast("long").alias("pos"),
        )
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    names: tuple[str, ...] | None = None,
    c: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of bounded ranked lists (hybrid retrieval).

    The standard RAG hybrid-search combiner (Cormack et al., SIGIR'09):
    each retrieval system contributes ``1 / (c + rank)`` for every doc it
    returned; systems that missed a doc contribute 0.  Rank-based fusion
    sidesteps score-scale mismatch between lexical (BM25, unbounded) and
    semantic (cosine, [-1, 1]) retrievers, which is why it beats naive
    score averaging without per-system calibration.

    ``ranked``: sequence of ``(df, score_col)`` pairs, each df a BOUNDED
    top-k list carrying ``(id_col, score_col)``.  Ranks are assigned by
    ``row_number`` over (score desc, id asc) — fully deterministic given
    the tie-break.

    100 TB posture: the inputs are already top-k lists (hundreds of rows
    — the expensive distributed work lives in the retrievers themselves:
    bm25_search's TakeOrderedAndProject, cosine_topk / ann_ivf's pruned
    scans), so the unpartitioned rank windows and full-outer joins here
    run on driver-scale data by construction; fusing full corpora would
    instead rank inside Window.partitionBy(query_id).

    Output: (id_col, <name>_rank ... [0 = not retrieved by that system],
    rrf_score) ordered by rrf_score desc with id tie-break, limit top_k.
    The rrf_score is a fixed-order sum of exact IEEE divisions of
    bit-identical operands, hence hash-stable unrounded.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if names is None:
        names = tuple(f"sys{i}" for i in range(len(ranked)))
    if len(names) != len(ranked):
        # zip would silently drop systems (or later fail on a missing
        # rank column) — make the mismatch loud instead.
        raise ValueError(
            f"rrf_fuse got {len(ranked)} ranked lists but "
            f"{len(names)} names"
        )
    fused: DataFrame | None = None
    for (df, score_col), name in zip(ranked, names):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        r = df.select(
            F.col(id_col),
            F.row_number().over(w).cast("long").alias(f"{name}_rank"),
        )
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
    score = None
    for name in names:
        term = F.when(F.col(f"{name}_rank").isNull(), F.lit(0.0)).otherwise(
            F.lit(1.0) / (F.lit(float(c)) + F.col(f"{name}_rank"))
        )
        score = term if score is None else score + term
    return (
        fused.select(
            F.col(id_col),
            *[
                F.coalesce(F.col(f"{n}_rank"), F.lit(0).cast("long")).alias(
                    f"{n}_rank"
                )
                for n in names
            ],
            score.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def incremental_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index-and-merge (delta) exact dedup: dedup an incoming shard
    against an EXISTING corpus without reprocessing the corpus.

    A 100 TB training pipeline never re-dedups the whole corpus per
    ingest; it keeps a content-hash INDEX (the md5 set of every
    already-accepted text — the ``exact_dedup`` output persisted
    content-addressed) and processes only the delta: (1) anti-join the
    shard's hashes against the index, (2) first-wins dedup WITHIN the
    shard.  Output is one row per genuinely new text: (text_hash,
    kept_id, n_copies_in_shard).

    Fixture framing (what makes the gate EXERCISE the drop path): docs
    with ``id < max*4 div 5`` are the indexed corpus; the incoming
    shard is everything from ``max*3 div 5`` up — i.e. the 60-80% id
    band was RE-SCRAPED (its texts are already in the index, the
    standard re-crawl situation) and the 80-100% band is new.  The
    anti-join must drop the entire re-scraped band and keep the new
    one; with all fixture texts globally distinct, a disjoint split
    would make the anti-join vacuous.  Both bounds are exact integer
    arithmetic, so both engines draw identical lines; the two split
    scalars ride one broadcast cross-join (never a driver collect).

    Scale posture: the index side is huge and must NEVER be broadcast —
    ``hint("merge")`` pins SMJ the same way the q20/q26 fact joins do
    (Catalyst's pruned-size estimate would broadcast it at fixture
    scale, the plan that OOMs at 100 TB).  In deployment the index is a
    bucketed table keyed by text_hash (sources/bucketed.py): the
    anti-join then shuffles only the incoming shard — per-ingest cost
    is O(shard), not O(corpus), which is the point of the pattern.
    """
    splits = df.agg(
        F.expr(f"(max({id_col}) * 4) div 5").alias("__idx_hi"),
        F.expr(f"(max({id_col}) * 3) div 5").alias("__shard_lo"),
    )
    d = df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
    ).crossJoin(F.broadcast(splits))
    index = (
        d.filter(F.col(id_col) < F.col("__idx_hi"))
        .select("text_hash")
        .distinct()
    )
    shard = d.filter(F.col(id_col) >= F.col("__shard_lo")).select(
        id_col, "text_hash"
    )
    fresh = shard.join(index.hint("merge"), "text_hash", "left_anti")
    return fresh.groupBy("text_hash").agg(
        F.min(id_col).alias("kept_id"),
        F.count("*").alias("n_copies_in_shard"),
    )
