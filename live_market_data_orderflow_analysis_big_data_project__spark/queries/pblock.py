"""P-block — corpus-curation pipeline queries (SURVEY.md section 2.4
extensions, same family as the L-block): benchmark decontamination,
deterministic sampling, shard packing, repetition filtering, PII
scrubbing, near-dup cluster collapse, stratified sampling, embedding
centroids.

Every entry is hash-checked against a DuckDB twin — including q111's
iterative connected components, whose oracle is a recursive CTE
(transitive closure), so even the one driver-loop algorithm in the
engine gets exact value verification rather than a rows-only pass.
Operator implementations and 100 TB design notes live in
operators/pipeline.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.llmops import (
    cosine_topk,
    fingerprint_overlap_pairs,
    fingerprint_overlap_sql,
    jaccard_pairs,
)
from ..operators.pipeline import (
    PII_EMAIL_RE,
    PII_PHONE_RE,
    bm25_search,
    chunk_documents,
    collapse_clusters,
    decontaminate,
    decontaminate_bloom,
    dedup_clusters,
    dup_ngram_stats,
    embedding_centroids,
    epoch_shuffle,
    hash_sample,
    incremental_dedup,
    pack_sequences,
    pack_shards,
    quality_classifier_score,
    quantize_embeddings,
    repetition_stats,
    rrf_fuse,
    scrub_pii,
    semdedup,
    source_mixture_sample,
    span_dedup_stats,
    split_assign,
    stratified_sample,
    unigram_nll_score,
)
from ..session import run_concurrent
from ..sources.compact import compact_partitioned
from ..sources.sinks import write_partitioned_parquet
from ..sources.formats import (
    read_csv_pinned,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)
from ..operators.sketches import hll_rollup_report
from ..operators.zorder import (
    linear_file_assign,
    rank_zorder_file_assign,
    write_layout,
    zorder_file_assign,
)
from ..functions.hashstable import fmt_date
from ..sources.tables import load_table
from .lblock import _Q91_BOUND, Q91_SQL, _DUCK_TOKS

_EVAL_SOURCE = "src19"  # the fixture slice standing in for a benchmark set


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "documents")


# --- q106: benchmark decontamination ----------------------------------------
# Corpus docs sharing any 5-word shingle with the "benchmark" slice
# (source = src19).  The eval side is broadcast — at 100 TB the corpus
# is flagged in one linear scan (see operators/pipeline.py).
def q106_decontaminate(spark, sf):
    d = _docs(spark, sf)
    corpus = d.filter(F.col("source") != _EVAL_SOURCE)
    eval_set = d.filter(F.col("source") == _EVAL_SOURCE)
    return decontaminate(corpus, eval_set, n=5)


Q106_SQL = f"""
WITH corpus AS (
  SELECT doc_id, {_DUCK_TOKS} AS arr FROM documents
  WHERE source <> '{_EVAL_SOURCE}'
), ev AS (
  SELECT {_DUCK_TOKS} AS arr FROM documents WHERE source = '{_EVAL_SOURCE}'
), csh AS (
  SELECT DISTINCT doc_id, array_to_string(arr[i:i+4], ' ') AS shingle
  FROM corpus, unnest(range(1, len(arr) - 3)) AS t(i)
), esh AS (
  SELECT DISTINCT array_to_string(arr[i:i+4], ' ') AS shingle
  FROM ev, unnest(range(1, len(arr) - 3)) AS t(i)
)
SELECT doc_id, count(*) AS n_shared_ngrams
FROM csh JOIN esh USING (shingle)
GROUP BY doc_id
"""


# --- q106b: bloom-prefiltered decontamination -------------------------------
# The same contract as q106 (it gates against Q106_SQL verbatim), but
# the corpus shingle stream is pre-filtered through an EXPRESSION-LEVEL
# bloom of the eval set (operators/bloom.py: k seeded xxhash64 probes
# against a bit_or-packed word map broadcast as one row — no UDF, the
# probe is codegen inside the explode stage).  Equivalence is exact:
# blooms have no false negatives, and the confirm join removes the
# false positives — so a hash PASS here proves the scale path (bloom
# when the eval set outgrows the exact-broadcast threshold) changes
# nothing semantically.  Selectivity + deliberate-FP equivalence are
# pinned in tests/test_bloom.py.
def q106b_decontaminate_bloom(spark, sf):
    d = _docs(spark, sf)
    corpus = d.filter(F.col("source") != _EVAL_SOURCE)
    eval_set = d.filter(F.col("source") == _EVAL_SOURCE)
    return decontaminate_bloom(corpus, eval_set, n=5)


# --- q107: deterministic content-hash sample --------------------------------
# Reproducible ~12.5% sample: membership is a pure function of content
# (md5 prefix < '20000000'), identical across runs/engines/cluster sizes.
def q107_hash_sample(spark, sf):
    return hash_sample(_docs(spark, sf), threshold_hex="20000000").select(
        "doc_id", "lang", "source", "sample_key"
    )


Q107_SQL = """
SELECT doc_id, lang, source, substring(md5(text), 1, 8) AS sample_key
FROM documents
WHERE substring(md5(text), 1, 8) < '20000000'
"""


# --- q108: token-budget shard packing ---------------------------------------
# Prefix-sum layout: within each source, docs in id order are cut into
# ~1000-token training shards.
def q108_shard_pack(spark, sf):
    return pack_shards(_docs(spark, sf), budget_tokens=1000)


Q108_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKS}) AS n_tokens FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
            AS BIGINT) AS shard_id
FROM t
"""


# --- q109: within-document repetition stats (Gopher-style) ------------------
def q109_repetition_stats(spark, sf):
    return repetition_stats(_docs(spark, sf), dup_ratio_flag=0.6)


# ratios use (k*20000 + n) // (2n) integer half-up (positive operands:
# DuckDB // floor == Spark div truncate) — ROUND(double,4) diverges at
# half boundaries (see repetition_stats / quality_classifier_score).
Q109_SQL = f"""
WITH pt AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_types,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM pt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       CAST((max_cnt * 20000 + n_tokens) // (2 * n_tokens) AS DOUBLE)
         / 10000 AS top_token_frac,
       CAST(((n_tokens - n_types) * 20000 + n_tokens) // (2 * n_tokens)
            AS DOUBLE) / 10000 AS dup_ratio,
       CAST(CAST(((n_tokens - n_types) * 20000 + n_tokens)
                 // (2 * n_tokens) AS DOUBLE) / 10000 > 0.6
            AS INTEGER) AS repetitive
FROM agg
"""


# --- q110: PII scrubbing ----------------------------------------------------
# The fixture text carries no PII, so the query derives a deterministic
# contact suffix from fixture columns (email always, phone for
# doc_id % 3 = 0) and both engines scrub the identical strings — the
# regex machinery is exercised end-to-end with varying redaction counts.
def q110_pii_scrub(spark, sf):
    d = _docs(spark, sf).withColumn(
        "contact_text",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return scrub_pii(d)


Q110_SQL = rf"""
WITH c AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@'
              || source || '.example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' tel 555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS contact_text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(contact_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
         '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(contact_text, '{PII_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(contact_text, '{PII_PHONE_RE}')) AS n_phones
FROM c
"""


# --- q111: near-dup cluster collapse (iterative connected components) -------
# Edges = exact-dup star edges (doc -> min doc of its md5 group; linear,
# never within-group all-pairs) UNION the verified Jaccard near-dup
# pairs (q91's bounded slice — clusters collapse VERIFIED near-dups,
# not merely fingerprint-close candidates).  Min-label propagation
# collapses transitive chains; the DuckDB twin recomputes components
# with a recursive CTE, so the iterative path is hash-checked, not
# rows-only.
def q111_dedup_clusters(spark, sf):
    d = _docs(spark, sf)
    hashed = d.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    kept = hashed.groupBy("h").agg(F.min("doc_id").alias("kept_id"))
    star = (
        hashed.join(kept, "h")
        .filter(F.col("doc_id") != F.col("kept_id"))
        .select(
            F.col("kept_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    near = jaccard_pairs(
        d.filter(F.col("doc_id") < _Q91_BOUND), threshold=0.5, ngram=3
    ).select("doc_a", "doc_b")
    return dedup_clusters(star.unionAll(near))


Q111_SQL = f"""
WITH RECURSIVE
star AS (
  SELECT g.kept_id AS doc_a, d.doc_id AS doc_b
  FROM (SELECT doc_id, md5(text) AS h FROM documents) d
  JOIN (SELECT md5(text) AS h, min(doc_id) AS kept_id
        FROM documents GROUP BY 1) g USING (h)
  WHERE d.doc_id <> g.kept_id
),
sim AS (SELECT doc_a, doc_b FROM ({Q91_SQL}) s),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM star
  UNION
  SELECT doc_a, doc_b FROM sim
),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach AS (
  SELECT a AS doc, a AS r FROM sym
  UNION
  SELECT s.a AS doc, r.r FROM sym s JOIN reach r ON r.doc = s.b
)
SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc
"""


# --- q112: deterministic stratified sample ----------------------------------
# Exact per-language quotas, ordered by content hash: a reproducible
# language-balanced split with no RNG state.
def q112_stratified_sample(spark, sf):
    return stratified_sample(_docs(spark, sf), per_stratum=20)


Q112_SQL = """
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY substring(md5(text), 1, 8), doc_id) AS rk
  FROM documents
) WHERE rk <= 20
"""


# --- q113: per-label embedding centroids ------------------------------------
def q113_embedding_centroids(spark, sf):
    return embedding_centroids(load_table(spark, sf, "embeddings"))


Q113_SQL = """
WITH x AS (
  SELECT label,
         unnest(embedding) AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT label, dim, ROUND(AVG(CAST(val AS DOUBLE)), 4) AS centroid
FROM x
GROUP BY 1, 2
"""


# --- q114: deterministic train/val/test split -------------------------------
# Content-hash ranges give disjoint, exhaustive, rerun-stable splits —
# no doc can leak between train and eval across reprocessing runs.
def q114_split_assign(spark, sf):
    return split_assign(_docs(spark, sf))


Q114_SQL = """
SELECT doc_id,
       substring(md5(text), 1, 2) AS split_key,
       CASE WHEN substring(md5(text), 1, 2) < '0a' THEN 'val'
            WHEN substring(md5(text), 1, 2) < '14' THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


# --- q115: overlapping token-chunk explosion --------------------------------
# The pretraining/RAG chunking step: 32-token chunks, stride 24
# (8-token overlap); every token lands in >= 1 chunk.
def q115_chunk_documents(spark, sf):
    return chunk_documents(_docs(spark, sf), chunk_tokens=32, stride=24)


Q115_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS arr, len({_DUCK_TOKS}) AS n FROM documents
), c AS (
  SELECT doc_id, arr,
         unnest(range(0, 1 + greatest(n - 32, 0) // 24
                         + CASE WHEN greatest(n - 32, 0) % 24 > 0
                                THEN 1 ELSE 0 END)) AS chunk_idx
  FROM t WHERE n > 0
)
SELECT doc_id, chunk_idx,
       CAST(len(arr[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(arr[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
         AS chunk_text
FROM c
"""


# --- q116: int8 embedding quantization --------------------------------------
# Per-vector symmetric scale; codes are hash-exact (IEEE double divide +
# round on both engines), not approximate.  The gate entry serializes the
# code array to one space-joined string: the driver's comparator sorts
# result rows through pandas, where array cells (numpy arrays) are
# unhashable and crash sort_values — the operator itself
# (operators/pipeline.py quantize_embeddings) still returns the real
# array<int> column for API use.
def q116_quantize_embeddings(spark, sf):
    qdf = quantize_embeddings(load_table(spark, sf, "embeddings"))
    return qdf.select(
        "vec_id", "scale", F.array_join("q", " ").alias("q_codes")
    )


Q116_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS sc
  FROM embeddings
)
SELECT vec_id,
       ROUND(sc, 6) AS scale,
       array_to_string(list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) / sc, 0) AS INTEGER)), ' ') AS q_codes
FROM s
"""


# --- q117: BM25 ranked retrieval --------------------------------------------
# Top-50 docs for a 3-term query under Okapi BM25 (Lucene IDF variant)
# — the retrieval step of a RAG/curation pipeline, complementing q96's
# per-term TF-IDF table with an actual ranked search.
_BM25_TERMS = ["spark", "merge", "window"]


def q117_bm25_search(spark, sf):
    return bm25_search(_docs(spark, sf), _BM25_TERMS, top_k=50)


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)
Q117_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
  WHERE tok IN ({_BM25_IN})
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS term_df FROM tf GROUP BY 1
)
SELECT doc_id, COUNT(*) AS n_hit_terms,
       ROUND(SUM(ln(1.0 + (n_docs - term_df + 0.5) / (term_df + 0.5))
                 * (tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))),
             4) AS score
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 50
"""


# --- q118: unigram-LM fluency score -----------------------------------------
# Per-doc average negative log-likelihood under the corpus's own
# unigram LM — the perplexity-filter shape (CCNet/KenLM) with an
# in-engine model.
def q118_unigram_nll(spark, sf):
    return unigram_nll_score(_docs(spark, sf))


Q118_SQL = f"""
WITH tk AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
), v AS (
  SELECT tok, count(*) AS cnt FROM tk GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS total FROM v
), lm AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE) / total) AS logp FROM v, tot
)
SELECT doc_id, COUNT(*) AS n_tokens, ROUND(-AVG(logp), 4) AS avg_nll
FROM tk JOIN lm USING (tok)
GROUP BY doc_id
"""


# --- q119: dedup cluster collapse -> corpus keep-list -----------------------
# The step that actually shrinks the corpus: every doc mapped to its
# q111 component (singletons form their own), kept iff it is the
# canonical (min-id) member.
def q119_dedup_collapse(spark, sf):
    return collapse_clusters(
        _docs(spark, sf), q111_dedup_clusters(spark, sf)
    )


Q119_SQL = f"""
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS INTEGER)
         AS is_kept
FROM documents d
LEFT JOIN ({Q111_SQL}) c ON c.doc_id = d.doc_id
"""


# --- q120: cross-doc span-level exact dedup (C4/CCNet paragraph shape) ------
def q120_span_dedup(spark, sf):
    return span_dedup_stats(_docs(spark, sf), span_tokens=8, flag_frac=0.5)


Q120_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS arr, len({_DUCK_TOKS}) AS n FROM documents
), c AS (
  SELECT doc_id, arr,
         unnest(range(0, 1 + greatest(n - 8, 0) // 8
                         + CASE WHEN greatest(n - 8, 0) % 8 > 0
                                THEN 1 ELSE 0 END)) AS ci
  FROM t WHERE n > 0
), s AS (
  SELECT doc_id, array_to_string(arr[ci * 8 + 1 : ci * 8 + 8], ' ') AS span
  FROM c
), f AS (
  SELECT span, count(DISTINCT doc_id) AS span_df FROM s GROUP BY 1
)
SELECT doc_id, count(*) AS n_spans,
       CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       ROUND(CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS dup_span_frac,
       CAST(ROUND(CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*), 4) >= 0.5 AS INTEGER)
         AS flagged
FROM s JOIN f USING (span)
GROUP BY doc_id
"""


# --- q121: SemDeDup cluster-scoped embedding dedup --------------------------
# Within each label (standing in for the k-means cell a production run
# gets from q113/q92b), a vector is a semantic duplicate if an earlier
# member sits within cosine 0.35; each duplicate chain keeps its first.
# Oversized clusters split into id-ordered stripes of <= 512 (a no-op at
# every fixture scale — max cluster is 218 at sf0.1 — but it caps the
# pair join at |corpus| * 512 when cluster sizes grow with the corpus;
# the 16x scale probe caught the uncapped quadratic at ratio 51.8).
def q121_semdedup(spark, sf):
    return semdedup(
        load_table(spark, sf, "embeddings"), threshold=0.35, max_cluster=512
    )


Q121_SQL = """
WITH n AS (
  SELECT vec_id, label,
         CAST((ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1)
              // 512 AS INTEGER) AS sub,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), p AS (
  SELECT b.vec_id AS id_b,
         ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
  FROM n a JOIN n b
    ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
), s AS (
  SELECT id_b,
         CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_close_earlier,
         max(sim) AS max_cos_earlier
  FROM p GROUP BY 1
)
SELECT e.vec_id, e.label,
       COALESCE(s.n_close_earlier, 0) AS n_close_earlier,
       s.max_cos_earlier,
       CAST(COALESCE(s.n_close_earlier, 0) = 0 AS INTEGER) AS is_kept
FROM embeddings e LEFT JOIN s ON s.id_b = e.vec_id
"""


# --- q122: domain-mixture resampling ----------------------------------------
def q122_source_mixture(spark, sf):
    return source_mixture_sample(_docs(spark, sf))


Q122_SQL = """
WITH w AS (
  SELECT source, count(*) AS n_src,
         strpos('0123456789abcdef', substring(md5(source), 1, 1)) AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_src) AS n_total, SUM(w) AS w_total FROM w
), dim AS (
  SELECT source,
         least(1.0, (CAST(w AS DOUBLE) / w_total)
                    * (CAST(n_total AS DOUBLE) / n_src)) AS frac
  FROM w, tot
)
SELECT d.doc_id, d.source, ROUND(frac, 4) AS sample_frac,
       CAST(frac >= 1.0
            OR substring(md5(d.text), 1, 8)
               < printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT))
            AS INTEGER) AS is_kept
FROM documents d JOIN dim USING (source)
"""


# --- q123: hashed-feature linear quality classifier -------------------------
# Weights are dyadic (multiples of 1/64), so the per-doc sum is EXACT in
# IEEE double regardless of Spark's aggregation order — the hash gate
# never rides on float summation order.
def q123_quality_classifier(spark, sf):
    return quality_classifier_score(_docs(spark, sf))


# score uses integer half-up arithmetic (|S|*10^4 + 32n) // (64n) on
# POSITIVE operands, where DuckDB's // (floor) matches Spark's div
# (truncate) — ROUND(double, 4) diverges between engines exactly on
# half boundaries, which sf0.1 hits (see quality_classifier_score).
Q123_SQL = f"""
WITH wt AS (
  SELECT printf('%02x', i) AS bucket,
         CAST((i * 37) % 101 - 50 AS BIGINT) AS w64
  FROM (SELECT unnest(range(0, 256)) AS i)
), tk AS (
  SELECT doc_id, substring(md5(tok), 1, 2) AS bucket
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
), agg AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(SUM(w64) AS BIGINT) AS s64
  FROM tk JOIN wt USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST((CASE WHEN s64 < 0 THEN -1 ELSE 1 END)
            * ((abs(s64) * 10000 + 32 * n_tokens) // (64 * n_tokens))
            AS DOUBLE) / 10000 AS score,
       ROUND(1.0 / (1.0 + exp(-(CAST(s64 AS DOUBLE) / (64.0 * n_tokens)))), 4)
         AS prob,
       CAST(s64 > 0 AS INTEGER) AS label
FROM agg
"""


# --- q124: MOSS-style fingerprint-overlap pair detection --------------------
# Char-level near-dup candidates: docs sharing >= 2 mod-7-sampled 24-gram
# fingerprints.  k=24 spans ~4 words of the synthetic vocabulary, so gram
# doc-frequency stays single-digit at every SF (the k=8 operating point
# collapsed at sf0.1: every 8-gram was corpus-boilerplate with df in the
# hundreds, and the max_df guard correctly dropped them all — leaving an
# empty result).  Detector shares no machinery with the token-level
# shingle/MinHash/SimHash family.
_FPOV = dict(k=24, p=7, max_df=50, min_shared=2)


def q124_fingerprint_overlap(spark, sf):
    return fingerprint_overlap_pairs(_docs(spark, sf), **_FPOV)


Q124_SQL = fingerprint_overlap_sql(**_FPOV)


# --- q125: deterministic epoch shuffle --------------------------------------
def q125_epoch_shuffle(spark, sf):
    return epoch_shuffle(_docs(spark, sf), epoch=7)


Q125_SQL = """
WITH k AS (
  SELECT doc_id,
         substring(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 8)
           AS shuffle_key
  FROM documents
), s AS (
  SELECT doc_id, shuffle_key,
         CAST(strpos('0123456789abcdef', substring(shuffle_key, 1, 1)) - 1
              AS INTEGER) AS shard
  FROM k
)
SELECT doc_id, shuffle_key, shard,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY shard ORDER BY shuffle_key, doc_id) - 1
            AS BIGINT) AS pos
FROM s
"""


# --- q126-q128: corpus-format IO round-trips --------------------------------
# The other at-rest formats a curation pipeline meets besides parquet
# (sources/formats.py): JSONL (corpus interchange), CSV (tabular drops),
# ORC (nested columnar).  Each entry writes a fixture table out in the
# format, reads it back with a PINNED schema (no inference pass), and
# aggregates content checksums; the oracle computes the same checksums
# straight from the parquet — so a hash-pass proves the round-trip is
# byte-lossless, not just that the files reappeared.  Checksums avoid
# float-order pitfalls: counts, integer sums, md5-distinct counts, and
# decimal-backed money sums only.
#
# Round-trip output goes to FIXED per-query paths (writers default to
# mode=overwrite), not mkdtemp: repeated bench/gate/scale-probe runs
# replace the previous copy instead of accumulating an unbounded pile of
# 16x-replicated corpora under /tmp.  Consequence: ONE harness at a
# time — two concurrent PROCESSES running the same fixed-path entry
# race each other's overwrites (FAILED_READ_FILE flakes).  The driver
# gate, bench, and sweep all run entries serially within one process;
# don't run two of those harnesses simultaneously on one host.


def _roundtrip_path(name: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_roundtrip", name
    )


def q126_jsonl_roundtrip(spark, sf):
    docs = _docs(spark, sf)
    path = _roundtrip_path("q126_docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, docs.schema, bad_records="fail")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct_text"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


Q126_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT md5(text)) AS n_distinct_text,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


_Q127_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_Q127_SCHEMA = (
    "event_id BIGINT, ts_s STRING, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def q127_csv_roundtrip(spark, sf):
    e = load_table(spark, sf, "events").select(
        "event_id",
        F.date_format("ts", _Q127_TS_FMT).alias("ts_s"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    path = _roundtrip_path("q127_events_csv")
    write_csv(e, path)
    back = read_csv_pinned(
        spark, path, StructType.fromDDL(_Q127_SCHEMA), bad_records="fail"
    )
    # n_distinct_props checks CSV quote/escape fidelity of the embedded
    # JSON column; total_value checks double -> text -> double exactness
    # (Spark writes round-trip-safe shortest reprs).
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.md5("props")).alias("n_distinct_props"),
        F.min("ts_s").alias("min_ts"),
        F.max("ts_s").alias("max_ts"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "total_value"
        ),
    )


Q127_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT md5(props)) AS n_distinct_props,
       min(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS min_ts,
       max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS max_ts,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


def q128_orc_roundtrip(spark, sf):
    em = load_table(spark, sf, "embeddings")
    path = _roundtrip_path("q128_embeddings_orc")
    write_orc(em, path)
    back = read_orc(spark, path)
    # Array fidelity via integer-exact probes (length sum, positive-element
    # count): float32 values survive ORC bit-for-bit, and sign tests stay
    # exact under the float->double widening on the oracle side.
    return back.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.size("embedding")).alias("total_dims"),
        F.sum(F.size(F.filter("embedding", lambda x: x > 0))).alias("n_pos"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


Q128_SQL = """
SELECT label, count(*) AS n_vecs,
       CAST(SUM(len(embedding)) AS BIGINT) AS total_dims,
       CAST(SUM(len(list_filter(embedding, x -> x > 0))) AS BIGINT) AS n_pos,
       min(vec_id) AS min_vec, max(vec_id) AS max_vec
FROM embeddings
GROUP BY label
"""


# --- q133: date-partitioned write -> partition-pruned read-back -------------
# The at-rest layout story's gate query (reference parity:
# tick_to_hdfs.py:62-71 date-partitions its parquet; README.md:386-391
# reads a single date= dir back).  Writes events hive-partitioned by
# event_date, reads back with a date-range filter that the scan turns
# into PartitionFilters (directory pruning — zero IO for out-of-range
# days; tests/test_sinks.py asserts the pruned file set), and aggregates
# the surviving partitions.  The oracle computes the same slice straight
# from the unpartitioned fixture — a hash-pass proves the partitioned
# round-trip is lossless AND the pruned read saw exactly the right rows.
_Q133_LO, _Q133_HI = "2024-01-05", "2024-01-09"


def q133_partition_prune(spark, sf):
    e = load_table(spark, sf, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = _roundtrip_path("q133_events_bydate")
    write_partitioned_parquet(
        e, path, partition_cols=("event_date",), mode="overwrite"
    )
    back = spark.read.parquet(path).filter(
        (F.col("event_date") >= F.lit(_Q133_LO))
        & (F.col("event_date") <= F.lit(_Q133_HI))
    )
    return back.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "total_value"
        ),
    )


Q133_SQL = f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_Q133_LO}' AND DATE '{_Q133_HI}'
GROUP BY 1, 2
"""


# --- q134: hybrid retrieval via reciprocal-rank fusion ----------------------
# The RAG-stack capstone over the engine's two retrievers: BM25 lexical
# top-50 (q117's machinery) fused with cosine-semantic top-50 against
# probe vector 0 (q92's machinery) by RRF (1/(60+rank) per system).
# doc_id and vec_id key the same corpus rows (TESTDATA.md: both 0..N-1),
# so the fusion join is id-aligned.  Rank-based fusion sidesteps the
# score-scale mismatch between the two systems; operator + 100 TB notes
# in operators/pipeline.py rrf_fuse.
def q134_hybrid_rrf(spark, sf):
    lex = bm25_search(_docs(spark, sf), _BM25_TERMS, top_k=50)
    sem = cosine_topk(
        load_table(spark, sf, "embeddings"), probe_id=0, k=50
    ).select(F.col("vec_id").alias("doc_id"), "sim")
    return rrf_fuse(
        [(lex, "score"), (sem, "sim")],
        id_col="doc_id",
        names=("lex", "sem"),
        c=60,
        top_k=20,
    )


Q134_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
  WHERE tok IN ({_BM25_IN})
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS term_df FROM tf GROUP BY 1
), lex AS (
  SELECT doc_id,
         ROUND(SUM(ln(1.0 + (n_docs - term_df + 0.5) / (term_df + 0.5))
               * (tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))),
               4) AS score
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
  GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT 50
), lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM lex
), p AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS probe
  FROM embeddings WHERE vec_id = 0
), sem AS (
  SELECT vec_id AS doc_id,
         ROUND(list_cosine_similarity(
           list_transform(embedding, x -> CAST(x AS DOUBLE)), probe), 4) AS sim
  FROM embeddings, p
  ORDER BY sim DESC, vec_id ASC
  LIMIT 50
), semr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS sem_rank
  FROM sem
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       COALESCE(lex_rank, 0) AS lex_rank,
       COALESCE(sem_rank, 0) AS sem_rank,
       (CASE WHEN lex_rank IS NULL THEN 0.0
             ELSE 1.0 / (60.0 + lex_rank) END)
       + (CASE WHEN sem_rank IS NULL THEN 0.0
               ELSE 1.0 / (60.0 + sem_rank) END) AS rrf_score
FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 20
"""


# --- q135: small-file compaction --------------------------------------------
# The streaming-ingest maintenance op: frequent triggers write one file
# per micro-batch per `date=` dir (reference tick_to_hdfs.py:70 — 10 s
# cadence); at 100 TB that is millions of tiny files and listing/footer
# IO dominates scans.  This entry fragments events into ~16 files per
# day dir (the ingest shape), compacts to one file per dir
# (sources/compact.py), and hash-verifies the compacted dataset's
# checksums against the ORIGINAL fixture — a pass proves the rewrite is
# lossless.  tests/test_sinks.py asserts the file-count collapse and
# the maxRecordsPerFile re-split for oversized partitions.
def q135_compact_small_files(spark, sf):
    e = load_table(spark, sf, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    frag = _roundtrip_path("q135_frag")
    # repartition(16) BEFORE the partitioned write is what fragments:
    # 16 source partitions -> up to 16 files per day dir.
    write_partitioned_parquet(
        e.repartition(16), frag, partition_cols=("event_date",),
        mode="overwrite",
    )
    back = compact_partitioned(
        spark,
        frag,
        _roundtrip_path("q135_compact"),
        "event_date",
        max_records_per_file=5_000_000,
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
        F.countDistinct(F.md5("props")).alias("n_distinct_props"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "total_value"
        ),
    )


Q135_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS min_event, max(event_id) AS max_event,
       count(DISTINCT md5(props)) AS n_distinct_props,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


# --- q137: incremental (index-and-merge) dedup ------------------------------
# The delta-processing pattern a 100 TB pipeline actually runs per
# ingest: docs below max(doc_id)*4 div 5 stand in for the EXISTING
# corpus — represented only by its content-hash index — and the
# incoming shard is everything from max*3 div 5 up, so the 60-80% id
# band is a RE-SCRAPE (already indexed; the anti-join must drop it all)
# and the 80-100% band is new.  Output: one row per genuinely new text
# (text_hash, kept_id, n_copies_in_shard).
# operators/pipeline.py::incremental_dedup documents the scale posture
# (merge-hinted anti-join so the index is never broadcast; bucketed
# index => per-ingest cost O(shard), not O(corpus)).
def q137_incremental_dedup(spark, sf):
    return incremental_dedup(_docs(spark, sf))


Q137_SQL = """
WITH s AS (SELECT (max(doc_id) * 4) // 5 AS idx_hi,
                  (max(doc_id) * 3) // 5 AS shard_lo
           FROM documents),
idx AS (
  SELECT DISTINCT md5(text) AS text_hash
  FROM documents, s WHERE doc_id < idx_hi
),
shard AS (
  SELECT doc_id, md5(text) AS text_hash
  FROM documents, s WHERE doc_id >= shard_lo
)
SELECT text_hash, min(doc_id) AS kept_id,
       count(*) AS n_copies_in_shard
FROM shard
WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_hash = shard.text_hash)
GROUP BY text_hash
"""


# --- q138: concat-and-chunk sequence packing --------------------------------
# q108 assigns whole docs to shards; q138 is the OTHER packing step —
# the GPT-2/Pile concat-and-chunk layout where the per-shard token
# stream is cut at exactly `capacity` tokens and docs straddle cuts.
# Per (shard, sequence): contributing docs, token fill, carry_in
# (starts mid-doc), n_starts (attention-reset points).  Fan-out is
# n_docs + n_tokens/capacity rows, never per-token.
_Q138_CAP = 256


def q138_pack_sequences(spark, sf):
    return pack_sequences(_docs(spark, sf), capacity=_Q138_CAP)


Q138_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKS}) AS n_tok,
         md5('pack:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), o AS (
  SELECT source, n_tok,
         COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY k, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM t WHERE n_tok > 0
), sp AS (
  SELECT source, s, s + n_tok AS e,
         unnest(range(CAST(s // {_Q138_CAP} AS BIGINT),
                      CAST((s + n_tok - 1) // {_Q138_CAP} + 1 AS BIGINT)))
           AS seq_id
  FROM o
)
SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST(e, (seq_id + 1) * {_Q138_CAP})
                - GREATEST(s, seq_id * {_Q138_CAP})) AS BIGINT) AS n_tokens,
       CAST(MAX(CASE WHEN s < seq_id * {_Q138_CAP} THEN 1 ELSE 0 END)
            AS INTEGER) AS carry_in,
       CAST(SUM(CASE WHEN s >= seq_id * {_Q138_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starts
FROM sp
GROUP BY source, seq_id
"""


# --- q139: duplicate-bigram fraction (Gopher A1.1 n-gram family) -------------
# q109 is unigram repetition (type/token ratio); q139 catches looped
# PHRASES — every token common, the same bigram cycling.  flagged uses
# exact integer cross-multiplication (dup share > 1/5), never float.
def q139_dup_bigram_stats(spark, sf):
    return dup_ngram_stats(_docs(spark, sf), n=2, flag_num=1, flag_den=5)


Q139_SQL = f"""
WITH g AS (
  SELECT doc_id, array_to_string(arr[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, {_DUCK_TOKS} AS arr FROM documents),
       unnest(range(1, len(arr))) AS t(i)
), per AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS dup_occ,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM per GROUP BY 1
)
SELECT doc_id, n_grams,
       CAST((dup_occ * 20000 + n_grams) // (2 * n_grams) AS DOUBLE) / 10000
         AS dup_gram_frac,
       CAST((max_cnt * 20000 + n_grams) // (2 * n_grams) AS DOUBLE) / 10000
         AS top_gram_frac,
       CAST(dup_occ * 5 > n_grams AS INTEGER) AS flagged
FROM agg
"""


# --- q140: z-order layout vs single-column sort — data-skipping math ---------
# The multi-dimensional completion of the physical-layout block
# (q131 skew / q132 bucketed / q133 partition-pruned / q135 compacted):
# lineitem written twice — Morton-interleaved on (l_partkey, l_suppkey)
# and sorted on l_partkey alone — one file per file_id= dir, then the
# per-file tile min/max (what a reader's footer pruning sees) measured
# against a box predicate selective on BOTH dims.  The assignment is a
# pure per-row integer function (operators/zorder.py), so DuckDB
# recomputes the layout exactly from the fixture: a hash pass proves
# both the losslessness of the write AND the skipping contract.
# rows_in_box and n_rows are layout-invariant (equal across the two
# rows); files_touched is the payoff: the z layout bounds BOTH tile
# ranges per file, the linear layout only tile_a's.
_Z140 = dict(bits=8, n_files=64)
_Z140_BOX = (32, 63)  # [1/8, 1/4) of each dim, in tile space
_Z140_COLS = (
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "tile_a",
    "tile_b",
    "file_id",
)


def q140_zorder_layout(spark, sf):
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zpath = _roundtrip_path("q140_zorder")
    lpath = _roundtrip_path("q140_linear")
    # The two layout writes are independent blocking jobs: run them
    # concurrently.
    z = zorder_file_assign(li, "l_partkey", "l_suppkey", **_Z140)
    lin = linear_file_assign(li, "l_partkey", "l_suppkey", **_Z140)
    run_concurrent(
        spark,
        lambda: write_layout(z.select(*_Z140_COLS), zpath),
        lambda: write_layout(lin.select(*_Z140_COLS), lpath),
    )
    back = (
        spark.read.parquet(zpath)
        .withColumn("layout", F.lit("zorder"))
        .unionByName(
            spark.read.parquet(lpath).withColumn("layout", F.lit("linear"))
        )
    )
    lo, hi = _Z140_BOX
    in_box = (
        F.col("tile_a").between(lo, hi) & F.col("tile_b").between(lo, hi)
    )
    per_file = back.groupBy("layout", "file_id").agg(
        F.min("tile_a").alias("mn_a"),
        F.max("tile_a").alias("mx_a"),
        F.min("tile_b").alias("mn_b"),
        F.max("tile_b").alias("mx_b"),
        F.count("*").alias("n_rows"),
        F.sum(in_box.cast("long")).alias("rows_in_box"),
    )
    touched = (
        (F.col("mn_a") <= hi)
        & (F.col("mx_a") >= lo)
        & (F.col("mn_b") <= hi)
        & (F.col("mx_b") >= lo)
    )
    return per_file.groupBy("layout").agg(
        F.count("*").alias("n_files_nonempty"),
        F.sum("n_rows").alias("n_rows"),
        F.sum(touched.cast("long")).alias("files_touched"),
        F.sum("rows_in_box").alias("rows_in_box"),
    )


def _z140_interleave_sql(a: str, b: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


Q140_SQL = f"""
WITH s AS (
  SELECT CAST(min(l_partkey) AS BIGINT) AS mn_a,
         CAST(max(l_partkey) AS BIGINT) AS mx_a,
         CAST(min(l_suppkey) AS BIGINT) AS mn_b,
         CAST(max(l_suppkey) AS BIGINT) AS mx_b
  FROM lineitem
), t AS (
  SELECT ((CAST(l_partkey AS BIGINT) - mn_a) * {1 << _Z140["bits"]})
           // (mx_a - mn_a + 1) AS tile_a,
         ((CAST(l_suppkey AS BIGINT) - mn_b) * {1 << _Z140["bits"]})
           // (mx_b - mn_b + 1) AS tile_b
  FROM lineitem, s
), z AS (
  SELECT tile_a, tile_b,
         {_z140_interleave_sql("tile_a", "tile_b", _Z140["bits"])} AS zval
  FROM t
), layouts AS (
  SELECT 'zorder' AS layout,
         (zval * {_Z140["n_files"]}) // {1 << (2 * _Z140["bits"])}
           AS file_id,
         tile_a, tile_b
  FROM z
  UNION ALL
  SELECT 'linear' AS layout,
         (tile_a * {_Z140["n_files"]}) // {1 << _Z140["bits"]} AS file_id,
         tile_a, tile_b
  FROM z
), pf AS (
  SELECT layout, file_id,
         min(tile_a) AS mn_a, max(tile_a) AS mx_a,
         min(tile_b) AS mn_b, max(tile_b) AS mx_b,
         count(*) AS n_rows,
         SUM(CASE WHEN tile_a BETWEEN {_Z140_BOX[0]} AND {_Z140_BOX[1]}
                   AND tile_b BETWEEN {_Z140_BOX[0]} AND {_Z140_BOX[1]}
                  THEN 1 ELSE 0 END) AS rows_in_box
  FROM layouts GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files_nonempty,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN mn_a <= {_Z140_BOX[1]} AND mx_a >= {_Z140_BOX[0]}
                      AND mn_b <= {_Z140_BOX[1]} AND mx_b >= {_Z140_BOX[0]}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       CAST(SUM(rows_in_box) AS BIGINT) AS rows_in_box
FROM pf GROUP BY layout
"""


# --- q140b: rank-tile z-order on a SKEWED column ----------------------------
# q140's value tiles are equal-WIDTH: on events.value — heavy-tailed
# (median ~35, p99 ~224, max ~490) — the dense region collapses into a
# handful of tiles, so most rows land in a FEW FAT FILES.  Rank tiles
# (operators/zorder.py::rank_zorder_file_assign) are equal-FREQUENCY:
# the exact per-distinct-value rank map (domain-sized, broadcast into
# the scan) spreads the dense region across the full tile range and
# balances rows per file.  Both layouts are written one-file-per-dir
# and measured against the SAME raw-value box predicate over the SAME
# per-file raw min/max a parquet reader's footer pruning sees.  The
# honest payoff metric under skew is ROWS SCANNED (rows in touched
# files — IO volume), not files_touched: the value layout's dense
# region is few fat files, so it can win the file COUNT while scanning
# ~1.5x the rows (measured sf0.01: 3578 vs 2504; sf0.1: 19007 vs
# 12545) — tests/test_zorder.py pins rank < value on rows_scanned.
# The b box is a FRACTION of the user range ([20%, 40%)) because
# user_id's domain scales with sf; both engines derive it from the
# same max(b) aggregate.  The map is exact (not approx_percentile) so
# DuckDB recomputes the full layout and the gate is a hash pass, not
# rows-only.
_Z140B = dict(bits=8, n_files=32)
_Z140B_BOX_A = (1000, 4000)  # raw cents box over the dense region
_Z140B_COLS = (
    "event_id",
    "v_cents",
    "user_id",
    "tile_a",
    "tile_b",
    "file_id",
)


def q140b_zorder_rank_tiles(spark, sf):
    ev = load_table(spark, sf, "events").select(
        "event_id",
        # floor() BEFORE the bigint cast on BOTH engines: Spark's
        # double->bigint CAST truncates where DuckDB's rounds.
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_cents"),
        "user_id",
    )
    vpath = _roundtrip_path("q140b_value")
    rpath = _roundtrip_path("q140b_rank")
    # Independent layout writes run concurrently (the q140 shape).
    val = zorder_file_assign(ev, "v_cents", "user_id", **_Z140B)
    rank = rank_zorder_file_assign(ev, "v_cents", "user_id", **_Z140B)
    run_concurrent(
        spark,
        lambda: write_layout(val.select(*_Z140B_COLS), vpath),
        lambda: write_layout(rank.select(*_Z140B_COLS), rpath),
    )
    back = (
        spark.read.parquet(vpath)
        .withColumn("layout", F.lit("value"))
        .unionByName(
            spark.read.parquet(rpath).withColumn("layout", F.lit("rank"))
        )
    )
    bs = ev.agg(F.max("user_id").alias("_mxb"))
    bb = (
        back.crossJoin(F.broadcast(bs))
        .withColumn("blo", F.expr("(_mxb + 1) * 2 div 10"))
        .withColumn("bhi", F.expr("(_mxb + 1) * 4 div 10 - 1"))
    )
    alo, ahi = _Z140B_BOX_A
    in_box = (
        F.col("v_cents").between(alo, ahi)
        & (F.col("user_id") >= F.col("blo"))
        & (F.col("user_id") <= F.col("bhi"))
    )
    per_file = bb.groupBy("layout", "file_id").agg(
        F.min("v_cents").alias("mn_a"),
        F.max("v_cents").alias("mx_a"),
        F.min("user_id").alias("mn_b"),
        F.max("user_id").alias("mx_b"),
        F.count("*").alias("n_rows"),
        F.sum(in_box.cast("long")).alias("rows_in_box"),
        F.min("blo").alias("blo"),
        F.min("bhi").alias("bhi"),
    )
    touched = (
        (F.col("mn_a") <= ahi)
        & (F.col("mx_a") >= alo)
        & (F.col("mn_b") <= F.col("bhi"))
        & (F.col("mx_b") >= F.col("blo"))
    )
    return per_file.groupBy("layout").agg(
        F.count("*").alias("n_files_nonempty"),
        F.sum("n_rows").alias("n_rows"),
        F.sum(touched.cast("long")).alias("files_touched"),
        F.sum(F.when(touched, F.col("n_rows")).otherwise(F.lit(0))).alias(
            "rows_scanned"
        ),
        F.sum("rows_in_box").alias("rows_in_box"),
    )


Q140B_SQL = f"""
WITH e AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS a, user_id AS b
  FROM events
), box AS (
  SELECT (max(b) + 1) * 2 // 10 AS blo,
         (max(b) + 1) * 4 // 10 - 1 AS bhi
  FROM e
), s AS (
  SELECT min(a) AS mn_a, max(a) AS mx_a,
         min(b) AS mn_b, max(b) AS mx_b
  FROM e
), vt AS (
  SELECT a, b,
         ((a - mn_a) * {1 << _Z140B["bits"]}) // (mx_a - mn_a + 1)
           AS tile_a,
         ((b - mn_b) * {1 << _Z140B["bits"]}) // (mx_b - mn_b + 1)
           AS tile_b
  FROM e, s
), ra AS (
  SELECT a AS v,
         CAST((COALESCE(SUM(n) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0)
               * {1 << _Z140B["bits"]}) // SUM(n) OVER () AS BIGINT)
           AS tile
  FROM (SELECT a, count(*) AS n FROM e GROUP BY 1)
), rb AS (
  SELECT b AS v,
         CAST((COALESCE(SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0)
               * {1 << _Z140B["bits"]}) // SUM(n) OVER () AS BIGINT)
           AS tile
  FROM (SELECT b, count(*) AS n FROM e GROUP BY 1)
), rt AS (
  SELECT e.a, e.b, ra.tile AS tile_a, rb.tile AS tile_b
  FROM e JOIN ra ON e.a = ra.v JOIN rb ON e.b = rb.v
), layouts AS (
  SELECT 'value' AS layout, a, b, tile_a, tile_b FROM vt
  UNION ALL
  SELECT 'rank' AS layout, a, b, tile_a, tile_b FROM rt
), f AS (
  SELECT layout, a, b,
         (({_z140_interleave_sql("tile_a", "tile_b", _Z140B["bits"])})
          * {_Z140B["n_files"]}) // {1 << (2 * _Z140B["bits"])} AS file_id
  FROM layouts
), pf AS (
  SELECT layout, file_id,
         min(a) AS mn_a, max(a) AS mx_a,
         min(b) AS mn_b, max(b) AS mx_b,
         count(*) AS n_rows,
         SUM(CASE WHEN a BETWEEN {_Z140B_BOX_A[0]} AND {_Z140B_BOX_A[1]}
                   AND b BETWEEN blo AND bhi
                  THEN 1 ELSE 0 END) AS rows_in_box
  FROM f, box GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files_nonempty,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN mn_a <= {_Z140B_BOX_A[1]}
                      AND mx_a >= {_Z140B_BOX_A[0]}
                      AND mn_b <= bhi AND mx_b >= blo
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       CAST(SUM(CASE WHEN mn_a <= {_Z140B_BOX_A[1]}
                      AND mx_a >= {_Z140B_BOX_A[0]}
                      AND mn_b <= bhi AND mx_b >= blo
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(rows_in_box) AS BIGINT) AS rows_in_box
FROM pf, box GROUP BY layout
"""


# --- q141: mergeable HLL sketch rollup (incremental distinct counts) --------
# The sketch-rollup pattern a 100 TB pipeline uses for distinct counts:
# one ~kB binary DataSketches HLL sketch per (event_type x day) — the
# persistable daily rollup, O(|groups| x |days|) regardless of corpus
# row count — then hll_union_agg answers any day-range question
# without rescanning rows, and incremental ingest re-sketches only the
# touched day (q137's index shape, for counts).  Gated with the q34
# bounded-error-flag pattern PLUS two exact-equality mergeability
# flags (day-bucketing == hash-shard-bucketing == single-pass).
# lgk=14 is pinned DELIBERATELY: it keeps every fixture cardinality
# (<= 1500 users at sf0.1; integer-exactness measured by bisection
# through 1609 distinct at lgk=14 — NOT the folk 2^lgk/4; see the
# operators/sketches.py docstring) in the
# sketch's coupon-exact regime, where estimates are order- and
# bucketing-independent — so all three booleans hash-gate
# deterministically (the oracle emits literal TRUE; a lossy union or
# drifting estimate is a hash FAIL).  At lgk=12 the sf0.1 fixture
# goes dense and the estimate inherits DataSketches' order-dependent
# HIP accumulator (measured: the same 1500-user set returned
# 1480-1499 through different groupings) — the dense regime is
# tolerance-audit-only, measured in
# tests/test_sketches.py::test_dense_regime_is_tolerance_only and
# documented in operators/sketches.py.  Round 10: the regime DETECTOR
# (formerly the separate hll_rollup_report_auto) is folded into the
# report — the output NAMES each group's regime, and the oracle
# recomputes the same ~2^14/10 = 1638 planning-bound comparison on
# the exact count (every fixture group is 'coupon': <= 1500 users).
def q141_hll_sketch_rollup(spark, sf):
    ev = load_table(spark, sf, "events").select(
        "event_type",
        fmt_date(F.col("ts"), "day"),
        "user_id",
    )
    return hll_rollup_report(
        ev, ["event_type"], "day", "user_id", lgk=14, tol=0.05
    )


Q141_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_buckets,
       CASE WHEN count(DISTINCT user_id) <= 1638
            THEN 'coupon' ELSE 'dense' END AS regime,
       TRUE AS rollup_eq_shard,
       TRUE AS rollup_eq_direct,
       TRUE AS est_ok
FROM events
GROUP BY event_type
"""


QUERIES = {
    "q106_decontaminate": q106_decontaminate,
    "q106b_decontaminate_bloom": q106b_decontaminate_bloom,
    "q107_hash_sample": q107_hash_sample,
    "q108_shard_pack": q108_shard_pack,
    "q109_repetition_stats": q109_repetition_stats,
    "q110_pii_scrub": q110_pii_scrub,
    "q111_dedup_clusters": q111_dedup_clusters,
    "q112_stratified_sample": q112_stratified_sample,
    "q113_embedding_centroids": q113_embedding_centroids,
    "q114_split_assign": q114_split_assign,
    "q115_chunk_documents": q115_chunk_documents,
    "q116_quantize_embeddings": q116_quantize_embeddings,
    "q117_bm25_search": q117_bm25_search,
    "q118_unigram_nll": q118_unigram_nll,
    "q119_dedup_collapse": q119_dedup_collapse,
    "q120_span_dedup": q120_span_dedup,
    "q121_semdedup": q121_semdedup,
    "q122_source_mixture": q122_source_mixture,
    "q123_quality_classifier": q123_quality_classifier,
    "q124_fingerprint_overlap": q124_fingerprint_overlap,
    "q125_epoch_shuffle": q125_epoch_shuffle,
    "q126_jsonl_roundtrip": q126_jsonl_roundtrip,
    "q127_csv_roundtrip": q127_csv_roundtrip,
    "q128_orc_roundtrip": q128_orc_roundtrip,
    "q133_partition_prune": q133_partition_prune,
    "q134_hybrid_rrf": q134_hybrid_rrf,
    "q135_compact_small_files": q135_compact_small_files,
    "q137_incremental_dedup": q137_incremental_dedup,
    "q138_pack_sequences": q138_pack_sequences,
    "q139_dup_bigram_stats": q139_dup_bigram_stats,
    "q140_zorder_layout": q140_zorder_layout,
    "q140b_zorder_rank_tiles": q140b_zorder_rank_tiles,
    "q141_hll_sketch_rollup": q141_hll_sketch_rollup,
}

ORACLE = {
    "q106_decontaminate": Q106_SQL,
    "q106b_decontaminate_bloom": Q106_SQL,
    "q107_hash_sample": Q107_SQL,
    "q108_shard_pack": Q108_SQL,
    "q109_repetition_stats": Q109_SQL,
    "q110_pii_scrub": Q110_SQL,
    "q111_dedup_clusters": Q111_SQL,
    "q112_stratified_sample": Q112_SQL,
    "q113_embedding_centroids": Q113_SQL,
    "q114_split_assign": Q114_SQL,
    "q115_chunk_documents": Q115_SQL,
    "q116_quantize_embeddings": Q116_SQL,
    "q117_bm25_search": Q117_SQL,
    "q118_unigram_nll": Q118_SQL,
    "q119_dedup_collapse": Q119_SQL,
    "q120_span_dedup": Q120_SQL,
    "q121_semdedup": Q121_SQL,
    "q122_source_mixture": Q122_SQL,
    "q123_quality_classifier": Q123_SQL,
    "q124_fingerprint_overlap": Q124_SQL,
    "q125_epoch_shuffle": Q125_SQL,
    "q126_jsonl_roundtrip": Q126_SQL,
    "q127_csv_roundtrip": Q127_SQL,
    "q128_orc_roundtrip": Q128_SQL,
    "q133_partition_prune": Q133_SQL,
    "q134_hybrid_rrf": Q134_SQL,
    "q135_compact_small_files": Q135_SQL,
    "q137_incremental_dedup": Q137_SQL,
    "q138_pack_sequences": Q138_SQL,
    "q139_dup_bigram_stats": Q139_SQL,
    "q140_zorder_layout": Q140_SQL,
    "q140b_zorder_rank_tiles": Q140B_SQL,
    "q141_hll_sketch_rollup": Q141_SQL,
}
