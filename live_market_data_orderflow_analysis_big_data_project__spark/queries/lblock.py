"""L-block — LLM-data-pipeline queries (SURVEY.md section 2.3; the
BASELINE.json north star: dedup, similarity search, multimodal metadata,
text analysis over the ``documents``/``embeddings`` fixtures).

Every exact formulation is hash-checked against a DuckDB twin; the
LSH/IVF scale-path variants are approximate by construction — q93b ships
as a self-certifying recall envelope (hash-gated), q91b/q92b remain
declared rows-only until their r19 window re-entry (recall hash-gated via
q136 meanwhile).  The operator implementations live in
operators/llmops.py with the 100 TB design notes.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from ..operators.llmops import (
    LANG_MARKERS,
    ann_ivf,
    cosine_near_dup_pairs,
    cosine_topk,
    duckdb_shift,
    exact_dedup,
    lang_id,
    quality_score,
    feature_relation,
    jaccard_pairs,
    rolling_fingerprint,
    rolling_fingerprint_fast,
    rolling_fingerprint_sql,
    knn_join,
    knn_join_lsh,
    minhash_lsh_pairs,
    shingles_col,
    simhash_fingerprints,
    simhash_hex_digits,
    simhash_near_dup_pairs,
    simhash_sql_votes,
    tfidf,
    tokens_col,
)
from ..operators.multimodal import extract_features, sample_frames, with_payload
from ..session import run_concurrent
from ..sources.tables import load_table

# DuckDB twin of operators/llmops.py::tokens_col
_DUCK_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- q90: exact dedup by content hash ---------------------------------------
def q90_exact_dedup(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


Q90_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS kept_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --- q91: near-dup pairs via exact 3-shingle Jaccard ------------------------
# Token-SET jaccard saturates on the fixture's 31-word vocabulary (every
# doc pair overlaps); 3-word shingles isolate the 25 planted near-dup
# pairs at threshold 0.5.  jaccard is one IEEE division of exact ints —
# no rounding needed for hash parity.
#
# BOUNDED input (doc_id < 1000), like q93/q103: the exact shingle-key
# self-join is quadratic in per-shingle document frequency, so the exact
# formulation runs on a constant-size slice regardless of data scale
# (covers the whole table at sf<=0.01).  The unbounded full-table scale
# path is q91b's MinHash+LSH banding — bucketed candidate generation,
# near-linear.
_Q91_BOUND = 1000


def q91_near_dedup_jaccard(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < _Q91_BOUND)
    return jaccard_pairs(docs, threshold=0.5, ngram=3)


Q91_SQL = f"""
WITH docs AS (
  SELECT doc_id AS doc, {_DUCK_TOKS} AS arr FROM documents
  WHERE doc_id < {_Q91_BOUND}
), toks AS (
  SELECT doc, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos FROM docs
), sh AS (
  SELECT DISTINCT a.doc, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc = b.doc AND b.pos = a.pos + 1
  JOIN toks c ON a.doc = c.doc AND c.pos = a.pos + 2
), sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
"""


# --- q91b: MinHash+LSH banded near-dup (scale path; rows-only) --------------
def q91b_near_dedup_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(
        _t(spark, sf, "documents"), threshold=0.5, ngram=3
    )


# --- q92: brute-force cosine top-k against a probe vector -------------------
def q92_cosine_topk(spark, sf):
    return cosine_topk(_t(spark, sf, "embeddings"), probe_id=0, k=10)


Q92_SQL = """
WITH p AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS probe
  FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       ROUND(list_cosine_similarity(
               list_transform(embedding, x -> CAST(x AS DOUBLE)), probe), 4) AS sim
FROM embeddings, p
ORDER BY sim DESC, vec_id ASC
LIMIT 10
"""


# --- q92b: IVF approximate top-k (scale path; rows-only) --------------------
# n_probe=8/16: the fixture embeddings are uniform on the 64-d unit
# sphere — IVF's adversarial case (no cluster structure, neighbors spread
# across cells), where recall ~ fraction of cells probed.  Measured on
# sf0.001 over 10 probes: n_probe=4 -> 0.71 mean recall, 8 -> 0.87,
# 10 -> 0.96 (tests/test_llmops.py gates the shipped config at >= 0.75
# mean / 0.6 min).  Real embedding corpora cluster, so production tunes
# n_probe DOWN against a recall target; the fixture number is the floor,
# not the ceiling.
def q92b_cosine_topk_ivf(spark, sf):
    # seed pinned EXPLICITLY (not via ann_ivf's default) so the q136
    # recall floors' provenance is visible at the call site: the floors
    # were measured with this exact (seed, k, n_probe) configuration.
    return ann_ivf(
        _t(spark, sf, "embeddings"), probe_id=0, k=10, n_clusters=16,
        n_probe=8, seed=42,
    )


# --- q93: exact k-NN self-join on a bounded sample --------------------------
def q93_knn_join(spark, sf):
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 50)
    return knn_join(emb, k=3)


Q93_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 50
), pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
  FROM e a JOIN e b ON a.vec_id != b.vec_id
)
SELECT left_id, right_id, rn, sim FROM (
  SELECT left_id, right_id, sim,
         row_number() OVER (PARTITION BY left_id
                            ORDER BY sim DESC, right_id ASC) AS rn
  FROM pairs
) WHERE rn <= 3
"""


# --- q93b: approximate k-NN via random-projection LSH (scale path) ----------
# Upgraded r16 from rows-only to a SELF-CERTIFYING ENVELOPE hash gate
# (the q34/q99b/q136 pattern, VERDICT r15 item 3): the LSH candidate set
# itself cannot be value-hashed (which candidates survive depends on the
# random-projection buckets), but its RECALL against the exact twin can.
# The entry computes BOTH paths on the bounded 50-vector slice, left-joins
# exact->approx with a hit marker (one pass, the q136 shape), and emits
# (path, n_exact, recall_ok) where the oracle recomputes n_exact from
# q93's exact SQL and recall_ok is literal TRUE — so a recall drop below
# the q136 floor (0.9; measured 1.0|0.993|0.96 at sf0.001|0.01|0.1 with
# knn_join_lsh's pinned seed=42) flips the driver hash.  Pure-DataFrame
# formulation — no collect; the boolean is computed inside the agg
# projection, one Spark action for the whole envelope.
def q93b_knn_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 50)
    exact = knn_join(emb, k=3).select("left_id", "right_id")
    approx = knn_join_lsh(emb, k=3).select("left_id", "right_id")
    return (
        exact.join(
            approx.withColumn("__hit", F.lit(1)),
            ["left_id", "right_id"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            F.lit("q93b_vs_q93").alias("path"),
            F.col("n_exact"),
            (
                F.col("n_hit")
                >= _Q136_FLOORS["q93b_vs_q93"] * F.col("n_exact")
            ).alias("recall_ok"),
        )
    )


Q93B_SQL = f"""
SELECT 'q93b_vs_q93' AS path,
       (SELECT count(*) FROM ({Q93_SQL}) t) AS n_exact,
       TRUE AS recall_ok
"""


# --- q103: embedding-cosine near-duplicate pairs ----------------------------
# All-pairs baseline on a bounded slice (the scale path is q93b's LSH /
# q92b's IVF); sim rounded identically on both sides before the filter.
def q103_embedding_near_dup(spark, sf):
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    return cosine_near_dup_pairs(emb, threshold=0.4)


Q103_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 500
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
"""


# --- q94: tokenize + word count (top 30) ------------------------------------
def q94_tokenize_wordcount(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(30)
    )


Q94_SQL = f"""
WITH toks AS (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
SELECT word, count(*) AS n
FROM toks
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 30
"""


# --- q95: bigram extraction + counts (top 30) -------------------------------
def q95_ngrams(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(shingles_col("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


Q95_SQL = f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_TOKS} AS arr FROM documents
), toks AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos FROM docs
), big AS (
  SELECT a.tok || ' ' || b.tok AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
)
SELECT bigram, count(*) AS n
FROM big
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 30
"""


# --- q96: exact TF-IDF per (doc, term) --------------------------------------
def q96_tfidf(spark, sf):
    return tfidf(_t(spark, sf, "documents"))


Q96_SQL = f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest({_DUCK_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc) AS df FROM toks GROUP BY 1
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc, term, tf, df,
       ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
FROM tf JOIN dfreq USING (term), n
"""


# --- q97: per-language/source metadata aggregation --------------------------
# The multimodal-metadata pattern: group typed metadata columns of an
# opaque-payload table (lang/source stand in for modality/codec).
def q97_lang_source_agg(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


Q97_SQL = """
SELECT lang, source, count(*) AS n_docs,
       -- BIGINT, not DuckDB's HUGEINT sum default: the driver compares
       -- through pandas, where HUGEINT lands as float64 ("3059.0" vs
       -- Spark's int64 "3059") and hash-fails on identical values.
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
"""


# --- q98: regex field extraction over text ----------------------------------
def q98_regex_extract(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"(s[a-z]+)", 1).alias("first_s_word"),
        F.regexp_extract("text", r"\b(spark|stream|scan)\b", 1).alias("first_kw"),
        (F.regexp_count("text", F.lit(r"\bvalue\b"))).alias("n_value"),
    )


Q98_SQL = r"""
SELECT doc_id,
       regexp_extract(text, '(s[a-z]+)', 1) AS first_s_word,
       regexp_extract(text, '\b(spark|stream|scan)\b', 1) AS first_kw,
       len(regexp_extract_all(text, '\bvalue\b')) AS n_value
FROM documents
"""


# --- q99: length distribution percentiles per language ----------------------
# Continuous-interpolation percentiles of INTEGER data: the interpolation
# weights (.25/.5/.75) are dyadic, so lower + (upper-lower)*g and
# (1-g)*lower + g*upper are both exact — engines agree bit-for-bit.
def q99_length_percentiles(spark, sf):
    d = _t(spark, sf, "documents")
    n = F.col("n_chars")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(n).alias("min_chars"),
        F.percentile(n, F.lit(0.25)).alias("p25"),
        F.percentile(n, F.lit(0.5)).alias("p50"),
        F.percentile(n, F.lit(0.75)).alias("p75"),
        F.max(n).alias("max_chars"),
    )


Q99_SQL = """
SELECT lang, count(*) AS n_docs,
       min(n_chars) AS min_chars,
       quantile_cont(n_chars, 0.25) AS p25,
       quantile_cont(n_chars, 0.5)  AS p50,
       quantile_cont(n_chars, 0.75) AS p75,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
"""


# --- q99b: approx percentiles (the at-scale twin of q99) ---------------------
# Exact percentile is a full sort-within-group; percentile_approx streams a
# bounded sketch (Greenwald-Khanna) through the same partial+final agg, the
# right trade at 100 TB.  Sketch outputs differ across engines, so the gate
# formulation HASH-GATES THE ENVELOPE instead (the q34 HLL pattern,
# upgraded from rows-only in round 5): it computes the exact twin
# alongside and emits exact values + booleans asserting the sketch landed
# within 10% — the oracle emits literal TRUE, so a hash-pass PROVES the
# sketch accuracy rather than just running it.  The scale path itself is
# the approx agg alone; the exact columns exist only to judge it.
def q99b_length_percentiles_approx(spark, sf):
    d = _t(spark, sf, "documents")
    n = F.col("n_chars")
    tol = 0.10

    def _ok(approx, exact):
        return (
            F.abs(approx.cast("double") - exact)
            <= F.lit(tol) * exact
        )

    ex50 = F.percentile(n, F.lit(0.5))
    ex95 = F.percentile(n, F.lit(0.95))
    ap50 = F.percentile_approx(n, F.lit(0.5), F.lit(1000))
    ap95 = F.percentile_approx(n, F.lit(0.95), F.lit(1000))
    # p95's interpolation weight is NON-dyadic: engines may compute
    # lower+(upper-lower)*g vs (1-g)*lower+g*upper and diverge in the last
    # ulp, so the exact columns are ROUND(...,4) on BOTH sides (the repo's
    # float convention) — the hash gate must not compare raw float repr.
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(ex50, 4).alias("p50_exact"),
        F.round(ex95, 4).alias("p95_exact"),
        _ok(ap50, ex50).alias("p50_approx_ok"),
        _ok(ap95, ex95).alias("p95_approx_ok"),
    )


Q99B_SQL = """
SELECT lang, count(*) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 4)  AS p50_exact,
       ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_exact,
       TRUE AS p50_approx_ok,
       TRUE AS p95_approx_ok
FROM documents
GROUP BY lang
"""


# --- q91c: SimHash document fingerprints ------------------------------------
# md5-derived bits (not xxhash) so the DuckDB twin computes the identical
# fingerprint; formulas for every bit come from one shared generator
# (operators/llmops.py::simhash_sql_votes) so the two engines cannot drift.
def q91c_simhash(spark, sf):
    return simhash_fingerprints(_t(spark, sf, "documents"), n_bits=32)


def _q91c_sql() -> str:
    hex_cols = ",\n         ".join(simhash_hex_digits(32))
    votes = simhash_sql_votes(32, duckdb_shift)
    vote_cols = ",\n         ".join(f"{v} AS v{b}" for b, v in enumerate(votes))
    fp = " || ".join(
        f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(32)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({_DUCK_TOKS}) AS tok FROM documents
), hexed AS (
  SELECT doc,
         {hex_cols}
  FROM toks
), voted AS (
  SELECT doc,
         {vote_cols}
  FROM hexed GROUP BY doc
)
SELECT doc, {fp} AS simhash
FROM voted
"""


Q91C_SQL = _q91c_sql()


# --- q91d: SimHash near-dup pairs (banded Hamming join) ----------------------
# Bit-band bucket join with EXACT recall (pigeonhole: hamming <= n_bands-1
# guarantees one intact band), so unlike MinHash banding this is
# deterministic and hash-checked.  The oracle recomputes the identical
# fingerprints and verifies via all-pairs Hamming over the same bounded
# slice (bounded like q91: band buckets saturate on the fixture's 31-word
# vocabulary; real 64-bit fingerprints keep buckets near-unique).
def q91d_simhash_pairs(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < _Q91_BOUND)
    return simhash_near_dup_pairs(docs, max_hamming=2, n_bits=32, n_bands=4)


def _q91d_sql(n_bits: int = 32, max_hamming: int = 2) -> str:
    hex_cols = ",\n         ".join(simhash_hex_digits(n_bits))
    votes = simhash_sql_votes(n_bits, duckdb_shift)
    vote_cols = ",\n         ".join(f"{v} AS v{b}" for b, v in enumerate(votes))
    fp = " || ".join(
        f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(n_bits)
    )
    ham = " + ".join(
        f"CASE WHEN substring(a.simhash, {i + 1}, 1) <> "
        f"substring(b.simhash, {i + 1}, 1) THEN 1 ELSE 0 END"
        for i in range(n_bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({_DUCK_TOKS}) AS tok FROM documents
  WHERE doc_id < {_Q91_BOUND}
), hexed AS (
  SELECT doc,
         {hex_cols}
  FROM toks
), voted AS (
  SELECT doc,
         {vote_cols}
  FROM hexed GROUP BY doc
), fps AS (
  SELECT doc, {fp} AS simhash FROM voted
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         CAST({ham} AS INTEGER) AS hamming
  FROM fps a JOIN fps b ON a.doc < b.doc
)
WHERE hamming <= {max_hamming}
"""


Q91D_SQL = _q91d_sql()


# --- q100: multimodal binary payload + mapInPandas feature extraction -------
# Opaque binary column + typed metadata; byte-level features computed in
# Arrow-batched Python (operators/multimodal.py — the decode step for real
# media is stubbed, the Spark plumbing is real).  DuckDB verifies the
# features byte-for-byte (md5 of the same UTF-8 payload).
def q100_multimodal_features(spark, sf):
    d = _t(spark, sf, "documents")
    return extract_features(with_payload(d))


Q100_SQL = """
SELECT doc_id,
       'text' AS modality,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CASE WHEN strlen(text) > 0
            THEN unicode(substring(text, 1, 1)) END AS first_byte
FROM documents
"""


# --- q105: frame-sampling over binary payloads ------------------------------
# Video-style frame sampling plumbing (1 payload row -> k frame rows inside
# mapInPandas) with a deterministic fake sampler: evenly spaced byte
# offsets, inclusive endpoints.  The fixture payload is UTF-8 ASCII text,
# so DuckDB recomputes the identical offsets/bytes from the text column.
def q105_frame_sample(spark, sf):
    d = _t(spark, sf, "documents")
    return sample_frames(with_payload(d), n_frames=4)


Q105_SQL = """
WITH f AS (SELECT unnest([0, 1, 2, 3]) AS frame_idx),
d AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n FROM documents)
SELECT doc_id, frame_idx,
       (frame_idx * (n - 1)) // 3 AS "offset",
       unicode(substring(text, CAST((frame_idx * (n - 1)) // 3 AS INT) + 1, 1))
         AS frame_byte
FROM d, f
WHERE n > 0
"""


# --- q101: heuristic language ID --------------------------------------------
def q101_lang_id(spark, sf):
    return lang_id(_t(spark, sf, "documents"))


def _q101_sql() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ",\n       ".join(
        "len(list_intersect(t, ["
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        + f"])) AS {lang}_hits"
        for lang in langs
    )
    whens = []
    for lang in langs:
        conds = []
        for other in langs:
            if other < lang:
                conds.append(f"{lang}_hits > {other}_hits")
            elif other > lang:
                conds.append(f"{lang}_hits >= {other}_hits")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " END"
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, list_distinct({_DUCK_TOKS}) AS t FROM documents
), hits AS (
  SELECT doc,
       {hits}
  FROM toks
)
SELECT doc, de_hits, en_hits, es_hits, fr_hits, zh_hits,
       {case} AS predicted_lang
FROM hits
"""


Q101_SQL = _q101_sql()


# --- q102: document quality scoring -----------------------------------------
Q102_SQL = rf"""
WITH x AS (
  SELECT doc_id AS doc, text,
         length(text) AS n_chars_text,
         len({_DUCK_TOKS}) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS n_bpe_tokens,
         len(list_intersect(list_distinct({_DUCK_TOKS}),
                            ['the', 'a', 'of', 'and', 'value']))
           AS n_stopword_types,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc, n_chars_text, n_tokens, n_bpe_tokens, n_stopword_types, n_punct,
       ROUND(least(n_chars_text / 500.0, 1.0) * 0.5
             + (CAST(n_stopword_types AS DOUBLE) / greatest(n_tokens, 1)) * 0.3
             + (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars_text, 1)) * 0.2,
             4) AS quality
FROM x
"""


def q102_quality_score(spark, sf):
    return quality_score(_t(spark, sf, "documents"))


# --- q104: rolling-hash document fingerprints -------------------------------
# Rabin-Karp char-8-gram polynomial hashes (winnowing/MOSS family): per-doc
# min/max/distinct fingerprint summary, exact BIGINT parity with the oracle.
# Uses the Arrow+numpy formulation: measured ~20x faster than the pure-JVM
# expression twin (interpreted HOF overhead dominates at ~2400 element
# evals/row); rolling_fingerprint (expression) is pinned to identical
# output by tests/test_llmops.py::test_rolling_fingerprint_fast_parity.
def q104_rolling_fingerprint(spark, sf):
    return rolling_fingerprint_fast(_t(spark, sf, "documents"))


Q104_SQL = rolling_fingerprint_sql()


# --- q136: ANN recall gate (driver-visible envelope for the rows-only paths)
# The three probabilistic pair-set paths (q91b MinHash banding, q92b IVF,
# q93b random-projection LSH) cannot be value-hashed — which candidates
# survive depends on hash banding / KMeans cells.  What CAN be gated is
# their RECALL against the exact twins: this entry computes both paths
# per family on the bounded slices, measures recall as distributed
# count aggregates (only the three summary scalars reach the driver),
# and emits (path, n_exact, recall_ok) where the oracle's n_exact comes
# from the exact twins' SQL and recall_ok is literal TRUE — the same
# envelope pattern as q34/q99b.  Floors are the measured values from
# tests/test_llmops.py minus margin: 0.9 / 0.65 / 0.9 (measured at
# sf0.001|0.01|0.1: q91b 1.0 everywhere, q92b 0.7|1.0|0.9 for probe 0,
# q93b 1.0|0.993|0.96).
#
# SPARK-VERSION PIN: the q92b floor depends on KMeans initialization
# (seeded k-means||); a Spark upgrade that changes initialization can
# shift which cells the true neighbours land in and flip recall_ok with
# nothing pointing at the seed drift.  Floor provenance: measured on
# **pyspark 4.1.2** with seed=42 pinned explicitly at both ann_ivf call
# sites (q92b wrapper + the fams table below); measured min across
# sf0.001|0.01|0.1 for probe 0 is 0.7 (uniform-sphere fixture — IVF's
# adversarial case), so the floor is 0.65 = measured min minus margin
# (was 0.6 before the seed pin; raised per VERDICT r6 item 5).  The
# measured magnitudes are recorded in ``Q136_LAST_RECALLS`` (and logged)
# on every run — on a gate failure, compare those against the
# measured-min table above FIRST: values just under the floor with an
# unchanged fixture mean seed/version drift, not an algorithm regression.
_Q136_FLOORS = {
    "q91b_vs_q91": 0.9,
    "q92b_vs_q92": 0.65,
    "q93b_vs_q93": 0.9,
}

# Diagnostic side-channel (VERDICT r5 item 7): measured recall magnitudes
# from the latest q136 run, keyed like _Q136_FLOORS.  The gated output
# stays oracle-reproducible (booleans); drift below the floor is visible
# here before it flips the gate.
Q136_LAST_RECALLS: dict[str, float] = {}


def q136_ann_recall_gate(spark, sf):
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < _Q91_BOUND)
    emb = _t(spark, sf, "embeddings")
    emb50 = emb.filter(F.col("vec_id") < 50)

    # Families are BUILT inside their worker threads (r17): construction
    # itself runs blocking Spark jobs (the llmops eager feature-relation
    # cut, ann_ivf's KMeans fit, knn_join_lsh's LSH fit) — built
    # up-front on the caller thread, those jobs serialized and the
    # "concurrent" families only overlapped the final joins (the r16
    # q136 3 s -> 7 s regression, VERDICT item 2).  The q91b family
    # additionally shares ONE feature relation between its exact and
    # approx sides (identical (doc, 3-shingle) distinct relation —
    # llmops ``features=`` injection) instead of materializing it twice.
    def _build(path):
        if path == "q91b_vs_q91":
            feats = feature_relation(docs, ngram=3)
            return (
                jaccard_pairs(
                    docs, threshold=0.5, ngram=3, features=feats
                ).select("doc_a", "doc_b"),
                minhash_lsh_pairs(
                    docs, threshold=0.5, ngram=3, features=feats
                ).select("doc_a", "doc_b"),
                ["doc_a", "doc_b"],
            )
        if path == "q92b_vs_q92":
            return (
                cosine_topk(emb, probe_id=0, k=10).select("vec_id"),
                ann_ivf(
                    emb, probe_id=0, k=10, n_clusters=16, n_probe=8,
                    seed=42,
                ).select("vec_id"),
                ["vec_id"],
            )
        return (
            knn_join(emb50, k=3).select("left_id", "right_id"),
            knn_join_lsh(emb50, k=3).select("left_id", "right_id"),
            ["left_id", "right_id"],
        )

    def _family(path):
        exact, approx, on = _build(path)
        # One action per family: left-join the approx side with a hit
        # marker so n_exact and n_hit come from a single pass (the exact
        # pair-sets are the expensive part; computing them twice doubled
        # the gate's cost).
        hit = exact.join(
            approx.withColumn("__hit", F.lit(1)), on, "left"
        ).agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hit"),
        ).collect()[0]
        recall = (
            round(hit["n_hit"] / hit["n_exact"], 4) if hit["n_exact"] else 1.0
        )
        Q136_LAST_RECALLS[path] = recall
        _LOG.info(
            "q136 recall %s = %.4f (floor %.2f, n_exact %d)",
            path, recall, _Q136_FLOORS[path], hit["n_exact"],
        )
        return (
            path,
            hit["n_exact"],
            hit["n_hit"] >= _Q136_FLOORS[path] * hit["n_exact"],
        )

    # The three families are independent blocking collects — run them
    # as concurrent Spark jobs; a failing family cancels its siblings'
    # jobs.  Rows come back in paths order, so the output is
    # order-deterministic regardless of which family finishes first.
    paths = ("q91b_vs_q91", "q92b_vs_q92", "q93b_vs_q93")
    rows = run_concurrent(spark, *(lambda p=p: _family(p) for p in paths))
    return spark.createDataFrame(
        rows, "path string, n_exact long, recall_ok boolean"
    )


Q136_SQL = f"""
SELECT 'q91b_vs_q91' AS path,
       (SELECT count(*) FROM ({Q91_SQL}) t) AS n_exact,
       TRUE AS recall_ok
UNION ALL
SELECT 'q92b_vs_q92', (SELECT count(*) FROM ({Q92_SQL}) t), TRUE
UNION ALL
SELECT 'q93b_vs_q93', (SELECT count(*) FROM ({Q93_SQL}) t), TRUE
"""


QUERIES = {
    "q90_exact_dedup": q90_exact_dedup,
    "q91_near_dedup_jaccard": q91_near_dedup_jaccard,
    "q91b_near_dedup_minhash_lsh": q91b_near_dedup_minhash_lsh,
    "q91c_simhash": q91c_simhash,
    "q91d_simhash_pairs": q91d_simhash_pairs,
    "q100_multimodal_features": q100_multimodal_features,
    "q101_lang_id": q101_lang_id,
    "q102_quality_score": q102_quality_score,
    "q104_rolling_fingerprint": q104_rolling_fingerprint,
    "q105_frame_sample": q105_frame_sample,
    "q92_cosine_topk": q92_cosine_topk,
    "q92b_cosine_topk_ivf": q92b_cosine_topk_ivf,
    "q93_knn_join": q93_knn_join,
    "q93b_knn_lsh": q93b_knn_lsh,
    "q103_embedding_near_dup": q103_embedding_near_dup,
    "q94_tokenize_wordcount": q94_tokenize_wordcount,
    "q95_ngrams": q95_ngrams,
    "q96_tfidf": q96_tfidf,
    "q97_lang_source_agg": q97_lang_source_agg,
    "q98_regex_extract": q98_regex_extract,
    "q99_length_percentiles": q99_length_percentiles,
    "q99b_length_percentiles_approx": q99b_length_percentiles_approx,
    "q136_ann_recall_gate": q136_ann_recall_gate,
}

ORACLE = {
    "q90_exact_dedup": Q90_SQL,
    "q91_near_dedup_jaccard": Q91_SQL,
    "q91b_near_dedup_minhash_lsh": None,  # LSH recall probabilistic; rows-only
    "q91c_simhash": Q91C_SQL,
    "q91d_simhash_pairs": Q91D_SQL,  # banded Hamming join, exact recall
    "q100_multimodal_features": Q100_SQL,
    "q101_lang_id": Q101_SQL,
    "q102_quality_score": Q102_SQL,
    "q104_rolling_fingerprint": Q104_SQL,
    "q105_frame_sample": Q105_SQL,
    "q92_cosine_topk": Q92_SQL,
    "q92b_cosine_topk_ivf": None,  # IVF cells approximate; rows-only
    "q93_knn_join": Q93_SQL,
    "q93b_knn_lsh": Q93B_SQL,  # envelope hash gate (upgraded r16)
    "q103_embedding_near_dup": Q103_SQL,
    "q94_tokenize_wordcount": Q94_SQL,
    "q95_ngrams": Q95_SQL,
    "q96_tfidf": Q96_SQL,
    "q97_lang_source_agg": Q97_SQL,
    "q98_regex_extract": Q98_SQL,
    "q99_length_percentiles": Q99_SQL,
    "q99b_length_percentiles_approx": Q99B_SQL,  # envelope gate (q34 pattern)
    "q136_ann_recall_gate": Q136_SQL,  # recall envelope for the rows-only paths
}
