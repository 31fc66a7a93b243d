"""Prefix-filtered set-similarity self-join — exact Jaccard over token
SETS without the all-pairs join (the AllPairs/PPJoin family; public:
Bayardo-Ma-Srikant "Scaling Up All Pairs Similarity Search", WWW'07;
Xiao et al. PPJoin, WWW'08).

The engine's near-dup family blocks by VALUE so far: shingle equality
(q91), MinHash bands (q91b), SimHash bands (q91c/q91d/q149), FastSS
deletion variants (q146).  This module adds the frequency-ordered
PREFIX filter — the canonical lossless blocking for threshold Jaccard
over sets:

  order every document's distinct tokens by GLOBAL document frequency
  (rarest first, token tiebreak — one total order shared by all docs);
  for threshold t a doc with L tokens indexes only its first
  ``L - ceil(t*L) + 1`` tokens (its *prefix*).  If two docs have
  Jaccard >= t their prefixes must share at least one token (pigeonhole
  on the ordered tails: missing every prefix token of the other side
  caps the intersection below the threshold), so joining on prefix
  tokens alone loses no qualifying pair — the hash gate against the
  naive all-pairs oracle proves exactly that.

Scale shape: candidate volume is sum over PREFIX tokens of bucket^2,
and the global rarest-first order makes prefix tokens the RARE ones —
the frequency-skew immunity plain token blocking lacks (a stopword is
in every doc's tail, never its prefix, so it never generates a single
candidate).  Candidates then pass PPJoin's LENGTH FILTER
(den*Lmin >= num*Lmax, exact integers — a qualifying pair's sizes
cannot differ by more than the threshold ratio) BEFORE the verify
join, so skewed-length pairs never generate verify traffic.  Everything is equi-joins + integer arithmetic inside
whole-stage codegen; threshold comparison is cross-multiplied exact
integers (no float epsilon at the boundary); the final jaccard column
is the same two-integer IEEE division as the oracle's.

At 100 TB: build (token df + per-doc ordering) is one wordcount-class
shuffle; the candidate join's input is the prefix-token postings —
persist them bucketed by token (the q148/q173 index posture) and an
incremental shard joins only its own prefix postings (the q137/q149
index-and-merge shape carries over unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .llmops import shingles_col, tokens_col

__all__ = ["token_sets", "setsim_join"]


def token_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """Distinct (doc, tok) set elements: word tokens under the shared
    q94-q96 tokenizer for ``ngram=1``, n-word shingles (the q91
    convention) for ``ngram>=2`` — on template-vocabulary corpora
    token SETS saturate (most docs share most words; the measured
    fixture has 54k of 125k possible pairs at token-set j>=0.7) while
    shingle sets keep discriminating, the same reason q91 shingles."""
    col = (
        tokens_col(text_col) if ngram <= 1 else shingles_col(text_col, ngram)
    )
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(col).alias("tok"),
    ).distinct()


def setsim_join(
    df: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """All pairs with token-set Jaccard >= t_num/t_den:
    (doc_a, doc_b, n_a, n_b, n_inter, jaccard), doc_a < doc_b.

    The threshold is a RATIONAL (``t_num/t_den``) so both the prefix
    length ``L - ceil(t*L) + 1`` and the acceptance test
    ``n_inter * (t_den + t_num) >= t_num * (n_a + n_b)`` (the
    cross-multiplied form of inter/union >= t) are exact integer
    arithmetic — no float rounding can flip a boundary pair on either
    engine.  ``jaccard`` is emitted as the two-integer IEEE division,
    identical on both engines.

    ``max_bucket`` is the verify-traffic circuit breaker (the q146
    deletion-key cap applied to prefix postings): prefix tokens whose
    posting bucket exceeds ``max_bucket`` docs are suppressed before
    the candidate join, hard-bounding candidates per token at
    ``max_bucket^2`` — and with it the dominant scale term, the verify
    join's candidates x element-list traffic (the 16x probe's
    decomposition, docs/SCALING.md finding 14).  The global
    rarest-first order already makes prefix tokens the RARE ones, so
    healthy corpora never populate a hot prefix bucket; a hot one
    means docs whose rarest shingles are still corpus-common
    (template floods) — exactly the input that needs the breaker.
    Lossy only for a pair whose EVERY shared prefix token is hot.
    Suppression is one count agg + a broadcast anti-join over the
    tiny hot-key frame.  Default None = exact (the hash-gated
    configuration).
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")
    # r16: one eager lineage cut — the token-set frame feeds the df
    # ranking, the prefix postings, and the verify side; without the
    # cut each consumer re-tokenized the corpus from scratch (the
    # dominant repeated subtree in the q174 plan).  At scale this is
    # the module docstring's "persist the postings" posture applied
    # in-query.
    toks = token_sets(df, id_col, text_col, ngram).localCheckpoint(
        eager=True
    )
    # one global order shared by every doc: (df, tok) rarest-first
    tok_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_tdf"))
    ranked = toks.join(tok_df, "tok").select(
        "doc",
        "tok",
        F.row_number()
        .over(Window.partitionBy("doc").orderBy("_tdf", "tok"))
        .alias("_pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("_len"),
    )
    # prefix length L - ceil(t*L) + 1, ceil via integer arithmetic
    prefix_len = (
        F.col("_len")
        - F.expr(f"({t_num} * _len + {t_den} - 1) div {t_den}")
        + F.lit(1)
    )
    prefix = ranked.where(F.col("_pos") <= prefix_len).select(
        "doc", "tok", "_len"
    )
    if max_bucket is not None:
        hot = (
            prefix.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") > max_bucket)
            .select("tok")
        )
        prefix = prefix.join(F.broadcast(hot), "tok", "left_anti")
    # Candidates carry both set sizes straight off the prefix postings
    # (no separate sizes join), and the PPJoin LENGTH FILTER prunes
    # before the verify join: jaccard >= t forces
    # min(L)*(den+num) >= num*(L_a+L_b)  <=>  den*Lmin >= num*Lmax
    # (I <= Lmin substituted into the acceptance inequality) — exact
    # integers, lossless, and it cuts verify traffic (candidates x
    # element lists, the dominant 16x term) for every skewed-length
    # pair the prefix filter alone lets through.
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a._len").alias("n_a"),
            F.col("b._len").alias("n_b"),
        )
        .where(
            F.least("n_a", "n_b") * F.lit(t_den)
            >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
        .distinct()
    )
    # r16 verify shape: attach each candidate's two token SETS (sorted
    # arrays, one groupBy over the checkpointed toks) and intersect in
    # codegen, instead of re-joining the postings twice per candidate
    # — the old double equi-join streamed candidates x element-lists
    # through a shuffle and was the measured dominant stage (3.0 s of
    # a 3.5 s query at sf0.1; the array form runs it in ~0.3 s).
    # Same value: toks is distinct per doc, so |array_intersect| is
    # exactly the set intersection size.  At scale this is PPJoin's
    # standard verify (candidates carry their sets); the arrays move
    # once per side, bounded by the length-filtered candidate volume.
    sets = toks.groupBy("doc").agg(
        F.sort_array(F.collect_list("tok")).alias("_arr")
    )
    inter = (
        cands.join(
            sets.select(F.col("doc").alias("doc_a"), F.col("_arr").alias("_aa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc").alias("doc_b"), F.col("_arr").alias("_ab")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("_aa", "_ab")).alias("n_inter"),
        )
    )
    # inter/union >= t  <=>  inter*(den+num) >= num*(n_a+n_b),
    # exact integers (union = n_a + n_b - inter)
    out = inter.where(
        F.col("n_inter") * F.lit(t_den + t_num)
        >= F.lit(t_num) * (F.col("n_a") + F.col("n_b"))
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_inter").cast("long").alias("n_inter"),
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )
