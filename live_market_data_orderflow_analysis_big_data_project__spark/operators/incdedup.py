"""Incremental NEAR-duplicate detection — the index-and-merge shape
(q137 / operators/pipeline.py::incremental_dedup) lifted from exact to
similarity dedup.

A 100 TB ingest never re-runs near-dup over the whole corpus: it keeps
a FINGERPRINT INDEX (one ~8-byte SimHash per accepted doc, persisted —
the `simhash_fingerprints_long` output as a bucketed table) and, per
incoming shard, fingerprints ONLY the shard and joins its band keys
against the index's.  Emitted pairs are (new x old) and (new x new),
never (old x old) — per-ingest cost is O(shard (+ matched index
buckets)), not O(corpus).

SimHash (not MinHash) is the right fingerprint for the incremental
gate: banded recall is EXACT by pigeonhole (any pair within Hamming
distance n_bands-1 agrees on a whole band — operators/llmops.py::
simhash_near_dup_pairs), so the incremental result is deterministic
and hash-checkable against a full-corpus oracle restricted to
shard-involving pairs; a MinHash variant would be probabilistic and
rows-only.  The same two-frame structure applies to the MinHash band
index at deployment when Jaccard semantics are needed.

Scale posture: the index band table is persisted bucketed by
(band, bkey) — the candidate join then shuffles only the shard's band
rows (the q137 bucketed-index argument verbatim).  Within-shard pairs
ride the same join by unioning the shard's bands into the probe's
build side; dedup of the doubled (new x new) orientation is a
distinct on the canonicalized pair.  Fingerprint maintenance is
append-only: accepted shard docs' fingerprints append to the index,
touched buckets only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .llmops import simhash_fingerprints_long

__all__ = ["simhash_band_frame", "simhash_incremental_pairs"]


def simhash_band_frame(
    fps: DataFrame, n_bits: int = 32, n_bands: int = 4
) -> DataFrame:
    """(doc, fp_long) -> (doc, fp_long, band, bkey): one row per
    contiguous fingerprint band — the layout the persisted index is
    bucketed by.  Band j is bits [n_bits-1-j*w .. n_bits-(j+1)*w]
    (identical to simhash_near_dup_pairs' banding, so an index built
    here is candidate-compatible with the batch operator)."""
    if n_bits % n_bands:
        raise ValueError("n_bands must divide n_bits evenly")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftright("fp_long", n_bits - (j + 1) * width)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for j in range(n_bands)
    ]
    return fps.select(
        "doc", "fp_long", F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc",
        "fp_long",
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
    )


def simhash_incremental_pairs(
    index_fps: DataFrame,
    shard_docs: DataFrame,
    max_hamming: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs introduced by an incoming shard, against an
    existing fingerprint index: (doc_a, doc_b, hamming) with
    doc_a < doc_b, covering (shard x index) and (shard x shard) —
    exact recall for ``max_hamming <= n_bands - 1`` (pigeonhole).

    ``index_fps`` is the persisted (doc, fp_long) index — the corpus
    is NOT rescanned; ``shard_docs`` is raw (id, text)."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"exact recall needs max_hamming <= n_bands-1 "
            f"({max_hamming} > {n_bands - 1})"
        )
    shard_fps = simhash_fingerprints_long(
        shard_docs, id_col=id_col, text_col=text_col, n_bits=n_bits
    )
    ib = simhash_band_frame(index_fps, n_bits, n_bands)
    sb = simhash_band_frame(shard_fps, n_bits, n_bands)
    # build side = index bands + shard bands (so new x new pairs ride
    # the same join); probe side = shard bands only.  At deployment the
    # build side is the bucketed index table and only the probe
    # shuffles.
    build = ib.unionByName(sb).alias("x")
    probe = sb.alias("y")
    cand = (
        build.join(
            probe,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc") != F.col("y.doc")),
        )
        .select(
            F.least(F.col("x.doc"), F.col("y.doc")).alias("doc_a"),
            F.greatest(F.col("x.doc"), F.col("y.doc")).alias("doc_b"),
            # Hamming is symmetric, so it survives the canonicalization
            # and the distinct collapses both (new x new) orientations
            F.bit_count(
                F.col("x.fp_long").bitwiseXOR(F.col("y.fp_long"))
            )
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)

