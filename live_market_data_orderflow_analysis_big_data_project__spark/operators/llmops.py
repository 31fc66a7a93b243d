"""LLM-data-pipeline operators: dedup, near-dup, similarity search, text
analysis (the BASELINE.json north star; SURVEY.md section 2.3 L-block).

Scale design (the 100 TB contract for each operator):

- ``exact_dedup``: hash-groupBy on md5(text) — one shuffle keyed by a
  uniformly-distributed hash, no skew by construction.
- ``jaccard_pairs``: exact token-set Jaccard via a token-key self-join.
  CORRECTNESS baseline only: common tokens make skewed join keys and the
  candidate set is quadratic in df (document frequency).  At scale use
  ``minhash_lsh_pairs``.
- ``minhash_lsh_pairs``: MinHash + banding as pure expressions (salted
  xxhash64 signatures, banded bucket self-join, exact re-verification of
  candidates) — near-linear candidate generation, the classic banded
  formulation (Broder '97; MMDS ch.3).  Same output contract as
  ``jaccard_pairs`` so callers can swap strategies.
- ``cosine_topk``: brute-force probe scan — a single narrow pass, probe
  broadcast, per-partition top-k then driver merge of k rows
  (TakeOrderedAndProject); linear and embarrassingly parallel.
- ``knn_join``: bounded-sample crossJoin baseline; the at-scale variant is
  ``knn_join_lsh`` (BucketedRandomProjectionLSH bucket-join).
- text ops (tokens/tfidf): narrow per-row expressions + keyed aggregations,
  all JVM-side higher-order functions — no Python in the hot path.
"""

from __future__ import annotations

# pyspark.ml is imported here, not inside the functions that use it: the
# recall families of one query run those functions on worker threads at
# the same moment, and concurrent first imports of pyspark.ml can see a
# partially initialized module.
from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm


def tokens_col(text_col: Column | str) -> Column:
    """Lowercased word tokens (non-word-char split, empties dropped).

    Oracle twin: ``list_filter(regexp_split_to_array(lower(text), '\\W+'),
    x -> x <> '')``.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), r"\W+"), lambda t: t != "")


def shingles_col(text_col: Column | str, n: int) -> Column:
    """n-word shingles (n-grams joined by single spaces).

    n-gram Jaccard discriminates near-dups even over tiny vocabularies
    where token-set Jaccard saturates.  Built as (n-1) chained ``zip_with``
    calls over shifted slices — n array copies per row total, vs the
    O(len) per-row slices a transform-over-sequence formulation costs
    (measured ~3x faster on the bench).  Docs with < n tokens yield an
    empty array.
    """
    toks = tokens_col(text_col)
    m = F.size(toks) - (n - 1)  # number of shingles
    grams = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(toks, j, m),
            lambda acc, nxt: F.concat(acc, F.lit(" "), nxt),
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def feature_relation(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """The distinct ``(doc, tok)`` feature relation both near-dup paths
    score over — tokens at ``ngram=1``, word shingles otherwise —
    eagerly lineage-cut (it feeds the self-join legs, the sizes agg and
    the signature agg; uncut, every consumer re-planned the whole
    scan+explode+distinct subtree).

    Exposed (r17) so a caller running BOTH the exact and the MinHash
    path over the same frame (q136's recall gate) materializes the
    relation once and passes it to each via ``features=``, instead of
    paying two identical eager builds back to back."""
    feature = (
        tokens_col(text_col) if ngram == 1 else shingles_col(text_col, ngram)
    )
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(feature).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: md5 fingerprint, kept (min) id, dup count.

    Generalizes content-addressed dedup for training corpora; md5 over the
    UTF-8 bytes so any engine computes the same fingerprint.
    """
    h = F.md5(F.col(text_col).cast("binary")).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").alias("n_copies"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    features: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard pairs with similarity >= threshold.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — a single IEEE division of exact
    integers, so bit-identical across engines with no rounding.
    ``ngram=1`` is plain token sets; ``ngram>=2`` uses word shingles,
    which stay discriminative over tiny vocabularies.

    ``features`` (optional) is a prebuilt ``feature_relation`` — the
    caller owns its materialization; by default it is built (and
    eagerly lineage-cut) here.
    """
    # r16: eager lineage cut — the distinct feature relation feeds both
    # self-join legs and the sizes agg; uncut, each consumer
    # re-tokenized the corpus (three copies of the scan+explode+distinct
    # subtree in the physical plan).
    toks = (
        feature_relation(df, id_col, text_col, ngram)
        if features is None
        else features
    )
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_tok").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def minhash_band_stages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_rows: int = 1,
    ngram: int = 1,
    features: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The candidate-generation stages of MinHash LSH, exposed so
    diagnostics measure EXACTLY the production stages: returns ``(toks, sizes, bands)`` where ``toks``
    is the distinct (doc, tok) feature relation, ``sizes`` the per-doc
    token counts, and ``bands`` the (doc, band, bkey) banding relation
    whose per-(band, bkey) group sizes drive the bucket self-join
    fan-out.  ``features`` (optional) is a prebuilt, caller-owned
    ``feature_relation``."""
    if n_hashes % band_rows:
        raise ValueError("n_hashes must be a multiple of band_rows")
    # r16: eager lineage cut — the feature relation feeds the signature
    # agg, the sizes agg, and the caller's verify side; uncut, each
    # planned its own scan+explode+distinct subtree.
    toks = (
        feature_relation(df, id_col, text_col, ngram)
        if features is None
        else features
    )
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    # one aggregation pass computes the whole signature (no per-hash scans)
    sigs = toks.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.col("tok"), F.lit(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    n_bands = n_hashes // band_rows
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(
                *[F.col(f"h{j * band_rows + t}") for t in range(band_rows)]
            ).alias("bkey"),
        )
        for j in range(n_bands)
    ]
    bands = sigs.select(
        "doc", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))
    return toks, sizes, bands


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_rows: int = 1,
    ngram: int = 1,
    features: DataFrame | None = None,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash + banded LSH (the scale path).

    Pure-expression formulation (whole-stage codegen end to end, no MLlib
    model fit, no driver-side state) in the classic two-stage shape:

    1. **Candidate generation** — each doc gets ``n_hashes`` minhash
       signatures (per-doc min of ``xxhash64(tok, salt_i)``), grouped into
       ``n_hashes/band_rows`` bands; docs agreeing on every signature in a
       band land in the same bucket, and candidates come from the bucket
       self-join.  Cost is near-linear in corpus size, never all-pairs.
    2. **Exact verification** — candidates (few, by construction) are
       re-scored with the exact token-set Jaccard and filtered at
       ``threshold``, so every emitted value is exact and false positives
       are eliminated.  Only recall is probabilistic: P[miss] =
       (1 - s^band_rows)^n_bands, ~0.4% at s=0.5 with the defaults.

    ``band_rows=1`` (OR-amplification only) maximizes recall and matches
    the MLlib ``MinHashLSH(numHashTables=n_hashes)`` bucketing this
    replaced — measured ~20x faster without the fit/UDF overhead.  At
    100 TB raise ``band_rows`` to 2 to shrink buckets (common-token min
    values make single-hash buckets skew-prone; AQE skew join handles the
    residue) and raise ``n_hashes`` to keep recall.

    Declared rows-only in the gate: the exact twin ``jaccard_pairs`` is
    the hash-checked baseline (q91); this path can drop a borderline pair
    with small probability by construction.  ``features`` (optional) is
    a prebuilt, caller-owned ``feature_relation``.
    """
    toks, sizes, bands = minhash_band_stages(
        df, id_col, text_col, n_hashes, band_rows, ngram, features
    )
    # r16 verify shape: attach each candidate's two token SETS (sorted
    # arrays with their sizes, one groupBy over the stage-shared cut
    # relation) and intersect in codegen instead of re-joining the
    # postings twice per candidate — the q174 PPJoin verify shape;
    # value-identical because the feature relation is distinct per doc.
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    sets = toks.groupBy("doc").agg(
        F.sort_array(F.collect_list("tok")).alias("_arr"),
        F.count(F.lit(1)).alias("_n"),
    )
    out = (
        cand.join(
            sets.select(
                F.col("doc").alias("doc_a"),
                F.col("_arr").alias("_aa"),
                F.col("_n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc").alias("doc_b"),
                F.col("_arr").alias("_ab"),
                F.col("_n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_aa", "_ab")).alias("n_inter"),
            "n_a",
            "n_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def cosine_topk(
    df: DataFrame,
    probe_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows most cosine-similar to the probe row's vector.

    Brute force: broadcast the 1-row probe, one narrow scan, top-k via
    orderBy+limit (compiles to per-partition top-k + driver merge of k
    rows — no global sort).  Similarity is ROUND(...,4) for cross-engine
    hash stability (libm association differs in the last ulp).
    """
    probe = df.filter(F.col(id_col) == probe_id).select(
        F.col(vec_col).alias("__probe")
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 4)
    return (
        df.crossJoin(F.broadcast(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN self-join (cosine) — bounded-sample correctness baseline.

    All-pairs is O(n²): only run on a bounded sample; the scale path is
    ``knn_join_lsh``.
    """
    a = df.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("right_id"), F.col(vec_col).alias("__vb"))
    sim = F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 4)
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("left_id") != F.col("right_id"))
        .select("left_id", "right_id", sim.alias("sim"))
    )
    w = Window.partitionBy("left_id").orderBy(
        F.col("sim").desc(), F.col("right_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("left_id", "right_id", "rn", "sim")
    )


def knn_join_lsh(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    max_l2: float = 1e9,
) -> DataFrame:
    """Approximate k-NN via BucketedRandomProjectionLSH (the scale path).

    Euclidean-LSH bucket join generates candidates near-linearly; rank
    candidates per left id by L2 distance.  Approximate (bucketing may miss
    true neighbors), hence rows-only in the correctness gate.
    """

    feats = df.select(
        F.col(id_col).alias("doc"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, max_l2, distCol="l2_dist")
    cand = pairs.select(
        F.col("datasetA.doc").alias("left_id"),
        F.col("datasetB.doc").alias("right_id"),
        F.round(F.col("l2_dist"), 4).alias("l2_dist"),
    ).filter(F.col("left_id") != F.col("right_id"))
    w = Window.partitionBy("left_id").orderBy(
        F.col("l2_dist").asc(), F.col("right_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("left_id", "right_id", "rn", "l2_dist")
    )


def simhash_hex_digits(n_bits: int) -> list[str]:
    """Per-token hex-digit value expressions ``hv{j}`` (portable SQL:
    instr over the hex alphabet converts an md5 digit to its value).
    Hoisted into a pre-projection so md5(tok) is computed once per token,
    not once per fingerprint bit."""
    return [
        f"(instr('0123456789abcdef', substring(md5(tok), {j + 1}, 1)) - 1) AS hv{j}"
        for j in range((n_bits + 3) // 4)
    ]


def simhash_sql_votes(n_bits: int, shift_fn) -> list[str]:
    """One SUM(±1) vote expression per fingerprint bit over the ``hv{j}``
    columns (shared between the Spark builder and the DuckDB oracle so the
    formulas cannot drift; only the shift-operator spelling differs)."""
    votes = []
    for b in range(n_bits):
        j, off = divmod(b, 4)
        votes.append(f"SUM(2 * ({shift_fn(f'hv{j}', 3 - off)} & 1) - 1)")
    return votes


def spark_shift(expr: str, s: int) -> str:
    return f"shiftright({expr}, {s})"


def duckdb_shift(expr: str, s: int) -> str:
    return f"({expr} >> {s})"


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """SimHash document fingerprints (Charikar '02): per distinct token,
    an md5-derived bit vector votes +1/-1 per bit position; the sign of
    each bit's vote total is the fingerprint bit.

    Near-dup docs differ in few bits (compare by Hamming distance; at
    scale, band the fingerprint prefix into bucket-join keys).  The hash
    is md5-derived rather than xxhash so a DuckDB oracle computes the
    identical fingerprint.  Output: (doc, simhash) with simhash as an
    ``n_bits``-char '0'/'1' string.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("tok")
    ).distinct()
    toks = toks.select("doc", *[F.expr(h) for h in simhash_hex_digits(n_bits)])
    votes = [
        F.expr(v).alias(f"v{b}")
        for b, v in enumerate(simhash_sql_votes(n_bits, spark_shift))
    ]
    voted = toks.groupBy("doc").agg(*votes)
    fp = F.concat(
        *[
            F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)
        ]
    )
    return voted.select("doc", fp.alias("simhash"))


def simhash_fingerprints_long(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """SimHash fingerprints packed into ONE BIGINT (bit b of the
    bit-string = bit ``n_bits-1-b`` of the integer, so the int is the
    bit-string read as binary).

    Same votes as ``simhash_fingerprints`` (the expressions are shared,
    so the two representations cannot drift); the packed form exists for
    the pair join, where integer fingerprints turn the Hamming check
    into one ``bit_count(a ^ b)`` and band keys into shift/mask — far
    cheaper than 32-char strings through a shuffle.  Requires
    ``n_bits <= 63`` (BIGINT).  Output: (doc, fp_long).
    """
    if n_bits > 63:
        raise ValueError("packed fingerprints need n_bits <= 63")
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("tok")
    ).distinct()
    toks = toks.select("doc", *[F.expr(h) for h in simhash_hex_digits(n_bits)])
    votes = [
        F.expr(v).alias(f"v{b}")
        for b, v in enumerate(simhash_sql_votes(n_bits, spark_shift))
    ]
    voted = toks.groupBy("doc").agg(*votes)
    fp = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(1 << (n_bits - 1 - b))).otherwise(
            F.lit(0)
        )
        for b in range(n_bits)
    )
    return voted.select("doc", fp.cast("long").alias("fp_long"))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: bit-band bucket join + Hamming verification.

    Completes the SimHash path (``simhash_fingerprints`` computes the
    fingerprints; this generates the pairs).  Candidate generation bands
    the fingerprint into ``n_bands`` contiguous substrings and bucket-joins
    on (band, substring); by pigeonhole, any pair within Hamming distance
    ``n_bands - 1`` agrees on at least one whole band, so for
    ``max_hamming <= n_bands - 1`` recall is EXACT — unlike MinHash
    banding, the banded result is deterministic and hash-checkable against
    an all-pairs oracle.  Fingerprints travel as packed BIGINTs
    (``simhash_fingerprints_long``): band keys are shift/mask ints and
    verification is one ``bit_count(fp_a ^ fp_b)`` — measured ~3x faster
    than the 32-char-string formulation (string band-join keys + 64
    substring compares per candidate) it replaces; the DuckDB twin keeps
    the per-bit expressions, which the parity test pins to the packed
    form.

    100 TB: bucket-join candidate generation, never all-pairs.  Bucket
    sizes track fingerprint entropy — 64-bit fingerprints over real
    corpora give near-unique bands (tiny test vocabularies saturate, which
    is why the gate query bounds its input the way q91 does).  Skewed
    buckets (a viral boilerplate fingerprint) fall to AQE skew-join
    handling like every other bucketed op here.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"exact recall needs max_hamming <= n_bands-1 "
            f"({max_hamming} > {n_bands - 1})"
        )
    if n_bits % n_bands:
        raise ValueError("n_bands must divide n_bits evenly")
    fps = simhash_fingerprints_long(
        df, id_col=id_col, text_col=text_col, n_bits=n_bits
    )
    width = n_bits // n_bands
    mask = (1 << width) - 1
    # band j = bits [n_bits-1-j*width .. n_bits-(j+1)*width] of the int,
    # i.e. the same contiguous substring the bit-string formulation banded
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftright("fp_long", n_bits - (j + 1) * width)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for j in range(n_bands)
    ]
    bands = fps.select(
        "doc", "fp_long", F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc",
        "fp_long",
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("x.fp_long").alias("fp_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("y.fp_long").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# Tiny per-language marker vocabularies for the n-gram/stopword language-ID
# heuristic.  At deployment these are the top-k stopwords per language (or
# char-trigram profiles); the operator shape is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "value"),
    "de": ("der", "die", "das", "und", "wert"),
    "es": ("el", "la", "de", "y", "valor"),
    "fr": ("le", "la", "de", "et", "valeur"),
    "zh": ("de5", "he2", "zhi1", "shi4", "zhi2"),
}


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID: distinct-token overlap with per-language
    marker vocabularies; argmax with a lexicographic tie-break.

    A narrow per-row expression (array_intersect against literal arrays)
    — no shuffle, no UDF; linear scan at any scale.  Output:
    (doc, predicted_lang, {lang}_hits per language).
    """
    toks = F.array_distinct(tokens_col(text_col))
    hit_cols = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in sorted(LANG_MARKERS.items())
    }
    out = df.select(
        F.col(id_col).alias("doc"),
        *[c.alias(f"{lang}_hits") for lang, c in hit_cols.items()],
    )
    # argmax over hit counts; ties resolve to the alphabetically first lang
    best = None
    for lang in sorted(LANG_MARKERS):
        cond = F.lit(True)
        for other in sorted(LANG_MARKERS):
            if other < lang:
                cond = cond & (F.col(f"{lang}_hits") > F.col(f"{other}_hits"))
            elif other > lang:
                cond = cond & (F.col(f"{lang}_hits") >= F.col(f"{other}_hits"))
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return out.withColumn("predicted_lang", best)


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document quality signals for corpus filtering: length, token stats,
    stopword ratio, punctuation ratio, BPE-ish token count, and a
    composite score.

    All ratios are single IEEE divisions of exact integers (bit-identical
    across engines); the composite is ROUND(...,4).  Narrow per-row
    expressions — linear at any scale.
    """
    text = F.col(text_col)
    toks = tokens_col(text_col)
    n_chars = F.length(text)
    n_toks = F.size(toks)
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    # BPE-ish pre-tokenization: letter runs, digit runs, single symbols
    n_bpe = F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    score = F.round(
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.5
        + (n_stop.cast("double") / F.greatest(n_toks, F.lit(1))) * 0.3
        + (F.lit(1.0) - n_punct.cast("double") / F.greatest(n_chars, F.lit(1)))
        * 0.2,
        4,
    )
    return df.select(
        F.col(id_col).alias("doc"),
        n_chars.cast("long").alias("n_chars_text"),
        n_toks.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_stop.cast("long").alias("n_stopword_types"),
        n_punct.cast("long").alias("n_punct"),
        score.alias("quality"),
    )


def ann_ivf(
    df: DataFrame,
    probe_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: a KMeans coarse
    quantizer partitions vectors into cells; a probe searches only the
    ``n_probe`` cells whose centroids are nearest.

    The classic FAISS-style scale path: candidate set shrinks by
    ~n_probe/n_clusters vs brute force, and the cell assignment column
    doubles as a physical partition key at rest.  The probe row and the
    centroid table are the ONLY driver-side data (one vector + n_clusters
    centroids); the scan stays distributed.  Approximate by construction
    (cells can hide true neighbors) -> rows-only in the correctness gate.
    ``n_probe=n_clusters`` degenerates to exact brute force.
    """
    import numpy as np

    feats = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    # A coarse quantizer doesn't need tight convergence: 8 iterations is
    # plenty for cell assignment (seeded, so still deterministic).
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=8, featuresCol="features"
    ).fit(feats)
    assigned = model.transform(feats)  # adds 'prediction' = cell id

    probe_vec = np.array(
        df.filter(F.col(id_col) == probe_id).select(vec_col).first()[0],
        dtype="float64",
    )
    centers = model.clusterCenters()
    cells = sorted(
        range(len(centers)),
        key=lambda c: float(np.linalg.norm(np.asarray(centers[c]) - probe_vec)),
    )[:n_probe]

    probe = df.filter(F.col(id_col) == probe_id).select(
        F.col(vec_col).alias("__probe")
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col("__probe")), 4)
    return (
        assigned.filter(F.col("prediction").isin(cells))
        .crossJoin(F.broadcast(probe))
        .select(F.col(id_col), F.col("prediction").alias("cell"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate pairs: cosine similarity >= threshold.

    All-pairs correctness baseline — run on bounded inputs only; the
    100 TB scale path is ``knn_join_lsh`` (random-projection buckets) or
    ``ann_ivf`` cells, which surface the same high-similarity pairs
    without the quadratic join.  Similarity ROUND(...,4) on both engines
    before the threshold compare so filter membership is identical.

    Each side's L2 norm is projected ONCE per vector before the pair
    join (n norms, not n² — measured ~3x on the all-pairs bench); the
    per-pair work is a single dot product.
    """
    # A bounded sample easily fits one input split, which would serialize
    # the n² pair evaluation on a single core: spread the stream side so
    # every core gets a slice of the left rows.
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    ).repartition(n_parts, F.col("id_a"))
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 4
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def tfidf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact TF-IDF per (doc, term): tf * ln(N / df), ROUND(...,4).

    Joins: term-frequency agg (keyed by doc+term), document-frequency agg
    (keyed by term, broadcast-sized vocabulary), one broadcast join back.
    At 100 TB vocabularies use MLlib HashingTF/IDF behind the same shape.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("term")
    )
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )


def gram_hash_expr(
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
) -> str:
    """Spark SQL expression string: ``array<bigint>`` of polynomial
    hashes of every character ``k``-gram of ``lower(text_col)``.

    Shared by :func:`rolling_fingerprint` (per-doc summary) and
    :func:`fingerprint_overlap_pairs` (cross-doc inverted index), so the
    hash definition can't drift between the two.

    Integer-exactness contract: Horner's rule with ``% mod`` applied at
    every step, so the accumulator never exceeds ``(mod-1)*base +
    0x10FFFF`` (~3.1e10 for the defaults) — exact in BIGINT on both
    engines for ANY ``k``, and congruent to the single-mod polynomial,
    so values are identical to the earlier dot-product formulation
    wherever that one didn't overflow (e.g. q104's pinned k=8 hashes).
    """
    if (mod - 1) * base + 0x10FFFF >= 2**63:
        raise ValueError(f"base={base}/mod={mod} overflows the Horner step")
    lower = f"lower({text_col})"
    # Docs shorter than k need an explicit empty-array branch: Spark's
    # sequence(1, 0) is a DESCENDING [1, 0], not [] (DuckDB's half-open
    # range(1, 1) is genuinely empty, so the twin needs no guard).
    return (
        f"CASE WHEN char_length({lower}) >= {k} THEN transform("
        f"  transform(sequence(1, char_length({lower}) - {k - 1}),"
        f"            i -> substring({lower}, i, {k})),"
        f"  g -> aggregate(sequence(1, {k}), cast(0 as bigint),"
        f"       (acc, j) -> (acc * {base} + ascii(substring(g, j, 1)))"
        f"                   % {mod}))"
        f" ELSE CAST(array() AS array<bigint>) END"
    )


def rolling_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Rabin-Karp-style document fingerprint: polynomial hashes of every
    character ``k``-gram, summarized per doc as (min, max, distinct-count).

    The min k-gram hash is the classic winnowing/MOSS-family fingerprint
    (Schleimer et al., SIGMOD'03): equal fingerprints => shared substrings,
    so the ``fp_min`` column is a cheap near-dup blocking key that
    complements token-level MinHash (``minhash_lsh_pairs``) and bit-level
    SimHash (``simhash_fingerprints``).

    Scale posture: one narrow per-row projection, zero shuffles, whole-stage
    codegen (nested higher-order functions, no Python).  Per-gram cost is
    O(k) with k constant, i.e. O(n_chars) per document overall — the same
    asymptotics as a true rolling update, vectorized JVM-side.

    Integer-exactness contract (what makes this hash-checkable against
    DuckDB): coefficients base^(k-1-j) and the k-term dot product stay under
    2^63 for base=31, k=8, codes <= 0x10FFFF, so both engines compute the
    identical BIGINT before the single ``% mod``.
    """
    hs = F.expr(gram_hash_expr(text_col, k=k, base=base, mod=mod))
    return df.select(
        F.col(id_col),
        F.size(hs).alias("n_grams"),
        F.array_min(hs).alias("fp_min"),
        F.array_max(hs).alias("fp_max"),
        F.size(F.array_distinct(hs)).alias("n_distinct"),
    )


def rolling_fingerprint_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
) -> str:
    """DuckDB twin of :func:`rolling_fingerprint` (same BIGINT math)."""
    pows = "[" + ",".join(str(base ** (k - 1 - j)) for j in range(k)) + "]"
    lower = f"lower({text_col})"
    # CAST to BIGINT: DuckDB's list_sum over integers yields HUGEINT, which
    # the driver's pandas comparator sees as float64 and hash-fails against
    # Spark's int64 fingerprints despite identical values.
    return f"""
WITH g AS (
  SELECT {id_col},
    list_transform(
      list_transform(range(1, greatest(len({lower}) - {k - 1}, 0) + 1),
                     i -> substring({lower}, i, {k})),
      g -> CAST(list_sum(list_transform(range(1, {k + 1}),
           j -> ascii(substring(g, j, 1)) * ({pows})[j])) % {mod} AS BIGINT)
    ) AS hs
  FROM {table}
)
SELECT {id_col}, len(hs) AS n_grams,
       list_min(hs) AS fp_min, list_max(hs) AS fp_max,
       len(list_distinct(hs)) AS n_distinct
FROM g
"""


# Selection-stage cache entries created by fingerprint_overlap_pairs, in
# creation order.  DataFrame.persist has no query-scoped lifetime, so
# without a handle the entries live until session end (docs/TUNING.md).
_FP_SELECTION_CACHE: list[DataFrame] = []


def _register_fp_cache_handle(sel: DataFrame) -> None:
    """Track one handle per DISTINCT persisted plan: ``persist()``
    dedupes identical plans to one CacheManager entry, so appending a
    handle per CALL would grow the list unboundedly in long-lived
    sessions and overstate unpersist_fingerprint_cache's released
    count.  Plan identity via ``sameResult`` on the analyzed plans
    (the same check CacheManager itself uses)."""
    new_plan = sel._jdf.queryExecution().analyzed()
    for existing in _FP_SELECTION_CACHE:
        try:
            if existing._jdf.queryExecution().analyzed().sameResult(new_plan):
                return
        except Exception:  # defensive: a dead session's handle
            continue
    _FP_SELECTION_CACHE.append(sel)


def unpersist_fingerprint_cache(blocking: bool = False) -> int:
    """Release every selection-stage cache entry that
    ``fingerprint_overlap_pairs`` persisted in this session; returns the
    number released.  Long-lived callers (services, notebooks) should
    call this after consuming the pairs — ``spark.catalog.clearCache()``
    also works but drops UNRELATED cache entries too."""
    n = 0
    while _FP_SELECTION_CACHE:
        _FP_SELECTION_CACHE.pop().unpersist(blocking)
        n += 1
    return n


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
    p: int = 61,
    max_df: int = 50,
    min_shared: int = 2,
    use_fast: bool = True,
) -> DataFrame:
    """MOSS-style cross-document overlap detection: pairs of docs
    sharing >= ``min_shared`` *selected* k-gram fingerprints.

    Selection is mod-p sampling (keep gram hashes ``h % p == 0`` —
    Manber's "fingerprinting by sampling", the order-free cousin of
    winnowing): each doc contributes ~n_grams/p fingerprints, and two
    docs sharing a run of >= k+p characters are overwhelmingly likely
    to share a selected fingerprint.  Complements the token-level
    families (q91 shingle Jaccard, q91b MinHash, q91d SimHash) with a
    CHARACTER-level detector that survives token-boundary edits.

    Fingerprints seen in more than ``max_df`` docs are dropped before
    pair generation — the standard boilerplate suppression (a header
    shared by half the corpus would otherwise contribute a quadratic
    blowup; this is exactly the unboundedness q91's exact baseline was
    flagged for, closed here by construction).

    Plan shape, chosen for 100 TB:

    - The heavy-hitter *drop-list* (fps with df > max_df) is what gets
      broadcast: heavy hitters are few by nature, while the keep-list
      grows with the corpus.  ``left_anti`` against the broadcast
      drop-list costs no shuffle.
    - Pairs come from a bounded ``collect_set`` per fp (<= max_df doc
      ids per group — safe aggregation buffers) expanded with array
      expressions, not an fp-keyed self-join: one shuffle instead of
      two join legs, and each key fans out to <= max_df^2/2 pairs —
      linear in corpus size with a constant cap per key.
    - The selection stage (hash + mod-p sample) is a pure map stage
      with TWO consumers (df-count pass, pair pass), so it is
      persisted (memory-then-disk) rather than recomputed: the Horner
      hash touches every character of the corpus and dominates the
      operator's cost (docs/SCALING.md finding 6: every downstream
      cardinality is <= ~17x at 16x data, i.e. linear — the wall is
      this map stage), while the materialized selection is only
      ~n_grams/p rows of (id, int64) — at 100 TB text and p=61 a ~2%
      spill vs a full second corpus scan + rehash.  ``p`` is the
      sizing knob: selectivity, materialization size, and downstream
      shuffle all scale as 1/p, at the cost of only detecting shared
      runs >= ~k+p chars.  With ``use_fast`` the hash is a numpy
      Horner in ``mapInPandas`` (same values as the expression twin —
      parity is pinned by tests), ~10x the interpreted-HOF throughput.

    Output: (doc_a, doc_b, n_shared_fp) with doc_a < doc_b.
    """
    from pyspark import StorageLevel

    if use_fast:
        sel = _gram_select_fast(
            df, id_col, text_col, k=k, base=base, mod=mod, p=p
        )
    else:
        hs = F.expr(gram_hash_expr(text_col, k=k, base=base, mod=mod))
        sel = df.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(F.filter(hs, lambda h: h % p == 0))
            ).alias("fp"),
        )
    # Diamond dependency: both the drop-list and the kept-rows branch
    # consume `sel`; within one action the drop-list stage populates the
    # cache and the anti-join stage reads it, halving the dominant
    # Horner map cost.  The cache entry OUTLIVES the query (DataFrame
    # persist has no query-scoped lifetime; CacheManager also
    # substitutes it into any later identical plan) — callers that
    # re-execute the operator and want cold measurements must
    # `spark.catalog.clearCache()` between runs (bench.py does), and
    # long-lived sessions reclaim it via unpersist_fingerprint_cache()
    # (each entry is registered below); repeated calls dedupe to ONE
    # entry per distinct input plan.
    sel = sel.persist(StorageLevel.MEMORY_AND_DISK)
    _register_fp_cache_handle(sel)
    # (doc, fp) is distinct by construction, so count(*) == doc-frequency.
    drop = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("fp_df"))
        .filter(F.col("fp_df") > max_df)
        .select("fp")
    )
    kept = sel.join(F.broadcast(drop), "fp", "left_anti")
    docs_per_fp = (
        kept.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = docs_per_fp.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) ->"
                " transform(slice(ds, i + 2, size(ds) - i - 1),"
                "           b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("pr")
    )
    return (
        pairs.select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= min_shared)
    )


def _gram_select_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    base: int,
    mod: int,
    p: int,
) -> DataFrame:
    """Numpy twin of the expression-side selection stage of
    :func:`fingerprint_overlap_pairs`: (doc, fp) rows of distinct
    mod-``p``-selected k-gram Horner hashes of ``lower(text)``.

    Vectorized Horner: k passes of ``(h * base + codes[j:]) % mod``
    over the int64 codepoint array (UTF-32 decode, so parity holds
    beyond ASCII — Spark's ``ascii()`` returns the full codepoint).
    Each step stays under ``(mod-1)*base + 0x10FFFF`` < 2^63, the same
    exactness contract as :func:`gram_hash_expr`.  NULL/short text
    contributes no rows, matching the expression twin's empty-array
    branch.
    """
    import numpy as np
    import pandas as pd

    if (mod - 1) * base + 0x10FFFF >= 2**63:
        raise ValueError(f"base={base}/mod={mod} overflows the Horner step")

    def sel(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                codes = np.frombuffer(
                    t.lower().encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                n = len(codes) - k + 1
                if n <= 0:
                    continue
                h = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    h = (h * base + codes[j : j + n]) % mod
                keep = np.unique(h[h % p == 0])
                ids.extend([doc] * len(keep))
                fps.extend(keep.tolist())
            yield pd.DataFrame({"doc": ids, "fp": fps})

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        sel, schema=f"doc {dict(df.dtypes)[id_col]}, fp bigint"
    )
    return out


def fingerprint_overlap_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
    p: int = 61,
    max_df: int = 50,
    min_shared: int = 2,
) -> str:
    """DuckDB twin of :func:`fingerprint_overlap_pairs` (same BIGINT
    hash via the shared step-mod Horner fold — ``list_reduce`` seeds
    with the first element, which equals the 0-seeded fold since
    ``0*base + c1 = c1`` — same mod-p selection and guards)."""
    lower = f"lower({text_col})"
    return f"""
WITH g AS (
  SELECT {id_col},
    list_transform(
      list_transform(range(1, greatest(len({lower}) - {k - 1}, 0) + 1),
                     i -> substring({lower}, i, {k})),
      gr -> list_reduce(
            list_transform(range(1, {k + 1}),
                           j -> CAST(ascii(substring(gr, j, 1)) AS BIGINT)),
            (acc, x) -> (acc * {base} + x) % {mod})
    ) AS hs
  FROM {table}
), sel AS (
  SELECT {id_col} AS doc,
         unnest(list_distinct(list_filter(hs, h -> h % {p} = 0))) AS fp
  FROM g
), ok AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= {max_df}
)
SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared_fp
FROM sel a JOIN ok USING (fp) JOIN sel b ON a.fp = b.fp
WHERE a.doc < b.doc
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


def rolling_fingerprint_fast(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    base: int = 31,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Vectorized twin of :func:`rolling_fingerprint` (identical output).

    The expression version stays JVM-side but pays interpreted
    higher-order-function overhead (~us/element); this one computes every
    gram hash as one ``np.convolve`` int64 dot product per document inside
    Arrow-batched ``mapInPandas`` — ~100x more chars/sec/core, the right
    trade once fingerprinting dominates a corpus pipeline.  Codepoints via
    UTF-32 decode, so parity holds beyond ASCII too (Spark's ``ascii()``
    returns the full codepoint).  This fast path IS the q104 query path
    (queries/lblock.py); the pure-JVM expression twin
    :func:`rolling_fingerprint` is retained for the parity test that pins
    the two together.  NULL text follows the expression twin's semantics
    (CASE -> empty gram array): n_grams=0, fp_min/fp_max NULL, n_distinct=0
    — a single NULL row must not kill a corpus job.
    """
    import numpy as np
    import pandas as pd

    if base ** (k - 1) * 0x10FFFF * k >= 2**63:
        raise ValueError(f"k={k}/base={base} risks BIGINT overflow pre-mod")
    pows = np.array([base ** (k - 1 - j) for j in range(k)], dtype=np.int64)

    def fp(batches):
        for pdf in batches:
            n_grams, fp_min, fp_max, n_distinct = [], [], [], []
            for t in pdf[text_col]:
                if t is None:
                    codes = np.empty(0, dtype=np.int64)
                else:
                    codes = np.frombuffer(
                        t.lower().encode("utf-32-le"), dtype="<u4"
                    ).astype(np.int64)
                if len(codes) < k:
                    n_grams.append(0)
                    fp_min.append(None)
                    fp_max.append(None)
                    n_distinct.append(0)
                    continue
                hs = np.convolve(codes, pows[::-1], "valid") % mod
                n_grams.append(len(hs))
                fp_min.append(int(hs.min()))
                fp_max.append(int(hs.max()))
                n_distinct.append(len(np.unique(hs)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_grams": pd.Series(n_grams, dtype="int32"),
                    "fp_min": pd.Series(fp_min, dtype="Int64"),
                    "fp_max": pd.Series(fp_max, dtype="Int64"),
                    "n_distinct": pd.Series(n_distinct, dtype="int32"),
                }
            )

    schema = (
        f"{id_col} long, n_grams int, fp_min bigint, fp_max bigint, "
        "n_distinct int"
    )
    return df.select(id_col, text_col).mapInPandas(fp, schema)
