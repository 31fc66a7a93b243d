"""Integer-quantized Lloyd's k-means — fixed iterations, deterministic
seeding, exact int64 arithmetic end to end (the iterative-clustering
capability slot, hash-gateable where float k-means never is).

Float k-means is partition-order-dependent twice over: the centroid
mean accumulates IEEE sums in merge order, and ties in distance break
by arrival.  This operator applies the q171 integer-quantization rule
to clustering:

- vectors quantize ONCE to int64 grid points v = floor(x · 10^4) + 10^4
  (floor, not round — IEEE floor of the same double is bit-identical on
  every engine, while round-half cases differ between Spark's HALF_UP
  and DuckDB's half-to-even; the +10^4 shift makes every coordinate
  non-negative so later integer division has no floor-vs-truncate
  ambiguity).  The |x| <= 1 input contract is ENFORCED per-row with a
  raise_error guard (the collocation_lift pattern);
- seeds are the k vectors with the smallest md5(vec_id) (content-hash
  order, vec_id tie-break — the q112/q181 reproducibility contract),
  taken with sort+limit (TakeOrderedAndProject, never a global window);
- each iteration assigns by exact int64 squared L2 (argmin with
  cluster-id tie-break) and recomputes centroids as per-dimension
  integer floor-means (sum div count of non-negative ints — exact and
  engine-identical); an emptied cluster keeps its previous centroid
  (deterministic carry, the state never shrinks below k);
- ITERATIONS is a fixed knob (the q171/q175 bounded-iteration class).

Scale shape (r17, the distributed-MLlib-KMeans shape): centroid state
lives on the DRIVER — k·dim int64s of coordination state, not data
work (guide §5) — and each Lloyd round is exactly ONE distributed pass
over the quantized frame: a vectorized Arrow kernel (guide §4.2)
assigns each vector by exact integer matmul and accumulates per-
(cluster, dim) partial sums inside the task, so only
partitions · k · (dim + 1) int64s ever leave the executors (the
treeAggregate shape, map-side-combined by construction; no shuffle at
all).  The r16 formulation kept centroids as eagerly-checkpointed
frames and assigned via a centroid crossJoin + interpreted
zip_with/aggregate d2 fold + row_number window — an n·k-row exchange
AND k·dim interpreted lambda evaluations per row per assign, plus a
blocking checkpoint job per iteration per chain; measured at sf0.1
the fixed job/planning overhead of those chains dominated q183/q191/
q193 end to end.  The search-side composition (PQ codes, IVF lists,
ADC tables) follows the same rule: everything whose size is
O(queries · k · m) — probe lists, ADC lookup tables — is computed
from the driver-held state as LOCAL relations, never as extra
distributed jobs.  Headroom: d · (2·10^4)^2 = 2.6e10 per distance and
n · 2·10^4 per centroid sum — both orders of magnitude inside int64
at any corpus size under ~4e14 vectors.

(Reference parity: no clustering machinery exists in the reference —
SURVEY.md §2.4.  This is the LLM-pipeline cluster step SemDeDup-style
curation needs before q121's within-cluster pruning.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "quantize_vectors",
    "kmeans_quantized",
    "pq_adc_topk",
    "ivf_pq_topk",
]

_SCALE = 10_000
_SHIFT = 10_000


def quantize_vectors(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, qv) with qv = array<long> of floor(x·10^4) + 10^4.

    Coordinates must satisfy |x| <= 1 (unit-normalized embeddings);
    violations raise loudly instead of silently folding distant points
    onto the grid boundary.  NULL vectors are excluded (they carry no
    position)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.when(
            F.abs(x.cast("double")) > F.lit(1.0),
            F.expr(
                "CAST(raise_error('kmeans_quantized: |coordinate| > 1"
                " - normalize vectors before clustering (module "
                "docstring)') AS BIGINT)"
            ),
        ).otherwise(
            F.floor(x.cast("double") * F.lit(float(_SCALE))).cast("long")
            + F.lit(_SHIFT)
        ),
    )
    return df.where(F.col(vec_col).isNotNull()).select(
        id_col, q.alias("qv")
    )


def _top_hash_rows(vecs: DataFrame, id_col: str, n: int) -> list:
    """ONE job: the n rows with the smallest (md5(id), id) — the
    q112/q181 content-hash reproducibility contract — with their full
    quantized vectors.  Seeds AND queries come from this same prefix
    (both are defined as smallest-md5 rows), so one TakeOrdered job
    serves every consumer.  Rows are re-sorted driver-side as
    belt-and-braces: python's (str, int) sort over ASCII hex equals
    Spark's UTF8 binary order, pinning the cluster numbering."""
    rows = (
        vecs.select(
            id_col,
            "qv",
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("_h"),
        )
        .orderBy("_h", id_col)
        .limit(n)
        .collect()
    )
    rows.sort(key=lambda r: (r["_h"], r[id_col]))
    return rows


def _qv_guard(dim: int, op: str) -> F.Column:
    """The per-row dimension contract as a JVM expression, folded into
    the kernel's input so the optimizer can never prune it — a
    wrong-width vector raises (SparkRuntimeException) instead of
    silently mis-slicing, exactly the former slice-bound guard."""
    return F.expr(
        f"CASE WHEN size(qv) <> {dim} THEN "
        f"CAST(raise_error('{op}: vector dimension <> {dim}"
        " - pass the actual dim (operator docstring)') AS ARRAY<BIGINT>) "
        "ELSE qv END"
    )


def _dist_matrix(V, C):
    """Exact int64 squared-L2 distance matrix between row sets V (n, d)
    and C (k, d): (v-c)² = v² + c² - 2vc term by term in exact integer
    arithmetic — numpy int64 matmul is exact C-loop integer math (no
    BLAS float path).  Headroom: every product <= (2·10^4)² and every
    sum <= d·(2·10^4)² ≈ 2.6e10·d — orders of magnitude inside int64."""
    import numpy as np

    return (
        (V * V).sum(axis=1)[:, None]
        + (C * C).sum(axis=1)[None, :]
        - 2 * (V @ C.T)
    )


def _argmin_udf(cents: list[list[int]], lo: int = 0, d: int | None = None):
    """Vectorized Arrow argmin kernel (guide §4.2, the q195/q121
    discipline) over a FIXED centroid list (index = cluster id): per
    quantized vector (sliced to [lo, lo+d) when d is given), the
    ``(cluster, d2)`` of its nearest centroid — min d2, cluster-id
    tie-break.  ``np.argmin`` returns the FIRST minimum and the
    centroid rows are ordered by ascending cluster id, so the
    tie-break is exactly the former window's (d2 asc, cluster asc).
    Replaces the interpreted zip_with/aggregate fold — k·dim lambda
    evaluations per row, the dominant CPU of every Lloyd pass (the
    same pathology the r16 bitlsh signature kernel removed).  Exact by
    integer arithmetic (see ``_dist_matrix``) and pinned by
    tests/test_cluster.py's pure-Python twins."""
    from pyspark.sql.types import LongType, StructField, StructType

    cv_l = [list(v) for v in cents]

    @F.pandas_udf(
        StructType(
            [
                StructField("cluster", LongType()),
                StructField("d2", LongType()),
            ]
        )
    )
    def _am(qv: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(qv) == 0:
            return pd.DataFrame({"cluster": [], "d2": []}, dtype="int64")
        if qv.isna().any():
            raise ValueError(
                "_argmin_udf: NULL quantized vector - quantize_vectors "
                "excludes null vectors (operator docstring)"
            )
        V = np.stack(qv.to_numpy()).astype(np.int64)
        if d is not None:
            V = V[:, lo:lo + d]
        D = _dist_matrix(V, np.array(cv_l, dtype=np.int64))
        j = D.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": j.astype(np.int64),
             "d2": D[np.arange(len(j)), j]}
        )

    return _am


def _fold_partials(parts, op: str) -> dict:
    """Sum per-partition ``(name, cluster, cnt, sums)`` partials into
    ``(name, cluster) -> (cnt, sums)``; ``sums`` stays None for a
    cluster no partition assigned a vector to.  Partitions that report
    different vector widths for the same chain raise the operators'
    dimension error instead of truncating to the shorter width."""
    tot: dict = {}
    for r in parts:
        key = (r["name"], r["cluster"])
        cnt, sums = tot.get(key, (0, None))
        cur = list(r["sums"])
        if sums is None:
            merged = cur if cur else None
        elif not cur:
            merged = sums
        elif len(cur) != len(sums):
            raise ValueError(
                f"{op}: vector dimension <> {len(sums)} (a partition "
                f"holds {len(cur)}-dim vectors) - all vectors must share "
                "one dim (operator docstring)"
            )
        else:
            merged = [a + b for a, b in zip(sums, cur)]
        tot[key] = (cnt + r["cnt"], merged)
    return tot


def _lloyd_multi(
    vecs: DataFrame,
    chains: dict,
    full_dim: int | None,
    op: str,
) -> dict:
    """Run every chain's Lloyd loop over ``vecs`` with ONE distributed
    pass per round shared by ALL chains (coarse + subspaces together —
    they are independent given the shared scan, so fusing them divides
    the per-job fixed cost by the chain count; the r16 form ran one
    thread pool of per-chain job chains instead).

    ``chains``: name -> {"lo", "d" (None = full vector), "cents"
    (list of centroid vectors, index = cluster), "iters"}.  Each round
    maps to a single mapInPandas pass emitting per-(partition, chain,
    cluster) partial sums and counts — partitions · k · (d+1) int64s,
    the treeAggregate shape — folded on the driver into the floor-mean
    update ``sum div count`` (python ``//`` of non-negative ints ==
    Spark's ``div``).  Emptied clusters keep their previous centroid.
    Value-identical to the per-chain formulation: same assignments
    (exact argmin, cluster tie-break), same per-dimension integer
    means, same carry."""
    rounds = max((c["iters"] for c in chains.values()), default=0)
    for rnd in range(rounds):
        live = {
            name: (
                spec["lo"],
                spec["d"],
                [list(v) for v in spec["cents"]],
            )
            for name, spec in chains.items()
            if spec["iters"] > rnd
        }

        def _partials(batches):
            import numpy as np

            state = {
                name: (
                    lo,
                    dd,
                    np.array(cv, dtype=np.int64),
                    np.zeros(
                        (len(cv), dd if dd is not None else 0), dtype=np.int64
                    ),
                    np.zeros(len(cv), dtype=np.int64),
                )
                for name, (lo, dd, cv) in live.items()
            }
            inited = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qv = pdf["qv"]
                if qv.isna().any():
                    raise ValueError(
                        f"{op}: NULL quantized vector - quantize_vectors"
                        " excludes null vectors (operator docstring)"
                    )
                V = np.stack(qv.to_numpy()).astype(np.int64)
                if full_dim is not None and V.shape[1] != full_dim:
                    raise ValueError(
                        f"{op}: vector dimension <> {full_dim} - pass "
                        "the actual dim (operator docstring)"
                    )
                if not inited:
                    # dimension-agnostic chains (d=None) size their
                    # accumulators from the first batch's width
                    state = {
                        name: (
                            lo,
                            dd,
                            C,
                            s
                            if s.shape[1]
                            else np.zeros(
                                (C.shape[0], V.shape[1]), dtype=np.int64
                            ),
                            n,
                        )
                        for name, (lo, dd, C, s, n) in state.items()
                    }
                    inited = True
                for name, (lo, dd, C, sums, cnts) in state.items():
                    Vs = V[:, lo:lo + dd] if dd is not None else V
                    j = _dist_matrix(Vs, C).argmin(axis=1)
                    cnts += np.bincount(j, minlength=C.shape[0])
                    np.add.at(sums, j, Vs)
            out = {"name": [], "cluster": [], "cnt": [], "sums": []}
            for name, (lo, dd, C, sums, cnts) in state.items():
                for c in range(C.shape[0]):
                    out["name"].append(name)
                    out["cluster"].append(c)
                    out["cnt"].append(int(cnts[c]))
                    out["sums"].append(
                        [int(x) for x in sums[c]] if inited else []
                    )
            yield pd.DataFrame(out)

        parts = (
            vecs.select("qv")
            .mapInPandas(
                _partials,
                "name string, cluster long, cnt long, sums array<long>",
            )
            .collect()
        )
        tot = _fold_partials(parts, op)
        for name in live:
            new_cents = []
            for c, cv in enumerate(chains[name]["cents"]):
                cnt, sums = tot.get((name, c), (0, None))
                if cnt:
                    new_cents.append([s // cnt for s in sums])
                else:
                    new_cents.append(cv)
            chains[name]["cents"] = new_cents
    return {name: spec["cents"] for name, spec in chains.items()}


def _seed_check(rows: list, k: int, op: str) -> None:
    # the seed LIMIT under-fills silently when the frame holds fewer
    # than k vectors — fail loudly like the operators' other guards
    if len(rows) < k:
        raise ValueError(
            f"{op}: only {len(rows)} distinct vectors for "
            f"k={k} seeds - k is bounded by the vector count"
        )


def kmeans_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
) -> DataFrame:
    """Fixed-iteration integer k-means; returns the final assignment
    ``(id, cluster, d2)`` — cluster in 0..k-1 (seed hash order), d2
    the exact int64 squared distance to the final centroid.

    ``iters`` full (assign, update) rounds run, then one final assign
    against the last centroids.  Deterministic given (data, k, iters):
    rerun-stable across engines, partitionings and cluster sizes.

    Job count (r17): seeds collect (materializes the lazily
    checkpointed quantized frame) + one fused pass per iteration +
    the caller's final action — iters + 2 jobs total."""
    if k < 1 or iters < 0:
        raise ValueError("k must be >= 1 and iters >= 0")
    vecs = quantize_vectors(df, id_col, vec_col).localCheckpoint(
        eager=False
    )
    seeds = _top_hash_rows(vecs, id_col, k)
    _seed_check(seeds, k, "_fit_centroids")
    chains = {
        "km": {
            "lo": 0,
            "d": None,
            "cents": [list(r["qv"]) for r in seeds],
            "iters": iters,
        }
    }
    cents = _lloyd_multi(vecs, chains, None, "kmeans_quantized")["km"]
    kernel = _argmin_udf(cents)
    return vecs.select(
        id_col, kernel("qv").alias("_best")
    ).select(
        id_col,
        F.col("_best.cluster").alias("cluster"),
        F.col("_best.d2").alias("d2"),
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    n_queries: int = 3,
    topk: int = 10,
) -> DataFrame:
    """Product-quantization ADC search (Jégou et al. 2011): compress
    each vector to ``m`` subspace codes via per-subspace integer
    k-means, then answer top-k by Asymmetric Distance Computation —
    the classic memory-bound ANN rung between q116's scalar int8
    quantization and the IVF/LSH bucketing paths, here fully
    HASH-GATEABLE because codebooks, codes, and ADC sums are exact
    int64 end to end (the kmeans_quantized discipline per subspace).

    Queries are the ``n_queries`` dataset vectors with the smallest
    md5(id) (the q112/q181 content-hash reproducibility contract).
    For each query, every vector's ADC distance is the sum over
    subspaces of the exact d2 between the query's sub-vector and the
    centroid the vector's code names — m table lookups per vector,
    never a d-dimensional scan.  Output per query: ``query_id``,
    ``rank`` (ADC distance asc, id tie-break), ``id_col``, ``adc_d2``.

    At 100 TB (r17 shape): the m codebooks fit in ONE fused Lloyd
    pass per iteration (see ``_lloyd_multi`` — driver-held k·dim
    state, treeAggregate partials, no per-chain job chains); the
    n_queries·m·k ADC table is computed FROM that state as a local
    relation (broadcast, zero extra jobs); encoding + search is one
    final plan over the codes (m ints per vector, the whole point of
    PQ).  Total: 1 seeds/queries job + iters fused passes + the
    search action.  The dimension guard is a raise_error folded into
    the kernel input so the optimizer can never prune it."""
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    if n_queries < 1 or topk < 1:
        raise ValueError("n_queries and topk must be >= 1")
    sub_d = dim // m
    vecs = quantize_vectors(df, id_col, vec_col).localCheckpoint(
        eager=False
    )
    top = _top_hash_rows(vecs, id_col, max(k, n_queries))
    if len(top) < n_queries:
        raise ValueError(
            f"pq_adc_topk: only {len(top)} vectors available for "
            f"n_queries={n_queries}"
        )
    _seed_check(top[:k], k, "_fit_centroids")
    # query rows are corpus rows: a wrong-width query cannot produce
    # output — the search plan's _qv_guard raises on that same row at
    # the final action (SparkRuntimeException, the former slice-guard
    # semantics), so no driver-side width check is needed here

    chains = {
        f"s{s}": {
            "lo": s * sub_d,
            "d": sub_d,
            "cents": [
                list(r["qv"])[s * sub_d:(s + 1) * sub_d] for r in top[:k]
            ],
            "iters": iters,
        }
        for s in range(m)
    }
    books = _lloyd_multi(vecs, chains, dim, "pq_adc_topk")

    # ADC lookup table — n_queries · m · k rows of exact python-int d2,
    # computed from driver state: a LOCAL relation, zero extra jobs
    spark = vecs.sparkSession
    table_rows = [
        (
            r[id_col],
            s,
            c,
            sum(
                (a - b) * (a - b)
                for a, b in zip(
                    list(r["qv"])[s * sub_d:(s + 1) * sub_d], cv
                )
            ),
        )
        for r in top[:n_queries]
        for s in range(m)
        for c, cv in enumerate(books[f"s{s}"])
    ]
    table = spark.createDataFrame(
        table_rows, "query_id long, sub long, code long, d2 long"
    )

    guarded = vecs.select(id_col, _qv_guard(dim, "pq_adc_topk").alias("qv"))
    code_cols = [
        _argmin_udf(books[f"s{s}"], s * sub_d, sub_d)("qv")
        .getField("cluster")
        .alias(f"_c{s}")
        for s in range(m)
    ]
    codes = guarded.select(id_col, *code_cols).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("sub"),
                        F.col(f"_c{s}").alias("code"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sc"),
    ).select(id_col, F.col("_sc.sub").alias("sub"), F.col("_sc.code").alias("code"))
    scores = (
        codes.join(F.broadcast(table), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").alias("adc_d2"))
    )
    rk = F.row_number().over(
        Window.partitionBy("query_id").orderBy("adc_d2", id_col)
    )
    return (
        scores.withColumn("rank", rk.cast("long"))
        .where(F.col("rank") <= topk)
        .select("query_id", "rank", id_col, "adc_d2")
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    coarse_k: int = 4,
    coarse_iters: int = 2,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    n_queries: int = 3,
    topk: int = 10,
) -> DataFrame:
    """IVF-PQ search — the composition of the engine's two exact ANN
    rungs (the production FAISS index shape): a COARSE integer k-means
    partitions the corpus into ``coarse_k`` inverted lists, each query
    probes only its ``nprobe`` nearest lists, and candidates inside
    the probed lists are ranked by the PQ Asymmetric Distance over
    ``m`` per-subspace integer codebooks (flat-PQ codes over the raw
    vectors, not residuals — the variant whose codebooks are shared
    across lists, which is what keeps the oracle replayable).  Unlike
    q92b's float-KMeans IVF this is FULLY hash-gateable: coarse chain,
    probe selection, codes, and ADC sums are exact int64 end to end
    with total-order tie-breaks everywhere (d2 then cluster/id).

    Queries are the ``n_queries`` dataset vectors with the smallest
    md5(id) (the q112/q181 contract).  Output per query: ``query_id``,
    ``rank`` (ADC asc, id tie-break), ``id_col``, ``bucket`` (the
    candidate's inverted list), ``adc_d2``.  A query scores ONLY
    vectors whose coarse list it probes — the recall/scan trade the
    nprobe knob buys; at these fixture knobs the restriction BINDS
    (probed-bucket candidates < corpus, pinned by test).

    At 100 TB (r17 shape): the coarse quantizer and all m PQ
    codebooks fit together — ONE fused Lloyd pass per round over the
    quantized frame (see ``_lloyd_multi``; the r16 form ran m + 1
    concurrent per-chain job chains, whose fixed job cost dominated).
    Probe lists (n_queries · nprobe) and the ADC table
    (n_queries · m · k) are computed from the driver-held state as
    LOCAL relations.  The SEARCH is one plan: per-vector bucket + m
    codes from one Arrow kernel pass, probed-list restriction and ADC
    via two broadcast hash joins, then the top-k window — per-query
    work proportional to the probed lists' population, never the
    corpus, which is the entire point of IVF."""
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    if min(n_queries, topk, nprobe, coarse_k, coarse_iters) < 1:
        raise ValueError(
            "n_queries, topk, nprobe, coarse_k, coarse_iters must be >= 1"
        )
    if nprobe > coarse_k:
        raise ValueError(f"nprobe={nprobe} exceeds coarse_k={coarse_k}")
    sub_d = dim // m
    vecs = quantize_vectors(df, id_col, vec_col).localCheckpoint(
        eager=False
    )
    top = _top_hash_rows(vecs, id_col, max(coarse_k, k, n_queries))
    if len(top) < n_queries:
        raise ValueError(
            f"ivf_pq_topk: only {len(top)} vectors available for "
            f"n_queries={n_queries}"
        )
    _seed_check(top[:max(coarse_k, k)], max(coarse_k, k), "_fit_centroids")
    # query rows are corpus rows: a wrong-width query cannot produce
    # output — the search plan's _qv_guard raises on that same row at
    # the final action (SparkRuntimeException, the former slice-guard
    # semantics), so no driver-side width check is needed here

    chains = {
        "coarse": {
            "lo": 0,
            "d": dim,
            "cents": [list(r["qv"]) for r in top[:coarse_k]],
            "iters": coarse_iters,
        },
    }
    for s in range(m):
        chains[f"s{s}"] = {
            "lo": s * sub_d,
            "d": sub_d,
            "cents": [
                list(r["qv"])[s * sub_d:(s + 1) * sub_d] for r in top[:k]
            ],
            "iters": iters,
        }
    fitted = _lloyd_multi(vecs, chains, dim, "ivf_pq_topk")
    coarse = fitted["coarse"]

    # probe selection — per query the nprobe nearest coarse lists by
    # (d2 asc, cluster asc), exact python ints from driver state
    spark = vecs.sparkSession
    probed_rows = []
    for r in top[:n_queries]:
        qv = list(r["qv"])
        ds = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(qv, cv)),
                c,
            )
            for c, cv in enumerate(coarse)
        )
        probed_rows += [(r[id_col], c) for _, c in ds[:nprobe]]
    probed = spark.createDataFrame(
        probed_rows, "query_id long, bucket long"
    )
    table_rows = [
        (
            r[id_col],
            s,
            c,
            sum(
                (a - b) * (a - b)
                for a, b in zip(
                    list(r["qv"])[s * sub_d:(s + 1) * sub_d], cv
                )
            ),
        )
        for r in top[:n_queries]
        for s in range(m)
        for c, cv in enumerate(fitted[f"s{s}"])
    ]
    table = spark.createDataFrame(
        table_rows, "query_id long, sub long, code long, d2 long"
    )

    # ---- search: bucket + m codes in one kernel pass, ADC restricted
    # to probed lists via broadcast hash joins ----------------------------
    guarded = vecs.select(id_col, _qv_guard(dim, "ivf_pq_topk").alias("qv"))
    assign_cols = [
        _argmin_udf(coarse)("qv").getField("cluster").alias("bucket")
    ] + [
        _argmin_udf(fitted[f"s{s}"], s * sub_d, sub_d)("qv")
        .getField("cluster")
        .alias(f"_c{s}")
        for s in range(m)
    ]
    cand = (
        guarded
        .select(id_col, *assign_cols)
        .select(
            id_col,
            "bucket",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).cast("long").alias("sub"),
                            F.col(f"_c{s}").alias("code"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_sc"),
        )
        .select(
            id_col,
            "bucket",
            F.col("_sc.sub").alias("sub"),
            F.col("_sc.code").alias("code"),
        )
        .join(F.broadcast(probed), "bucket")
    )
    scores = (
        cand.join(F.broadcast(table), ["query_id", "sub", "code"])
        .groupBy("query_id", id_col, "bucket")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    rk = F.row_number().over(
        Window.partitionBy("query_id").orderBy("adc_d2", id_col)
    )
    return (
        scores.withColumn("rank", rk.cast("long"))
        .where(F.col("rank") <= topk)
        .select("query_id", "rank", id_col, "bucket", "adc_d2")
    )
