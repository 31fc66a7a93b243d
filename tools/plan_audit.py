"""Physical-plan audit: would this plan survive a 100x scale-up?

Dumps the executed plan of every BATCH query at a given sf dir and flags
scale red-flags:

- CartesianProduct / BroadcastNestedLoopJoin without an intended
  non-equi condition (whitelisted queries excepted)
- global Sort not under a TakeOrderedAndProject (unbounded sort)
- row-Python UDF (BatchEvalPython) outside the declared UDF-surface
  queries
- Exchange (shuffle) counts per query, to spot accidental double shuffles

Writes a markdown report to PLAN_AUDIT.md and exits non-zero on
unexpected flags.  Streaming (s*) queries are skipped: their plans are
per-micro-batch and audited via their progress metrics instead.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DEFAULT = "/root/testdata/sf0.01"

# queries where a nested-loop/cross join IS the intended physical plan
NON_EQUI_OK = {
    "q24_join_range_theta",     # band dim broadcast non-equi join
    "q92_cosine_topk",          # 1-row probe crossJoin
    "q92b_cosine_topk_ivf",     # 1-row probe crossJoin after cell pruning
    "q93_knn_join",             # bounded-sample all-pairs baseline
    "q93b_knn_lsh",             # r16 envelope gate embeds q93's bounded
                                # all-pairs exact twin (50-vector slice)
    "q96_tfidf",                # 1-row doc-count crossJoin
    "q103_embedding_near_dup",  # bounded all-pairs baseline (scale: LSH/IVF)
    "q117_bm25_search",         # 1-row N/avgdl scalar crossJoin
    "q118_unigram_nll",         # 1-row LM-total scalar crossJoin
    "q122_source_mixture",      # 1-row corpus-totals scalar crossJoin
    "q134_hybrid_rrf",          # embeds q117's + q92's 1-row scalar crossJoins
    "q137_incremental_dedup",   # 1-row split-scalar crossJoin (q117 pattern)
    "q140b_zorder_rank_tiles",  # 1-row max(user_id) box-bounds crossJoin
                                # (q140's layout crossJoins sit before its
                                # write and never reach the returned plan)
    "q106b_decontaminate_bloom",  # 1-row bloom-bitmap crossJoin (the
                                  # broadcast word-map ride-in, zorder
                                  # scalar-stats pattern)
    "q144_hll_overlap",         # 1-row exactness-boundary scalar crossJoin
    "q145_kmv_setops",          # pair joins on the |labels|-row sketch frame
    "q149_incremental_simhash",  # 1-row split-scalar crossJoin (q137 pattern)
    "q150_gapfill_locf",        # 1-row [lo, hi] grid-bounds crossJoin
                                # (the q140 zorder scalar-stats pattern)
    "q157_profile_audit",       # 1-row x 1-row recombine of the split
                                # distinct-pass/fold-pass aggregates
    "q159_basket_lift",         # 1-row basket-count crossJoin (zorder pattern)
    "q167_psi_drift",           # keys x n_bins(10)-row bin-grid broadcast
                                # crossJoin (the gapfill grid pattern)
    "q176_collocations",        # 1-row bigram-total scalar crossJoin
                                # (the q117/q122 N-scalar pattern)
    "q178_skew_report",         # 1-row p99-scalar broadcast crossJoin
                                # (the q157 recombine pattern)
    "q183_kmeans",              # k-row centroid-frame broadcast crossJoin
                                # per assignment pass — the distance argmin
                                # IS vectors x k centroids by design
                                # (operators/cluster.py docstring)
    "q185_bigram_nll",          # 1-row corpus-total scalar crossJoin
                                # (the q176/q117 N-scalar pattern)
    "q187_autocorr",            # two 1-row [d0, d1] day-span-bounds
                                # broadcast crossJoins building the dense
                                # grid (the q150 gapfill pattern)
    "q191_pq_topk",             # the q183 k-row centroid broadcast per
                                # subspace assign, plus the n_queries x k
                                # ADC-table crossJoin (both domain-bounded
                                # broadcast frames by design)
    "q193_ivfpq_topk",          # q191's centroid/ADC-table broadcast
                                # crossJoins plus the coarse-probe
                                # n_queries x coarse_k crossJoin — all
                                # domain-bounded broadcast frames
    "q195_bitlsh_topk",         # the n_queries-row signature frame
                                # broadcast-crossJoined against the
                                # (id, sig) frame for Hamming candidate
                                # generation — candidates are cut to
                                # top-C per query before any vector
                                # traffic (operators/bitlsh.py)
}

# Global sorts that are BOUNDED by construction (not whole-dataset):
# flagging keys whose one global window runs over a provably small
# frame would bury real whole-dataset sorts in noise.
GLOBAL_SORT_OK = {
    "q178_skew_report",  # cum-sum over the bucket-SIZE histogram:
                         # distinct sizes sum to <= n_rows, so the
                         # frame is O(sqrt(2 n_rows)) rows (operator
                         # docstring carries the proof)
    "q190_bpe_merges",   # top-symbol rank window over the final VOCAB
                         # frame: |symbols| <= |charset| + n_merges
                         # rows by construction (operators/bpe.py)
}
# queries whose purpose is the row-Python UDF surface
# Declared row-Python API-surface proofs (never-hot-path documented):
# q80's scalar UDF and q84's UDTF (BatchEvalPythonUDTF in the plan).
PY_UDF_OK = {"q80_python_udf", "q84_udtf"}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else SF_DEFAULT

    import __spark_entry__ as ent
    from live_market_data_orderflow_analysis_big_data_project__spark import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    audit = dict(ent.queries())

    rows, problems = [], []
    for key, fn in audit.items():
        if key.startswith("s"):
            continue
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        flags = []
        if "CartesianProduct" in plan and key not in NON_EQUI_OK:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and key not in NON_EQUI_OK:
            flags.append("BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan and key not in PY_UDF_OK:
            flags.append("row-Python UDF")
        # A global (non-partition-local) sort prints as 'Sort [...], true, 0'.
        # Top-k queries compile to TakeOrderedAndProject (no Sort node), and
        # window/merge-join sorts are partition-local ('false'), so any
        # global Sort here is an unbounded whole-dataset sort — a red flag.
        for m in re.finditer(r"Sort \[(.*?)\], true, 0", plan):
            if "TakeOrderedAndProject" not in plan and key not in GLOBAL_SORT_OK:
                flags.append(f"global sort on [{m.group(1)[:60]}]")
        rows.append((key, n_exchange, flags))
        if flags:
            problems.append((key, flags))

    with open("PLAN_AUDIT.md", "w") as fh:
        fh.write(
            "# Plan audit (batch queries, sf="
            + sf.rsplit("sf", 1)[-1]
            + ")\n\nFlags: CartesianProduct / BNLJ outside the non-equi "
            "whitelist, row-Python\nUDFs outside the UDF surface, global "
            "sorts outside top-k.\n\n| query | exchanges | flags |\n|---|---|---|\n"
        )
        for key, n_ex, flags in rows:
            fh.write(f"| {key} | {n_ex} | {', '.join(flags) or 'ok'} |\n")
        fh.write(
            "\nNote: q111_dedup_clusters shows 0 exchanges because its "
            "result is a\n`localCheckpoint` leaf — the audited plan is the "
            "final labels scan; the\nper-iteration shuffles (edge join + "
            "groupBy.min per propagation round)\nexecute during "
            "construction and are bounded by the near-dup graph size,\n"
            "not the corpus (see operators/pipeline.py::dedup_clusters).\n"
        )
    print(f"audited {len(rows)} batch plans -> PLAN_AUDIT.md")
    if problems:
        for key, flags in problems:
            print(f"FLAG {key}: {flags}")
        sys.exit(1)
    print("no unexpected scale red-flags")
    spark.stop()


if __name__ == "__main__":
    main()
