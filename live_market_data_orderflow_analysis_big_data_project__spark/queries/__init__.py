"""The declared query contract: ``QUERIES`` maps query keys to
``(spark, sf_dir) -> DataFrame`` callables; ``ORACLE`` maps the same keys
to DuckDB-runnable ANSI SQL twins (omitted for non-SQL-expressible ops,
which the driver checks rows-only).

Conventions (SURVEY.md section 2.3): every float aggregate is decimal-backed
and/or ROUND(...,4) on BOTH sides; every timestamp/date output is a
formatted string; every top-k has a total-order tie-break; aggregate /
computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

from . import rblock, eblock, lblock, pblock, sblock, ablock

_BLOCKS = (rblock, eblock, lblock, pblock, sblock, ablock)

# ``queries()`` lists these 50 entries first, in this order, then every
# other entry in block order.  The order is part of the contract:
# consumers that check only a prefix of ``queries()`` read these.
_PRIORITY = [
    "q91_near_dedup_jaccard",
    "q91b_near_dedup_minhash_lsh",
    "q111_dedup_clusters",
    "q119_dedup_collapse",
    "q136_ann_recall_gate",
    "q188_cluster_split",
    "q183_kmeans",
    "q191_pq_topk",
    "q193_ivfpq_topk",
    "q195_bitlsh_topk",
    "q170_triangle_counts",
    "q157_profile_audit",
    "q146_fuzzy_match",
    "q91c_simhash",
    "q91d_simhash_pairs",
    "q114_split_assign",
    "q126_jsonl_roundtrip",
    "q128_orc_roundtrip",
    "q129_variant_json",
    "q137_incremental_dedup",
    "q138_pack_sequences",
    "q140b_zorder_rank_tiles",
    "q143_topk_certified",
    "q145_kmv_setops",
    "q149_incremental_simhash",
    "q150_gapfill_locf",
    "q151_retention_cohorts",
    "q154_pairwise_corr",
    "q155_range_join_concurrency",
    "q156_twap_daily",
    "q158_event_transitions",
    "q159_basket_lift",
    "q162_fk_orphan_audit",
    "q165_flow_concentration",
    "q167_psi_drift",
    "q168_rolling_active",
    "q171_pagerank",
    "q172_funnel_within",
    "q184_attribution",
    "q185_bigram_nll",
    "q186_group_trend",
    "s01_tumbling_candles",
    "s06_stream_stream_join",
    "s14_hll_windowed_stream",
    "s15_topk_windowed_stream",
    "s16_transitions_stream",
    "s17_gapfill_stream",
    "s20_psi_drift_stream",
    "s22_asof_enrich_stream",
    "s11_python_stream_source",
]

_ALL_Q = {}
_ALL_O = {}
for _b in _BLOCKS:
    _ALL_Q.update(_b.QUERIES)
    _ALL_O.update({k: v for k, v in _b.ORACLE.items() if v is not None})

QUERIES = {k: _ALL_Q[k] for k in _PRIORITY}
QUERIES.update({k: v for k, v in _ALL_Q.items() if k not in QUERIES})
ORACLE = {k: _ALL_O[k] for k in _PRIORITY if k in _ALL_O}
ORACLE.update({k: v for k, v in _ALL_O.items() if k not in ORACLE})
