"""Scale probe: does each headline plan scale ~linearly with input size?

Materializes a MULT-x replica of the sf0.1 fixtures (key spaces scaled with
the data: user/cust keys are offset per copy so cardinality grows too, the
honest formulation — replicating rows under fixed keys would inflate groups
instead of scaling them), then times representative queries() entries at
1x and MULT-x and reports the wall-time ratio.  A keyed, shuffle-bounded
plan should land near MULT (linear); a quadratic, driver-bound, or
misplanned-broadcast plan blows past it.  This probe is how the q20/q26
fact-broadcast misplan was caught (46.9x wall at 16x before the merge
hints; ~linear after).

Each (query, scale) cell is ``python bench.py KEY`` in its OWN process, so
timings can't be contaminated by accumulated session state (plan caches,
GC pressure, MLlib lineages) — a single shared session was measured to
inflate some entries >10x.  A cell is bench's median of 3 samples.

Rewrites the head of docs/SCALING.md (title, intro, table); every line
after the table is kept as it is.  Usage: python tools/scale_probe.py [mult]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.1"
PROBE_DIR = "/tmp/scale_probe"
DOC = os.path.join(ROOT, "docs", "SCALING.md")
# local-mode driver == whole JVM; the session's core-sized default
# serves sf0.1 only
DRIVER_MEM_MB = "24576"

# (query key, why it's representative)
PROBE_QUERIES = [
    ("q01_scan_project", "pure scan + projection (I/O floor)"),
    ("q06_tumbling_ohlc", "keyed window agg, 1 shuffle"),
    ("q08_group_sums", "low-cardinality group agg"),
    ("q20_join_inner", "big-big shuffle join (merge-hinted)"),
    ("q26_multiway_join", "TPC-H Q5 chain: broadcast dims + merge facts"),
    ("q40_rank_window", "ranking window function"),
    ("q48_candle_rollup", "two-level hierarchical agg"),
    ("q90_exact_dedup", "hash-groupBy dedup"),
    ("q91b_near_dedup_minhash_lsh", "LSH banded near-dup (the scale path)"),
    ("q100_multimodal_features", "mapInPandas over binary payloads"),
    ("q104_rolling_fingerprint", "Arrow-vectorized per-row text op"),
    ("q105_frame_sample", "row-exploding mapInPandas (1 payload -> k frames)"),
    ("q106_decontaminate", "broadcast eval-set n-gram join (corpus side never pre-shuffled)"),
    ("q109_repetition_stats", "explode + two keyed aggs (map-side partials)"),
    ("q111_dedup_clusters", "linear star edges + CC loop over bounded near-dup slice (finding 10)"),
    ("q115_chunk_documents", "narrow row-exploding chunker, zero shuffle"),
    ("q91d_simhash_pairs", "bounded banded SimHash pairs (constant slice BY DESIGN: expect ~1x)"),
    ("q120_span_dedup", "span explode + first-seen window, single lineage"),
    ("q121_semdedup", "cluster-bounded cosine pair join (SemDeDup bound; finding 11)"),
    ("q131_skew_salted_join", "salted equi-join under a 90%-hot key (skew path)"),
    ("q124_fingerprint_overlap", "mod-p sampled gram fingerprints, df-suppressed bounded pair fan-out"),
    ("q126_jsonl_roundtrip", "format IO: JSONL write + pinned-schema read + checksum agg"),
    ("q132_bucketed_join", "bucketed write + exchange-free co-located SMJ"),
    ("q133_partition_prune", "partitioned write + pruned read-back (5 of 30 day dirs)"),
    ("q134_hybrid_rrf", "retrieval fusion over bounded top-k lists (BM25 side scales; fuse is flat)"),
    ("q135_compact_small_files", "fragmented partitioned write + compaction rewrite"),
    ("q137_incremental_dedup", "index-and-merge delta dedup (merge-hinted anti-join, O(shard) per ingest)"),
    ("q138_pack_sequences", "per-shard prefix-sum window + bounded sequence explode"),
    ("q139_dup_bigram_stats", "bigram explode + two keyed aggs (the n-gram twin of q109)"),
    ("q140_zorder_layout", "two layout writes + per-file tile bounds (scan-and-write bound)"),
    ("q76_scd2_merge", "SCD2 upsert: one dim-key join + narrow explode version fan-out"),
    ("q77_funnel_cascade", "per-user sorted-event fold (one shuffle, O(1) expression state)"),
    ("q76b_scd2_snapshot_sync", "MERGE delete path: same one-join explode, three branches"),
    ("q77b_funnel_cascade_joins", "cascade-join funnel twin (per-stage min-agg + join, O(1) memory)"),
    ("q140b_zorder_rank_tiles", "rank-tile z-order: domain-sized tile maps broadcast + two layout writes"),
    ("q141_hll_sketch_rollup", "HLL sketch rollup: map-side sketch partials, ~kB per (group,bucket) shuffled (16x users crosses the lgk=14 coupon capacity into the dense regime — flags may be false there, wall is the probe)"),
    ("q106b_decontaminate_bloom", "bloom-prefiltered decontamination: one-row bitmap broadcast + codegen probe in the shingle explode stage (vs q106's exact broadcast join)"),
    ("q142_hist_rollup_report", "sparse histogram rollup report — one (group,bucket,bin) count shuffle + map packs + audit joins"),
    ("q143_topk_certified", "certified top-k rollup — one (group,bucket,item) count shuffle + per-bucket top-m window, never a global sort"),
    ("q145_kmv_setops", "KMV theta set-ops — distinct-hash shuffle + bottom-k windows; pair joins on the |labels|-row sketch frame (16x users saturates k=4096: times the estimation regime)"),
    ("q146_fuzzy_match", "FastSS deletion-neighborhood fuzzy match — bounded |s|+1 variant explode + neighbor-bounded bucket join + levenshtein verify, never all-pairs"),
    ("q147_pps_sample", "systematic PPS sample — one per-stratum window over one scan, exact integer ticket math, zero joins"),
    ("q148_phrase_search", "positional-index phrase search — posexplode + (term,doc) groupBy build, postings-only joins at query time"),
    ("q149_incremental_simhash", "incremental SimHash near-dup — shard-only fingerprinting, band join vs the persisted index, never old x old"),
    ("q150_gapfill_locf", "time-bucket gapfill + LOCF/interp — one data shuffle to (key,bucket); grid/windows sized by keys x span, not rows"),
    ("q151_retention_cohorts", "cohort retention — (user,day) distinct + windows on user, (cohort,age) agg; 16x users scales the key space"),
    ("q152_mad_outliers", "median/MAD outlier screen — two per-group selection windows + broadcast medians; per-group sort is the exactness cost"),
    ("q153_activity_streaks", "gaps-and-islands streaks — distinct + row_number + two groupBys, all keyed by user"),
    ("q154_pairwise_corr", "exact-moment pairwise correlation — one (type,hour) cents shuffle; the pair join runs on the domain-bounded hourly frame"),
    ("q155_range_join_concurrency", "bin-decomposed range COUNT — interior bins pre-aggregated, only boundary bins row-checked; never BNLJ/cartesian, no pair materialization"),
    ("q156_twap_daily", "daily TWAP — one (type,day) shuffle shared by the lead() window and the agg; per-partition width = a day's ticks per key"),
    ("q157_profile_audit", "one-pass column profile — single scan, k exact-distinct aggs on one Expand (k x row traffic map-side, distinct partials shuffled)"),
    ("q158_event_transitions", "transition matrix — one (user) shuffle for the lag window, then a domain-bounded (|states|^2) count agg"),
    ("q159_basket_lift", "basket co-occurrence lift — (basket,item) distinct + basket-keyed self-join, fan-out <= items-per-basket^2; supports broadcast"),
    ("q160_peak_concurrency", "sweep-line peak concurrency — endpoints union + one per-day window sort, linear in endpoints (overlap self-join would be quadratic)"),
    ("q161_weighted_quantiles", "weighted quantiles — broadcast dim join + ONE per-brand (cents,id) window sort, cross-multiplied int64 selection"),
    ("q162_fk_orphan_audit", "FK orphan audit — four key-only LEFT joins (columns pruned at scan, parents key-deduped), map-side-collapsing count aggs"),
    ("q163_price_qty_skyline", "2-D skyline — sorted-prefix windows per brand, n log n vs the quadratic dominance join it replaces"),
    ("q164_clamped_balance", "clamped running balance — the non-associative fold as ONE per-user window pass (Lindley reflection identity), no recursion/UDF"),
    ("q165_flow_concentration", "Gini/HHI/top-decile — one (type,user) totals shuffle, per-type rank window over the actor frame, one row per type out"),
    ("q166_cusum_drift", "CUSUM drift monitor — q152's two selection windows + q164's fold window, all sharing the (type) key; alarms are a conditional agg"),
    ("q167_psi_drift", "PSI drift — one reference rank window for edges, broadcast edge frame into both scans, map-side bin counts; keys x bins out"),
    ("q168_rolling_active", "rolling distinct actives — (user,day) distinct + factor-w explode of the ACTIVE-PAIR frame + one more distinct; no per-day rescans"),
    ("q169_coalesced_activity", "interval coalescing — one per-(user,day) sorted sweep (running-max episode breaks), never the quadratic overlap pairing"),
    ("q170_triangle_counts", "degree-ordered triangle counting — wedge fan-out bounded O(sqrt(2m)) per node, two equi-joins on the oriented edge table"),
    ("q171_pagerank", "integer-quantized PageRank, 3 bounded shuffle rounds with per-iteration lineage cuts"),
    ("q172_funnel_within", "WITHIN-clause funnel — one per-user collect+fold shuffle, the conversion window rides in the fold state"),
    ("q173_boolean_search", "boolean retrieval — per-term posting joins + one AQE-decided anti-join"),
    ("q174_setsim_join", "prefix-filtered shingle-set similarity join — rarest-first prefix postings join + length filter + bounded verify, never all-pairs"),
    ("q175_kcore", "k-core peeling, 6 fixed rounds — two keyed shuffles per round on a shrinking edge frame, localCheckpoint lineage cuts"),
    ("q176_collocations", "collocation lift — one bigram count shuffle + vocabulary-sized margin joins + 1-row total crossJoin"),
    ("q177_interval_overlap", "bin-decomposed interval x interval overlap join — bin equi-join, first-shared-bin dedup, TRUE pair volume is the output term"),
    ("q178_skew_report", "join-key skew diagnostics — one per-key count agg + a global window over the provably O(sqrt n) bucket-size histogram"),
    ("q179_grouped_agg_pandas", "grouped-agg pandas UDF cell — one keyed exchange into ArrowAggregatePython, whole groups cross to Python"),
    ("q180_quantile_rollup", "mergeable rank-spaced quantile rollup — one (group,day,value) count shuffle + per-bucket windows over the histogram, report joins are group-sized"),
    ("q181_weighted_sample", "weighted ticket-race sample — O(sum w) map-side explode collapsed by algebraic min, one item-frame shuffle + per-stratum top-n window"),
    ("q182_proximity_search", "NEAR/k proximity retrieval — two posting-bucket scans + one doc_id equi-join, nested HOF position algebra, no explode"),
    ("q183_kmeans", "integer-quantized k-means — per-iteration broadcast of k centroid rows + one (cluster,dim) update shuffle; the assignment scan is the only data term"),
    ("q184_attribution", "last/first-touch attribution — ONE per-user RANGE-frame window pass over integer microseconds, never the touches x conversions pair join"),
    ("q185_bigram_nll", "interpolated-bigram NLL — one bigram-instance frame, three count aggs over it, LM joined back keyed by (w1,w2)"),
    ("q186_group_trend", "grouped OLS trend — one map-side-combinable moment shuffle; everything downstream is |groups|-sized"),
    ("q187_autocorr", "lag-k autocorrelation — one daily-cents shuffle; grid fill + lag join run on the domain-bounded (type x day) frame"),
    ("q188_cluster_split", "cluster-safe split — q111's star-edge + bounded near-dup CC, then two keyed lookups (cluster, rep text)"),
    ("q189_vwap_vol", "VWAP + realized vol — one (type, day) shuffle shared by the lag window and the agg (the q156 TWAP plan shape)"),
    ("q190_bpe_merges", "BPE merge learning — corpus-sized work is ONE token count; 3 merge rounds on the vocab frame, 1-row argmax collects"),
    ("q191_pq_topk", "PQ-ADC top-k — m bounded Lloyd loops (broadcast assigns + (cluster,dim) update shuffles), then the CODES frame joins an n_queries*m*k-row broadcast table; no full-vector traffic at query time"),
    ("q192_seasonal_outliers", "seasonal day-of-week MAD screen — one daily-totals shuffle, then two keyed selection windows + two broadcast baseline joins on the domain-bounded (type x day) frame"),
    ("q193_ivfpq_topk", "IVF-PQ top-k — coarse + m PQ Lloyd loops (broadcast assigns + (cluster,dim) update shuffles), search joins the codes frame against an n_queries*nprobe broadcast of probed lists then the broadcast ADC table; per-query work proportional to probed-list population, never the corpus"),
    ("q194_bpe_batched", "batched BPE — one corpus token-count shuffle, then n_rounds vocab-frame pair counts with ONE m-row collect each (k/m driver round-trips, the q190 shape batched)"),
    ("q195_bitlsh_topk", "hyperplane bit-LSH top-k — one narrow signature projection (B aggregate HOFs, JVM codegen, no shuffle), candidate generation scans n_queries x n SIGNATURE bigints through a per-query top-C window, only n_queries x C rows rejoin full vectors"),
    ("q196_char_entropy", "char-entropy quality screen — one (doc, char) explode linear in corpus bytes + one map-side-collapsing (doc, char) count shuffle (<= |alphabet| rows per doc out) + one doc-keyed agg"),
]


def replicate(mult: int) -> str:
    """Write MULT-x copies of each fixture with offset keys."""
    out = os.path.join(PROBE_DIR, f"x{mult}")
    # renamed when the replica's contents change, so an older replica
    # is rebuilt rather than reused
    done_marker = os.path.join(out, "_REPLICATED_SCALED_NAMES")
    if os.path.exists(done_marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    from pyspark.sql import functions as F

    from live_market_data_orderflow_analysis_big_data_project__spark import (
        get_spark,
    )

    spark = get_spark(
        "scale-probe-replicate",
        extra_conf={"spark.driver.memory": f"{DRIVER_MEM_MB}m"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    offsets = {
        "events": [("event_id", 1_000_000), ("user_id", 10_000)],
        "orders": [("o_orderkey", 10_000_000), ("o_custkey", 10_000)],
        "customer": [("c_custkey", 10_000)],
        "lineitem": [("l_orderkey", 10_000_000)],
        "documents": [("doc_id", 1_000_000)],
        "embeddings": [("vec_id", 1_000_000)],
    }
    for name in ["region", "nation", "supplier", "part"]:
        shutil.copy(
            os.path.join(SF, f"{name}.parquet"),
            os.path.join(out, f"{name}.parquet"),
        )
    for name, offs in offsets.items():
        base = spark.read.parquet(os.path.join(SF, f"{name}.parquet"))
        copies = []
        for i in range(mult):
            c = base
            for col, step in offs:
                c = c.withColumn(col, F.col(col) + F.lit(i * step))
            if name == "customer":
                # Offsetting c_custkey alone would leave c_name
                # byte-identical across copies, so q146's fuzzy match
                # would rerun the SAME names at every scale.  The
                # fixture's c_name is this format of c_custkey, so the
                # 1x copy is unchanged and the distinct-name domain
                # scales with the keys.
                c = c.withColumn(
                    "c_name", F.format_string("Customer#%09d", "c_custkey")
                )
            if name == "documents" and i > 0:
                # Make copies textually DISJOINT via a per-copy alphabet
                # rotation (Caesar shift by i): verbatim replication gives
                # every doc 16 exact twins, near-dup classes grow with
                # scale, and any pairwise dedup output becomes quadratic
                # BY CONSTRUCTION — measuring the fixture artifact, not
                # the operator (first probe run: q91b "ratio" 109x).
                # A bijective per-copy char map preserves each copy's
                # internal pair structure EXACTLY — at BOTH token and
                # character granularity, and without changing lengths —
                # while zeroing cross-copy similarity at both levels
                # (docs/SCALING.md findings 2 and 6).
                # Pure rotation admits at most 26 pairwise-distinct
                # letter maps: at i % 26 == 0 the map is the identity
                # and verbatim duplicates (the 109x artifact) silently
                # return.  Hard-assert the bound rather than wrap.
                assert mult <= 26, (
                    f"replica disjointness is only guaranteed for "
                    f"mult <= 26 (got {mult}): copy i%26==0 would be "
                    "byte-identical to copy 0"
                )
                lo = "abcdefghijklmnopqrstuvwxyz"
                dg = "0123456789"
                rot = lo[i:] + lo[:i]
                # digits rotate too (shift 1..9, never identity for
                # i>0) so digit-heavy k-grams also differ vs copy 0;
                # residual: copies i and i+9 share the digit map, so
                # PURE-digit 8-grams could still collide between
                # non-zero copies — no such runs exist in the fixture
                # text.
                dshift = 1 + (i - 1) % 9
                drot = dg[dshift:] + dg[:dshift]
                c = c.withColumn(
                    "text",
                    F.translate(
                        F.col("text"),
                        lo + lo.upper() + dg,
                        rot + rot.upper() + drot,
                    ),
                )
            copies.append(c)
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    spark.stop()
    open(done_marker, "w").close()
    return out


def run_isolated(key: str, sf_dir: str) -> float:
    """Bench's median seconds for entry ``key`` on ``sf_dir``, measured
    by ``python bench.py KEY`` in a fresh process."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), key],
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_DRIVER_MEM_MB": DRIVER_MEM_MB,
        },
        capture_output=True,
        text=True,
        timeout=3600,
    )
    rec = {}
    for line in p.stdout.splitlines():
        if line.startswith("{"):
            rec = json.loads(line)
    sec = rec.get("queries", {}).get(key, -1.0)
    if p.returncode or rec.get("n_failed", 1) or sec < 0:
        raise RuntimeError(
            f"{key} @ {sf_dir} failed (exit {p.returncode}):\n{p.stderr[-2000:]}"
        )
    return sec


def render(doc: str, mult: int, master: str, rows) -> str:
    """``doc`` with its head (title, intro, table) rebuilt from ``rows``
    of ``(key, why, sec_1x, sec_mult, ratio)``; every line after the
    table is kept byte for byte."""
    lines = doc.splitlines(keepends=True)
    i = next(n for n, line in enumerate(lines) if line.startswith("| query |"))
    while i < len(lines) and lines[i].startswith("|"):
        i += 1
    head = [
        f"# Scale probe ({mult}x replicated sf0.1 fixtures, {master})",
        "",
        "Key spaces are scaled with the data (ids offset per copy), so a",
        "keyed shuffle-bounded plan should show wall-time ratio <= ~the",
        f"replication factor ({mult}); super-linear ratios flag plans that",
        "would not survive a 100 TB scale-up.  Ratios well under the factor",
        "mean the 1x run is overhead-dominated (session/scan fixed costs),",
        "common for sub-second queries.  Each cell is `python bench.py KEY`",
        "in its own process (fresh JVM) to keep timings independent: the",
        "entry's median of 3 samples.",
        "",
        f"| query | representative of | 1x sec | {mult}x sec | ratio |",
        "|---|---|---|---|---|",
    ]
    head += [
        f"| {key} | {why} | {t1:.2f} | {tm:.2f} | {ratio:.1f} |"
        for key, why, t1, tm, ratio in rows
    ]
    return "\n".join(head) + "\n" + "".join(lines[i:])


def main() -> None:
    from live_market_data_orderflow_analysis_big_data_project__spark.session import (
        default_master,
    )

    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    big = replicate(mult)

    rows = []
    for key, why in PROBE_QUERIES:
        t1 = run_isolated(key, SF)
        tm = run_isolated(key, big)
        ratio = tm / t1 if t1 > 0 else float("inf")
        rows.append((key, why, t1, tm, ratio))
        print(f"{key}: 1x={t1:.2f}s {mult}x={tm:.2f}s ratio={ratio:.1f}")

    with open(DOC) as f:
        doc = f.read()
    with open(DOC, "w") as f:
        f.write(render(doc, mult, default_master(), rows))
    print("wrote docs/SCALING.md")


if __name__ == "__main__":
    main()
