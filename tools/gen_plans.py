#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans of flagship queries with the
properties each one must exhibit (pushdown, pruning, broadcast, top-k,
generator fan-out). Also ASSERTS those properties — run as a plan
regression check:
    PYTHONPATH=. python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from open_data_lakehouse_demo_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


def _ann_arm_plan(spark, sf_dir):
    from open_data_lakehouse_demo_spark.plans.inventory_vectors import (
        _ann_ranked_pairs_plan,
    )

    return _ann_ranked_pairs_plan(spark, sf_dir)


# Plan builders that aren't registered queries but carry plan contracts of
# their own (shared substrates consumed by several queries). check_plan
# resolves these names before falling back to QUERIES.
EXTRA_PLANS = {
    "ann_ranked_pairs_arm": _ann_arm_plan,
}

# (query, required plan fragments, commentary)
CHECKS = [
    (
        "pricing_summary",
        ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
        "Filter pushed into the parquet scan; ReadSchema pruned to the 6 "
        "needed columns; partial HashAggregate map-side → one shuffle of "
        "group rows only.",
    ),
    (
        "order_features",
        ["BroadcastHashJoin", "PushedFilters"],
        "Star joins: the fact-fact join shuffles on orderkey, dimension "
        "joins broadcast; the l_extendedprice > 1000 filter reaches the scan.",
    ),
    (
        "top_orders",
        ["TakeOrderedAndProject"],
        "ORDER BY + LIMIT plans as per-partition top-k merge, not a total sort.",
    ),
    (
        "minute_fanout",
        ["Generate"],
        "The 60x fan-out is a Generate inside the scan stage — zero shuffle "
        "for the expansion itself.",
    ),
    (
        "demand_avg_recent",
        ["Subquery", "PushedFilters"],
        "The MAX(ts) anchor runs as a scalar subquery; the derived predicate "
        "then prunes at the main scan.",
    ),
    (
        "cosine_topk_bruteforce",
        ["ArrowEvalPython", "Generate", "0x:BroadcastNestedLoopJoin",
         "0x:CartesianProduct", "WindowGroupLimit"],
        "r13: NO join at all — each corpus vector crosses the Python "
        "boundary once and returns its P-wide exact-fold dot array "
        "(probe_dots_batch over the driver-collected probe batch, the "
        "same driver materialization the old broadcast performed); the "
        "pair rows are reconstituted JVM-side by a posexplode Generate, "
        "and WindowGroupLimit prunes to top-k map-side BEFORE the "
        "ranking exchange. Boundary traffic: pairs·2·dim → corpus·(dim+P).",
    ),
    (
        "minhash_lsh_dups",
        ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "HashAggregate"],
        "Band-key equi-join generates candidates (join strategy picked by "
        "AQE per input size); all hashing is JVM expressions; verification "
        "joins carry pre-sorted shingle arrays.",
    ),
    (
        "revenue_rollup_region_nation",
        ["Expand", "BroadcastHashJoin"],
        "ROLLUP plans as Expand + single aggregate pass; nation/region "
        "dimensions broadcast.",
    ),
    (
        "forecast_vs_actual",
        ["1x:Scan parquet", "Generate", "HashAggregate"],
        "Single-scan pivot: the actual-vs-shifted-forecast join is fanned "
        "into role rows by a Generate inside the scan stage and aggregated "
        "once — exactly ONE parquet scan and one shuffle, vs 2 scans + 4 "
        "shuffles for the naive self-join.",
    ),
    (
        "actual_vs_two_forecasts",
        ["1x:Scan parquet", "Generate", "HashAggregate"],
        "Three-way chained left joins collapsed to the same single-scan "
        "pivot with three roles.",
    ),
    (
        "bus_ride_simulation",
        ["MapInPandas", "hashpartitioning(bus_ride_id"],
        "Ride groups are ~14 rows; grouped-map would pay one Python call + "
        "Arrow conversion per group. Plan shape: hash-repartition by ride, "
        "sort within partitions, ONE MapInPandas per batch iterating "
        "contiguous groups (carry buffer for batch-boundary splits).",
    ),
    (
        "stratified_sample_docs",
        ["ReadSchema: struct<doc_id:bigint,lang:string,source:string>"],
        "Hash-gated stratified sample is map-side only: no shuffle, and "
        "column pruning reaches the scan — the text payload is never read.",
    ),
    (
        "vocab_stats",
        ["Generate", "HashAggregate", "BroadcastNestedLoopJoin|BroadcastHashJoin"],
        "Token explode is a generator in the scan stage; tf/df aggregate "
        "partially map-side (count-distinct expands to the standard "
        "two-phase plan); the corpus-size scalar joins as a broadcast.",
    ),
    (
        "embedding_near_dup_lsh",
        ["ArrowEvalPython", "BroadcastHashJoin", "1x:- Exchange ("],
        "Arrow-batched bucket + verify-cosine stages (bit-parity-proven "
        "against the expression fold); the materialized bucket table feeds "
        "both sides of the candidate self-join so the Python bucket pass "
        "runs ONCE; exactly one shuffle (the candidate-pair distinct) — "
        "all other joins broadcast.",
    ),
    (
        "simhash_dups",
        ["Generate", "BroadcastHashJoin", "1x:- Exchange (", "0x:SortMergeJoin"],
        "Materialized signature table self-joins on pigeonhole blocks "
        "(4 × 15-bit — block width sets random collisions at N²/2^b, and "
        "the earlier 8-bit blocks went quadratic at the 10× scale check) "
        "via broadcast; the Hamming filter runs BEFORE the pair-distinct, "
        "so the single shuffle carries only true near-dups.",
    ),
    (
        "bigram_stats",
        ["BroadcastHashJoin", "BroadcastNestedLoopJoin Cross", "0x:SortMergeJoin"],
        "Vocabulary-sized unigram counts broadcast into both word-key "
        "lookups (zipf-bounded — broadcastable at any corpus scale), so "
        "the filtered bigram table never shuffles; the corpus total joins "
        "as a broadcast scalar.",
    ),
    (
        "token_shard_assignment",
        ["Window", "BroadcastHashJoin", "HashAggregate"],
        "Distributed prefix sum: the range-repartitioned frame is "
        "checkpoint-materialized (so BOTH consumers — the per-partition "
        "offsets aggregate and the final join — see the SAME sampled "
        "boundaries; it scans as ExistingRDD here, hiding the range "
        "exchange), offsets broadcast, and the running sums are ordinary "
        "per-partition windows — bit-identical to the oracle's "
        "single-window cumsum with none of its one-partition sort.",
    ),
    (
        "distinct_users_hll",
        ["HashAggregate", "0x:Join"],
        "Built-in HLL++ over users pre-aggregated per (event_type, user_id): "
        "the lower aggregates carry only a count, so the sketch's partial "
        "buffers exist per event type, not per (event_type, user_id) group "
        "(tests/test_sketches.py pins this).",
    ),
    (
        "distinct_users_hll_portable",
        ["HashAggregate", "0x:Join", "0x:Window"],
        "Portable-register HLL is two chained hash aggregates (register "
        "max per bucket, then register sum per type) — map-side partials, "
        "no joins, no windows, sketch-sized shuffles.",
    ),
    (
        "value_quantiles_histogram",
        ["Window", "BroadcastNestedLoopJoin|BroadcastHashJoin", "HashAggregate"],
        "Histogram sketch: bin counts hash-aggregate map-side; the bounds "
        "scalar and the quantile-probe table broadcast; the cumulative "
        "count window runs over ≤64 rows per type.",
    ),
    (
        "seasonal_forecast_daily",
        ["Window", "1x:- Exchange (", "0x:Join", "1x:Scan ExistingRDD"],
        "Single window-chained branch over the materialized series: OLS "
        "sums, per-phase seasonal means, SSE and the phase→seasonal map "
        "are all window aggregates sharing ONE series shuffle (the "
        "(id,phase) window runs under the id hash partitioning); the "
        "horizon fan-out reads the seasonal profile from the carried map — "
        "no joins anywhere in the plan.",
    ),
    (
        "repetition_profile",
        ["Generate", "0x:Window", "HashAggregate"],
        "Bigram fan-out is a Generate in the scan stage; the per-doc "
        "top-bigram argmax is a max(struct) hash aggregate — no window, "
        "no sort; the doc-keyed feature join co-partitions on doc_id.",
    ),
    (
        "token_rarity_profile",
        ["BroadcastHashJoin", "0x:Window", "HashAggregate"],
        "Vocabulary counts broadcast back onto the exploded token stream; "
        "per-doc rollups are exact integer hash aggregates — one fact "
        "shuffle on doc_id, no windows.",
    ),
    (
        "source_mixture_sample",
        ["BroadcastHashJoin", "0x:Window", "PushedFilters"],
        "Language-sized rate table broadcast onto the docs scan; the keep "
        "decision is a map-side hash filter — zero fact-table shuffles.",
    ),
    (
        "ivf_sq8_topk",
        ["WindowGroupLimit", "BroadcastHashJoin", "0x:CartesianProduct",
         "0x:SortMergeJoin"],
        "IVF-pruned SQ8 search: candidates come from the centroid_id "
        "equi-join (probe lists broadcast), the SQ codebook is 2xDIM "
        "driver-side literals folded into the scan projection (no "
        "stats joins at all), and the per-probe top-k is "
        "WindowGroupLimit-pruned before the final rank filter — "
        "per-probe work is O(N·nprobe/n_centroids), not the "
        "exhaustive scan.",
    ),
    (
        "cosine_topk_ivf_kmeans",
        ["2x:Scan ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit",
         "1x:ArrowEvalPython", "0x:CartesianProduct"],
        "Trained-IVF search (perf watchlist — regressed ~2x in r5, fixed "
        "r6): ONE materialized Arrow assignment pass feeds BOTH search "
        "sides, so the final plan reads the checkpointed (assigns, vid, "
        "vec, nrm) table twice (2x Scan ExistingRDD) and the only "
        "remaining Python eval is the candidate cosine scoring — the "
        "1x:ArrowEvalPython count is the guard against reintroducing "
        "per-side assignment scans. Probe lists broadcast onto the "
        "corpus-side equi-join; per-probe top-k is WindowGroupLimit-"
        "pruned.",
    ),
    (
        "doc_chunks",
        ["Generate", "0x:Window", "0x:SortMergeJoin", "0x:HashAggregate",
         "1x:Scan parquet"],
        "RAG chunking is map-only: tokenization, window arithmetic and "
        "slicing are codegen Column expressions in a single documents "
        "scan; the chunk fan-out is a Generate (explode). The one "
        "Exchange is spread()'s round-robin rebalance so the fan-out "
        "parallelizes past the source file count — no key shuffle, no "
        "join, no aggregation anywhere.",
    ),
    (
        "table_profile",
        ["Generate", "0x:Window", "0x:BroadcastHashJoin",
         "0x:SortMergeJoin", "1x:Scan parquet"],
        "Whole-table profiling is ONE aggregation pass over one scan "
        "(every per-column stat is an agg expression in the same "
        "SortAggregate), reduced to a single 1-row exchange; the "
        "per-column unpivot is a stack() Generate over that 1-row "
        "result — column count never multiplies the data pass.",
    ),
    (
        "ann_ranked_pairs_arm",
        ["1x:Window (", "Generate", "0x:Join", "0x:Aggregate",
         "0x:CartesianProduct"],
        "The shared ground-truth substrate behind ann_recall_eval AND "
        "ann_recall_sweep (_ann_ranked_pairs_plan): ONE corpus scan feeds "
        "two Arrow kernels — each vector's P-wide exact-fold dot array "
        "against the driver-collected probe batch (posexploded into the "
        "pair rows by a Generate) and its one inverted list from the "
        "shared assignment kernel; each probe's swept lists are ranked "
        "on the driver by the same ranking routine and ride the plan as "
        "literals, so pair_rank is an array_position, not a join. ONE "
        "(cosine DESC, neighbor) window sort carries the exact rank plus "
        "every nprobe level's cumulative admission count (same "
        "partition/order spec ⇒ Catalyst fuses them into a single Window "
        "operator) — no assignment join, no argmax aggregate, no "
        "probe-side window. Consumers read the materialized result.",
    ),
    (
        "ann_recall_sweep",
        ["1x:Scan ExistingRDD", "HashAggregate", "Generate", "0x:Window",
         "0x:CartesianProduct"],
        "The sweep itself is a constant-size read of the materialized "
        "shared arm (Scan ExistingRDD — built once per (session, sf_dir) "
        "and reused by ann_recall_eval): every level's hit count comes "
        "from ONE hash aggregate over the annotated pairs, unpivoted by a "
        "stack() Generate — no window sort and no pair fan-out re-run in "
        "the query's own plan.",
    ),
    (
        "packed_example_assignment",
        ["Window", "HashAggregate"],
        "Same two-phase distributed prefix sum as token_shard_assignment "
        "(range partition -> per-partition totals -> broadcast offsets -> "
        "within-partition windows); example ids/offsets are arithmetic "
        "over the running sum.",
    ),
    (
        "shared_substring_spans",
        ["Window", "HashAggregate", "0x:CartesianProduct", "BroadcastHashJoin"],
        "Candidates come from the df-capped inverted-index equi-join over "
        "the materialized positioned-shingle table (never a cross join; "
        "the shingle Generate runs once inside the checkpoint subtree); "
        "runs resolve via ONE gaps-and-islands window over "
        "high-cardinality (pair, diagonal) keys plus two hash aggregates.",
    ),
    (
        "scrub_duplicated_spans",
        ["0x:CartesianProduct", "0x:Window", "0x:Generate",
         "Scan ExistingRDD", "SortMergeJoin|BroadcastHashJoin"],
        "The ACTION's own plan is the MAP-SIDE apply (r9): one documents "
        "scan left-joined to the session-materialized merged-interval "
        "relation (Scan ExistingRDD — span-mass-sized, shared with the "
        "two canaries), token filtering via HOFs in the projection — no "
        "window, no generate, no cartesian in the apply; the "
        "islands/merge windows live in the cached relation's one-time "
        "build. AQE flips the join to broadcast when the interval side "
        "lands small.",
    ),
    (
        "pii_scrub_profile",
        ["0x:Exchange", "* Project", "0x:BatchEvalPython"],
        "Map-only: every regex pass (detect + redact) is a Column "
        "expression inside ONE codegen scan stage — zero shuffles, zero "
        "Python, embarrassingly parallel at any scale.",
    ),
    (
        "hash_split_assignment",
        ["0x:Exchange", "* Project"],
        "Map-only salted-hash split: md5 bucket + CASE label computed in "
        "the scan stage; the split costs one pass regardless of corpus "
        "size.",
    ),
    (
        "funnel_conversion",
        ["ObjectHashAggregate", "0x:Join", "0x:Window", "0x:Sort"],
        "windowFunnel-style single pass: ONE user-keyed shuffle collecting "
        "min(signup) + per-type ts arrays; strict-order mins resolve with "
        "array expressions — no join chain (4 shuffles + 4 barrier jobs "
        "in the classic formulation, which the oracle keeps), no window "
        "sort. Funnel rollup reduces to 1 row and unpivots via stack.",
    ),
    (
        "cms_heavy_hitters",
        ["Generate", "BroadcastHashJoin", "TakeOrderedAndProject", "0x:SortMergeJoin"],
        "CMS cells partial-aggregate map-side (<=192-row shuffle at any "
        "corpus size); candidate read-out joins the BROADCAST sketch; "
        "top-k is a per-partition TakeOrdered merge, not a global sort.",
    ),
    (
        "semantic_dedup",
        ["ShuffledHashJoin", "0x:BroadcastNestedLoopJoin", "0x:SortMergeJoin",
         "0x:CartesianProduct"],
        "Cluster assignment is the fused assign+norm Arrow kernel against "
        "the literal seed codebook (r14 — the former O(n*C) "
        "BroadcastNestedLoopJoin fan-out is gone from the plan); the "
        "within-cluster self-join is hinted shuffle_hash so the quadratic "
        "fan-out streams instead of sorting; keep-first keeper = one "
        "min(struct) aggregate.",
    ),
    (
        "containment_dups",
        ["BroadcastHashJoin", "Generate", "0x:SortMergeJoin", "0x:CartesianProduct"],
        "One-sided prefix filter: the candidate join streams each doc's "
        "PREFIX against the full df-capped index (broadcast under AQE at "
        "this SF; equi-join on the shingle hash at scale) — never a cross "
        "join; verification reads full sets via array_intersect.",
    ),
    (
        "daily_ohlc",
        ["SortAggregate", "1x:- Exchange (", "0x:Window", "0x:Join"],
        "OHLC downsample: min/max over struct(ts,id,value) plans as a "
        "map-side PARTIAL SortAggregate (struct buffers aren't "
        "hash-aggregatable; the sort key is the small group key) with "
        "exactly one group-row shuffle — no window over the fact table.",
    ),
    (
        "ivf_pq_topk",
        ["BroadcastHashJoin", "0x:SortMergeJoin", "0x:CartesianProduct"],
        "IVFPQ: the candidate join is an equi-join on centroid_id against "
        "the inverted (vid, codes) lists — the corpus prunes to nprobe "
        "lists BEFORE any ADC scoring; codebook and probe LUTs broadcast.",
    ),
    (
        "skewed_join_salted",
        ["Generate", "0x:CartesianProduct", "0x:SortMergeJoin"],
        "Explicit salting: the dimension replicates per salt bucket via a "
        "Generate (explode of a literal range — no shuffle for the "
        "replication); the join key is (event_type, salt), so each hot "
        "key spreads over 16 reducers. AQE broadcasts the 80-row salted "
        "dim at this SF; the pattern targets broadcast-ineligible cases.",
    ),
    (
        "pq_adc_topk",
        ["ArrowEvalPython", "BroadcastNestedLoopJoin", "0x:SortMergeJoin",
         "0x:CartesianProduct", "0x:HashAggregate"],
        "Encode and per-probe LUTs are Arrow kernels (ArrowEvalPython) "
        "against the driver-side seed codebook — zero shuffles and zero "
        "joins before the search; ADC search is the "
        "BroadcastNestedLoopJoin of per-probe LUTs against the ENCODED "
        "corpus (8 ints/vector — the raw vectors never re-read).",
    ),
    (
        "sq_int8_topk",
        ["3x:Scan parquet", "BroadcastNestedLoopJoin Cross",
         "BroadcastNestedLoopJoin Inner", "WindowGroupLimit",
         "0x:SortMergeJoin", "ArrowEvalPython"],
        "SQ8 search, fully declarative and collect-free (r6): the 1-row "
        "per-dim stats frame (posexplode + bounded aggregate) "
        "crossJoin-broadcasts onto the corpus scan — the codebook is a "
        "broadcast SUBPLAN, not a driver collect, so the whole search "
        "is ONE action; encode+reconstruct fuse into a single "
        "projection (sq_recon_expr, int-code roundtrip preserved for "
        "bit-parity with stored codes); corpus points reconstruct ONCE "
        "per row (not per pair) before the broadcast probe join and "
        "score via the bit-parity Arrow kernel; top-k prunes "
        "per-partition via WindowGroupLimit before the final rank.",
    ),
    (
        "bloom_decontaminate",
        ["Generate", "0x:SortMergeJoin", "0x:BroadcastHashJoin",
         "0x:BroadcastNestedLoopJoin", "1x:Scan parquet", "HashAggregate"],
        "ONE corpus pass, ZERO joins (r7): the eval suite is "
        "constant-size by construction, so its Bloom bitmap embeds as a "
        "124-long array LITERAL and its exact hashes as an InSet — both "
        "built driver-side from one tiny collect (memoized per session). "
        "Every exploded shingle pays ONE md5 whose slices feed the K "
        "bloom conjuncts AND the exact-audit hash; the only fact-sized "
        "shuffle is the flagged-rows groupBy reduce. Exactly 1 scan: "
        "the corpus (the r6 shape paid a crossJoin broadcast round, a "
        "LeftOuter hash-set broadcast, two benchmark scans and a second "
        "md5 per shingle — 2.17x the DuckDB gate; this shape is the "
        "how-a-100TB-decontaminator-ships-its-eval-set design).",
    ),
    (
        "scd2_priority_history",
        ["1x:- Exchange (", "Window", "0x:Join", "SortAggregate|HashAggregate"],
        "SCD2 build: the change-flag window, run aggregate and the "
        "closing-bound lead() all share the o_custkey partitioning — "
        "exactly ONE fact-table shuffle, no joins anywhere.",
    ),
    (
        "touch_attribution",
        ["HashAggregate", "0x:CartesianProduct", "Scan ExistingRDD", "0x:Scan parquet"],
        "The 24h range join (bucketized, purchase side broadcast with its "
        "25-bucket Generate) runs ONCE inside the checkpointed "
        "per-(purchase,channel) aggregate, which carries its own "
        "first/last structs — the naive first/last/linear formulation "
        "planned the join subtree three times.",
    ),
    (
        "customer_value_deciles",
        ["row_number() windowspecdefinition(_pid", "2x:Window (",
         "BroadcastHashJoin", "0x:SortMergeJoin"],
        "Scale-safe ranking: the global rank is the two-phase distributed "
        "prefix sum (global_row_number) — the fact-sized window partitions "
        "BY the range partition id; the only un-partitioned window runs on "
        "the partition-count-sized offsets table (same accepted pattern as "
        "token_shard_assignment). NTILE/PERCENT_RANK/CUME_DIST are then "
        "closed-form arithmetic over (rank, n) — no single-partition sort "
        "of the customer relation anywhere.",
    ),
    (
        "bpe_merges",
        ["0x:Scan parquet", "0x:Exchange"],
        "The learned merge table is a driver-literal LocalTableScan: each "
        "greedy round ran as one vocab-sized explode→groupBy job with the "
        "winning pair collected (1 row/round, the k-means-codebook "
        "pattern), so the RESULT plan is constant-size by design.",
    ),
    # r10 additions: the heaviest bench rows that still lacked plan pins
    (
        "ngram_jaccard_dups",
        ["0x:CartesianProduct", "Generate", "HashAggregate",
         "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        "Prefix-filtered candidate generation stays an EQUI-join over the "
        "rare-shingle inverted index (strategy picked by AQE per size; "
        "never a cross product) on the materialized signature table; "
        "shingle explode is a Generate inside the scan stage and Jaccard "
        "verification is a hash aggregate over pre-sorted shingle arrays.",
    ),
    (
        "incremental_near_dups",
        ["0x:CartesianProduct", "Generate", "HashAggregate",
         "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"],
        "The steady-state ingest shape: band equi-join with the BATCH side "
        "as the small build input (broadcast at this size; shuffled at "
        "scale), never a cross product — join output bounded by the "
        "batch's collision fan-in, not the corpus.",
    ),
    (
        "curated_corpus",
        ["LeftSemi", "LeftAnti", "PushedFilters", "0x:CartesianProduct"],
        "The end-to-end curation pipeline keeps its set-op shape: quality "
        "gate pushed into the parquet scan, exact-dup canonical keep as a "
        "semi-join, near-dup losers removed by an anti-join — no cross "
        "product anywhere in the composed plan.",
    ),
    (
        "last_lineitem_per_order",
        ["1x:Scan parquet", "1x:Exchange", "Window",
         "0x:SortMergeJoin", "0x:BroadcastHashJoin", "0x:ShuffledHashJoin",
         "0x:CartesianProduct"],
        "r13 (J1 carrier rewritten, guide §2.4): rows where l_linenumber "
        "= MAX(l_linenumber) OVER (PARTITION BY l_orderkey) is the "
        "identical relation to the old aggregate-then-join form — "
        "(l_orderkey, l_linenumber) is unique — computed with ONE scan "
        "and ONE exchange instead of two scans and three (aggregate + "
        "both join sides). Measured 1.15 → 0.48 s at sf0.1.",
    ),
    (
        "cosine_topk_ivf",
        ["WindowGroupLimit", "ArrowEvalPython", "0x:BatchEvalPython",
         "0x:BroadcastNestedLoopJoin"],
        "IVF probe search: the rank<=k filter plans as WindowGroupLimit "
        "(partial per-partition top-k before the final window — the "
        "scale-safe shape); coarse assignment is the fused assign+norm "
        "Arrow kernel against the literal seed codebook (r14 — no "
        "broadcast fan-out join, no corpus norm checkpoint), distances "
        "run Arrow-vectorized (never row-at-a-time BatchEvalPython).",
    ),
    (
        "image_feature_extract",
        ["MapInPandas", "1x:Scan parquet", "0x:BatchEvalPython"],
        "Multimodal decode+feature path: ONE parquet scan feeds "
        "iterator-mode MapInPandas (Arrow batches; binary column never "
        "row-serialized through Python pickling).",
    ),
    (
        "video_frame_sample",
        ["Generate", "0x:MapInPandas", "0x:ArrowEvalPython"],
        "Frame schedule without frame bytes: pure arithmetic over the "
        "media metadata, so one JVM explode(sequence(0, greatest("
        "duration_ms div 500, 1) - 1)) projection — no Python stage, no "
        "worker round-trip.",
    ),
]


def check_plan(spark, name: str, fragments: list[str]) -> tuple[list[str], str]:
    """Return (missing fragments, formatted plan) for one query.

    "a|b" fragments accept any alternative (AQE picks strategies by size);
    "Nx:frag" requires EXACTLY N occurrences in the operator tree (e.g.
    single-scan assertions — the detail section repeats node names, so the
    count runs on the tree only); "0x:frag" requires ABSENCE from the tree
    (e.g. no sort-merge join, no join at all).
    """
    builder = EXTRA_PLANS.get(name)
    df = builder(spark, SF_DIR) if builder else QUERIES[name].spark(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]

    def ok(f: str) -> bool:
        m = re.match(r"^(\d+)x:", f)
        if m:
            return tree.count(f[m.end():]) == int(m.group(1))
        return any(alt in plan for alt in f.split("|"))

    return [f for f in fragments if not ok(f)], plan


NOISE_NOTES = """\
## Measurement-noise notes (r4)

The r2→r3 regressions flagged on rows-only multimodal/text queries were
A/B'd in round 4 with interleaved 5-run medians (VERDICT r3 items 3/7):

- Box load dominates: the identical video_frame_sample build measured
  4.57s median at load-avg ~10 (concurrent Spark sessions) and 1.45s at
  load-avg ~1, same session protocol. The sandbox is a shared-CPU VM; any
  per-query delta under ~3x is within its load envelope.
- video_frame_sample: ISOLATED (fresh session, direct operator call) the
  frame stage runs 0.37s median at sf0.1 — at r2's 0.51s level, so there
  is no code regression; the bench-suite number inflates with JVM/session
  state accumulated by the 60+ queries that run before it.
- doc_fingerprints: quiet-box median 0.81s vs the 1.90s recorded in
  BENCH_r03 — the r03 figure was noise, current code is FASTER than r02.
- image_feature_extract: quiet-box median 1.24s ~= r03's 1.07s; stable.

Conclusion: no multimodal code changes warranted; recorded here so future
rounds compare bench deltas against the load-sensitivity baseline above.
"""


def main() -> None:
    spark = get_spark(app_name="plans", cpus=8)
    print("# PLANS — physical-plan evidence for flagship queries\n")
    print("Generated (and property-asserted) by tools/gen_plans.py at sf0.01;")
    print("the same assertions run in the test suite (tests/test_plans.py).\n")
    print(NOISE_NOTES)
    failures = []
    for name, fragments, commentary in CHECKS:
        missing, plan = check_plan(spark, name, fragments)
        if missing:
            failures.append((name, missing))
        status = "OK" if not missing else f"MISSING {missing}"
        print(f"## {name}  [{status}]\n")
        print(commentary + "\n")
        print("Required fragments: " + ", ".join(f"`{f}`" for f in fragments) + "\n")
        # keep the plan section readable: header + operator tree only
        print("```\n" + plan.split("\n\n")[0].strip() + "\n```\n")
    if failures:
        print(f"PLAN REGRESSIONS: {failures}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
