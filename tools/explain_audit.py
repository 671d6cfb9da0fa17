"""Plan audit: assert the physical plans are the plans we want
(task rule: ".explain() the plan and iterate until it's the plan
you'd want").  Checks, per headline query:

- column pruning reached the scan (ReadSchema must not contain
  columns the query doesn't need — in particular `html` must never
  be read unless asked for);
- predicate pushdown (PushedFilters non-empty where a filter exists);
- broadcast joins where a small dim is joined (BroadcastHashJoin, not
  SortMergeJoin);
- whole-stage codegen present.

Run: python tools/explain_audit.py [sf_dir]   (exit 1 on violation)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from watermark_remove_spark.queries import QUERIES
    from watermark_remove_spark.session import build_session

    spark = build_session(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = []

    def check(name: str, plan: str, *, broadcast=False, pushed=False,
              codegen=True, forbid_read: tuple[str, ...] = (),
              forbid_node: tuple[str, ...] = (),
              require_node: tuple[str, ...] = ()):
        for node in forbid_node:
            if node in plan:
                failures.append(f"{name}: forbidden plan node {node}")
        for node in require_node:
            if node not in plan:
                failures.append(f"{name}: required plan node {node} missing")
        if broadcast and "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
            failures.append(f"{name}: expected broadcast join")
        if pushed and not re.search(r"PushedFilters: \[[^\]]+\]", plan):
            failures.append(f"{name}: expected pushed filters")
        if codegen and "codegen id" not in plan and "*(" not in plan:
            # AQE formatted plans omit codegen ids before execution —
            # informational only, not a failure
            print(f"  (note) {name}: codegen ids not visible pre-execution")
        for col in forbid_read:
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
                if col in m.group(1):
                    failures.append(f"{name}: scan reads forbidden column {col}")

    audits = {
        "q01_pricing_summary": dict(pushed=True),
        "q02_segment_sales": dict(broadcast=True),
        "q03_nations_with_buyers": dict(broadcast=True),
        "q05_top_orders_per_priority": dict(),
        "q09_tumbling_event_windows": dict(),
        "q13_frequent_shingles": dict(broadcast=True),
        # dedup/ANN candidate generators must be equi-joins, never
        # all-pairs: a CartesianProduct in any of these is a 100-TB
        # scale-killer (broadcast NLJ is allowed only for the bounded
        # query side of brute-force top-k)
        "q16_jaccard_pairs": dict(forbid_node=("CartesianProduct",)),
        "q20_cosine_topk": dict(broadcast=True),
        "q22_minhash_near_dupes": dict(forbid_node=("CartesianProduct",)),
        "q23_simhash_near_dupes": dict(forbid_node=("CartesianProduct",)),
        "q24_lsh_topk": dict(forbid_node=("CartesianProduct",)),
        "q26_salted_domain_windows": dict(),
        "q31_ivf_topk": dict(forbid_node=("CartesianProduct",)),
        "q34_embedding_near_dupes": dict(forbid_node=("CartesianProduct",)),
        # the range join exists to avoid the nested-loop plan Spark
        # gives a bare inequality join — assert it stays an equi-join
        "q43_range_join_incidents": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # decontamination: the benchmark gram set must BROADCAST into
        # the semi join — a shuffled semi join would re-shuffle the
        # full train-side gram explosion at 100 TB
        "q45_benchmark_decontamination": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        "q46_repetition_filters": dict(forbid_node=("CartesianProduct",)),
        "q48_url_canonicalization": dict(forbid_node=("CartesianProduct",)),
        "q49_hll_distinct_users": dict(forbid_node=("CartesianProduct",)),
        "q50_incremental_dedup": dict(forbid_node=("CartesianProduct",)),
        "q51_trending_tokens": dict(forbid_node=("CartesianProduct",)),
        # the bloom probe must stay a map-side literal predicate + a
        # broadcast semi join for the exact verify — never a shuffled
        # join of the full probe side
        "q54_bloom_join_pruning": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        "q61_distinctive_terms": dict(forbid_node=("CartesianProduct",)),
        # CMS probe: the <=2048-row sketch must broadcast into the
        # point-estimate join — shuffling candidates against it would
        # be backwards at any scale
        "q64_cms_heavy_hitters": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        "q65_funnel_sequences": dict(forbid_node=("CartesianProduct",)),
        "q68_triangle_counts": dict(forbid_node=("CartesianProduct",)),
        "q69_hll_merge_rollup": dict(forbid_node=("CartesianProduct",)),
        "q70_inverted_index": dict(forbid_node=("CartesianProduct",)),
        # duplicate-gram rate: the (doc,gram)-counts x gram-df join
        # must stay an equi-join on the gram key
        "q73_duplicate_ngram_rate": dict(forbid_node=("CartesianProduct",)),
        # MV merge: full-outer on the group keys — never all-pairs
        "q74_incremental_mv_merge": dict(forbid_node=("CartesianProduct",)),
        "q78_drift_monitor": dict(forbid_node=("CartesianProduct",)),
        # retrieval probes must broadcast into the postings join
        "q79_index_retrieval": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # containment: eval grams broadcast, like q45
        "q83_containment_scores": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # round-4c: paragraph dedup is window+agg only — never all-pairs
        "q86_paragraph_dedup": dict(forbid_node=("CartesianProduct",)),
        # token rarity: the ranked vocab must broadcast back onto the
        # token stream (the corpus-side pass stays map-side)
        "q87_token_rarity": dict(broadcast=True, forbid_node=("CartesianProduct",)),
        # fuzzy linkage candidates come from the block-key EQUI-join;
        # a bare levenshtein predicate would plan as a nested loop
        "q89_fuzzy_blocked_join": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        "q90_salted_skew_join": dict(forbid_node=("CartesianProduct",)),
        # rule filter compiles driver-side: ZERO join nodes allowed —
        # the anti-pattern is a LIKE-join of URLs x rules
        "q91_url_rule_filter": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
            )
        ),
        # union-merge as-of: the WHOLE POINT is zero join operators —
        # one union, one window
        "q93_asof_backfill": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
            )
        ),
        # mixture quotas: weights + per-lang counts broadcast
        "q94_mixture_quota": dict(broadcast=True, forbid_node=("CartesianProduct",)),
        # phrase search: postings join on (doc_id, pos+1) — an
        # equi-join, never a position-inequality nested loop
        "q96_phrase_search": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # filter cascade: pure map-side rules + one 5-row aggregate —
        # ZERO join nodes of any kind
        "q97_filter_cascade": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
            )
        ),
        # collocations: unigram counts + 1-row total broadcast onto the
        # support-pruned bigrams (the 1-row total is a benign
        # BroadcastNestedLoopJoin by construction); top-k must be
        # TakeOrderedAndProject, never a global Sort
        "q98_pmi_collocations": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # overlap chunking is a shuffle-free passthrough: per-row array
        # expressions + posexplode only.  The ONLY Exchange allowed is
        # the fixture's explicit widening repartition (REPARTITION_BY_NUM
        # in _t_wide); an ENSURE_REQUIREMENTS exchange would mean the
        # operator itself demanded a shuffle — forbidden, as is any join
        "q99_overlap_chunking": dict(
            codegen=False,
            forbid_node=(
                "ENSURE_REQUIREMENTS",
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
            ),
        ),
        # longest-prefix routing: rule table must broadcast onto the
        # exploded prefix chain — the anti-pattern is a LIKE-join
        # (BroadcastNestedLoopJoin) of URLs x rules
        "q101_robots_prefix_match": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # gap-fill: the spine comes from sequence()+explode per key,
        # never a calendar crossJoin
        "q102_gapfill_ffill": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # split audit: the 2-row leak table broadcasts back onto stats
        "q103_split_leakage": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # winsorize: percentile bounds broadcast back for the clip
        "q104_winsorized_stats": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # BM25: queries/df/totals broadcast onto the vocab-pruned tf
        # rows (the 1-row totals join is a benign broadcast NLJ)
        "q105_bm25_retrieval": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # span extents: the window-hash self-join must be an equi-join
        # — a position-predicate nested loop is the quadratic cliff
        "q106_duplicate_span_extents": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # interleave order: one per-group window, ZERO joins; top-60
        # must plan as TakeOrderedAndProject, never a global sort
        "q107_interleaved_mixture_order": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
            )
        ),
        # KN tables: per-token stats broadcast back onto the unigram
        # relation; the only corpus shuffle is the bigram count
        "q109_kn_lm_counts": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # semantic decontamination: eval side must broadcast (the
        # broadcast NLJ against the metadata-scale eval set is the
        # documented q20/q45 posture; an unbroadcast CartesianProduct
        # is not)
        "q110_semantic_decontamination": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # scheduler: schedule summary + worker window, zero joins
        "q111_crawl_scheduler": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # distribution matching: bounds/targets broadcast back (the
        # 1-row bounds join is a benign broadcast NLJ by construction)
        "q112_distribution_matched_sample": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # delta merge: index-scale full-outer join, never all-pairs
        "q113_index_delta_merge": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # HRW owner assignment is pure map-side — no join at all until
        # the 20-row fold (CartesianProduct must never appear)
        "q116_shard_rebalance_audit": dict(forbid_node=("CartesianProduct",)),
        # cascade is equi semi/anti joins down the FK chain
        "q117_deletion_cascade": dict(forbid_node=("CartesianProduct",)),
        # crawl diff: ONE full-outer equi-join on url, no fan-out
        "q119_crawl_diff": dict(forbid_node=("CartesianProduct",)),
        # waterfill: corpus sees one agg; windows run on the sources
        # relation; level joins back via broadcast
        "q120_token_waterfill": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # k-means step: assignment is map-side literal argmin — no join
        "q122_kmeans_iteration": dict(forbid_node=("CartesianProduct",)),
        # cohorts: user_id / cohort_day equi-joins only
        "q127_retention_cohorts": dict(forbid_node=("CartesianProduct",)),
        # skyline: x-group equi-join back; dominance is O(1) per row —
        # the naive all-pairs self-join must never appear
        "q128_quality_skyline": dict(forbid_node=("CartesianProduct",)),
        # transition matrix: one user-key window + hash aggs, no join
        "q129_markov_transitions": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # ANALYZE stats: one Generate (melt) + two hash aggs, no join
        "q131_column_statistics": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # bitmap algebra: overlap join runs on the word-aligned BITMAP
        # relation (1/62 of raw), card tables broadcast — never all-pairs
        "q132_bitmap_audience_algebra": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # sorted-neighborhood: block-key windows + unions, ZERO joins —
        # the candidate generator must never be a join of any kind
        "q134_sorted_neighborhood_pairs": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # funnel: user-key equi-joins and aggs only
        "q135_funnel_with_timeouts": dict(forbid_node=("CartesianProduct",)),
        # prefix-filter simjoin: candidates from a PREFIX-token
        # equi-join, verification only on candidate pairs — the naive
        # form is an all-pairs product and must never appear
        "q137_prefix_filter_simjoin": dict(forbid_node=("CartesianProduct",)),
        # star join: dims broadcast, fact touched once
        "q138_regional_supplier_volume": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # prefix-lattice rollup: one explode + one hash agg, NO join
        "q140_url_hierarchy_rollup": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # k-hop BFS: frontier equi-joins only, never a product
        "q141_khop_reachability": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # KMV sketch: the corpus pass is one bucket-min agg + a
        # broadcast-threshold filter; rank windows and set algebra run
        # on K-row sketches (the only cross join is the per-TYPE pair
        # lattice — metadata scale by construction); never a sort of
        # the raw hash relation
        "q142_kmv_distinct_algebra": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # weighted percentiles: one hash agg + windows over the grouped
        # (lang × length) relation — NO join of any kind
        "q143_token_weighted_percentiles": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # CUSUM: one corpus agg; k broadcast back; windows over the
        # hourly relation — broadcast join only
        "q144_cusum_changepoint": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # BPE merge step: corpus-scale work is ONE word-count agg;
        # the 1-row best-merge broadcast crossJoin plans as a
        # broadcast NLJ over the vocab-scale relation (metadata by
        # construction) — never a CartesianProduct or SMJ
        "q145_bpe_merge_step": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # join-size forecast: equi-joins between AGGREGATED key-count
        # relations only — the forecasted joins themselves never run
        "q146_join_size_forecast": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # LM hit scoring: one bigram explode; membership is an
        # equi-join (semi) on the token pair — never all-pairs
        "q151_lm_hit_scoring": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # FK audit: joins run between AGGREGATED key relations only;
        # the 1-row parent-count crossJoin broadcasts (metadata scale)
        "q152_referential_integrity_audit": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # zone-map audit: group-relation windows + equi-join back;
        # the only broadcast is metadata-scale
        "q153_zone_map_skipping_audit": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # stratified top-k: partitioned window, no join at all
        "q154_stratified_topk_sample": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # sliding bitmap rollup: hourly state relation + bounded x3
        # explode; active-hour semi join broadcasts
        "q155_sliding_bitmap_distinct_rollup": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # record linkage: capped-block self-join + broadcast freq
        # lookups; never an NLJ
        # attribution: one per-user window pass + channel-domain agg;
        # 1-row denominator broadcast (BNLJ ok)
        "q174_last_touch_attribution": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # roaring audit: one (source, chunk) hash agg, zero joins
        "q175_roaring_container_audit": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # percent-rank: windows on the grouped (lang, value) relation,
        # fixed-width join back to the corpus — never a corpus sort
        "q176_percent_rank_normalization": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # precedence: self-join of the per-user AGGREGATED (user, type)
        # relation; 1-row denominator broadcast (BNLJ ok)
        "q171_precedence_mining": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # ANN recall: the brute side is the sanctioned 3-row broadcast
        # baseline (q20); LSH side bucket equi-join; no SMJ anywhere
        "q172_ann_recall_audit": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # contrastive pairs: fixed-width (doc, idx) equi-joins +
        # 1-row corpus-size broadcast (BNLJ ok)
        "q173_contrastive_pairs": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # equi-depth histogram: one linear value agg; windows/aggs on
        # the bounded value relation; 1-row total broadcast (BNLJ ok)
        "q168_equidepth_histogram": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # varint audit: per-token lag windows (parallel by token);
        # df joins fixed-width; 1-row corpus total broadcast (BNLJ ok)
        "q169_posting_compression_audit": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # blocklist: map-side distinct grams + broadcast lexicon join
        "q170_blocklist_tagger": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"),
        ),
        # triangles: wedge equi-joins over the checkpointed oriented
        # edge list; never a product
        "q165_triangle_clustering": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # RRF: q105's scorer (query/df/totals broadcasts) + windows on
        # the 20-row candidate pool
        "q166_rrf_hybrid_retrieval": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # chi-square drift: one linear histogram agg; the only join is
        # histogram x per-lang totals (both bounded relations)
        "q167_snapshot_drift_chi2": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # OLS trend: one linear (type, day) agg; the only "join" is
        # the deliberate 1-row x-origin broadcast (BNLJ by design)
        "q164_daily_trend_slope": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # containment: q62's candidate shape — shared-shingle
        # equi-join, size lookups on aggregated relations
        "q160_shingle_containment": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # bot detection: two hash aggs, zero joins
        "q187_bot_detection": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # intersection planner: postings pruned map-side by the
        # broadcast query-term join; aggs on candidates only
        "q188_intersection_planner": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # symspell: variant equi-join with the mention side broadcast —
        # the all-pairs levenshtein scan must never appear
        "q189_symspell_edit1_join": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # shard top-k audit: per-shard windows + TakeOrdered head,
        # k-row head broadcast back
        "q190_shard_topk_audit": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "SortMergeJoin"),
        ),
        # co-occurrence pairs: user-key equi-self-join (cap-bounded
        # fan-out), hash aggs; no NLJ anywhere
        "q191_coclick_similarity": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # CDC chunking: map-side fold chunker, per-source hash agg —
        # zero joins of any kind
        "q193_cdc_chunking": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # COEC: 10-row position baseline broadcast, one item hash agg
        "q194_position_bias_coec": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "SortMergeJoin"),
        ),
        # lang-ID granularity: line explode -> hash agg -> windows on
        # the grouped relation; the only join is doc-scale
        "q195_langid_granularity_audit": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # retraction variance: two group-scale aggs + one full-outer
        # merge + one audit join — all on (lang, source) keys
        "q196_retraction_variance": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # aHash dedup: map-side HOF hashing, band equi-join candidates
        "q197_ahash_media_dedup": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # TPC-H Q7: dims broadcast (nation twice), fact scanned once
        "q198_cross_nation_volume": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # HITS: alternating u/v-keyed equi-join + hash-agg rounds
        "q199_user_hits": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # novelty curve: gram hash aggs + batch-scale joins; running
        # total windows over the tiny per-batch relation
        "q200_novelty_decay": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # butterfly census: one user-keyed wedge equi-join, pair hash
        # aggs, broadcast degree joins
        "q201_butterfly_cohesion": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # landing/exit: one user-keyed window shuffle shared by
        # lag/first/last; TYPE^2 aggregations after — no joins at all
        "q202_landing_exit_analytics": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # autocomplete: rank over the AGGREGATED vocab relation; the
        # prefix explode never touches raw tokens; no joins
        "q203_autocomplete_topk": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # calibration: map-side marker counting + one 10-group agg;
        # no joins at all
        "q204_langid_calibration": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # CIDR LPM: bounded 5-way prefix explode equi-joined against
        # the broadcast rule table; winner is one per-user window
        "q205_cidr_lpm_join": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # TPC-H Q10: dims broadcast, both fact filters pushed down,
        # top-20 via TakeOrderedAndProject
        "q206_returned_item_revenue": dict(
            broadcast=True,
            require_node=("TakeOrderedAndProject",),
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
            ),
        ),
        # k-fold contamination: gram-keyed self-join (fan-out <= K per
        # gram), broadcast 5-row fold stats
        "q208_kfold_contamination": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # churn training set: pushed time filters, one user-keyed agg,
        # label left join on user_id
        "q209_churn_training_set": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # grid epsilon join: bounded 9x explode + (cell,cell)
        # equi-join with the distance residual — the exact radius
        # join must never degrade to an NLJ
        "q210_grid_epsilon_join": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # interval overlap join: chunk equi-join with overlap +
        # meet-once residuals
        "q211_session_incident_overlap": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # periodicity: one user-keyed lag window, (user,bin) agg,
        # rank over the histogram relation — no joins
        "q212_periodicity_detection": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # MAD gate: two per-lang window sorts, lang-keyed broadcast
        # joins of one-row-per-lang relations
        "q213_mad_outlier_gate": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # redirect resolution: pointer-key self-equi-joins per
        # doubling round (post-checkpoint plan, like q62)
        "q214_redirect_resolution": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # KWIC: pure map-side HOFs over the scan — joinless
        "q215_kwic_concordance": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # mutual NN: grid-join candidates + id-keyed rank windows +
        # one (id,id) equi-join for the reciprocal filter
        "q216_mutual_nn_pairs": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # hazard table: one user agg, then windows over the <=30-row
        # duration relation — joinless
        "q217_discrete_hazard_table": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # FD profiling: per candidate two chained hash aggs, a 4-row
        # union — no joins
        "q219_fd_profile": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # TWA: one (user,day) window shuffle shared with the agg
        "q220_time_weighted_average": dict(
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
                "BroadcastHashJoin",
            )
        ),
        # TPC-H Q14: part broadcast, ship-date filter pushed down
        "q221_promo_revenue_share": dict(
            broadcast=True,
            forbid_node=(
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "SortMergeJoin",
            ),
        ),
        # dedup yield: content-hash agg + q62 candidate machinery on
        # the keeper subset; lang-scale output joins (plan is
        # post-checkpoint for the CC loop, like q62)
        "q183_dedup_yield": dict(forbid_node=("CartesianProduct",)),
        # transition dwell: one lag window + grouped-relation windows
        "q184_transition_dwell": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # seasonal anomaly: linear cell agg; median + classification on
        # the grouped (type, hour, count) relation
        "q180_seasonal_anomaly": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # MLT: anchor token relations broadcast into the postings join
        "q181_more_like_this": dict(
            broadcast=True, forbid_node=("CartesianProduct",)
        ),
        # encoding advisor: one melt + two hash aggs, zero joins
        "q182_dictionary_encoding_advisor": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # threshold sweep: grouped (lang, tc) relation x broadcast
        # 5-row threshold lattice (BNLJ ok — metadata-scale side)
        "q177_threshold_sweep": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # Neyman: one linear moment agg; everything else on the 5-row
        # strata relation (1-row total broadcasts, BNLJ ok)
        "q178_neyman_allocation": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        # OOV audit: one explode; 16-row vocab broadcast
        "q159_oov_rate_audit": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"),
        ),
        # conversion latency: self-join of the (user, type) AGGREGATED
        # relation; percentiles on grouped hour counts
        "q161_conversion_latency": dict(
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin")
        ),
        # bloom skipping audit: word-index equi-join vs broadcast
        # probes; 1-row file-count broadcast (BNLJ ok)
        "q162_bloom_file_skipping_audit": dict(
            broadcast=True, forbid_node=("CartesianProduct", "SortMergeJoin")
        ),
        "q156_record_linkage_scores": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # chi-square guardrail: two linear aggs, zero joins
        "q157_experiment_guardrail": dict(
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
        ),
        # Luhn extracts: broadcast 15-row significant set; doc argmax
        # is a partitioned window
        "q158_extractive_summary": dict(
            broadcast=True,
            forbid_node=("CartesianProduct", "BroadcastNestedLoopJoin"),
        ),
        # priority sample: global top-K MUST plan as TakeOrdered
        # (per-partition heap + driver merge of K-row slices), never a
        # full Sort+Exchange of the corpus; no join of any kind
        "q148_priority_sample": dict(
            require_node=("TakeOrderedAndProject",),
            forbid_node=(
                "CartesianProduct",
                "SortMergeJoin",
                "BroadcastHashJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            ),
        ),
    }
    for name, kw in audits.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        check(name, plan, **kw)
        print(f"audited {name}")

    # q62's returned plan is post-fixpoint (the CC loop materializes
    # per round); the 100-TB-critical plan is the EDGE derivation —
    # audit it directly: the pair generator must be a shingle
    # equi-join, never all-pairs (the 1-row corpus-count broadcast is
    # a benign BroadcastNestedLoopJoin by construction)
    from watermark_remove_spark.queries import _q62_edges, _t

    plan = plan_of(_q62_edges(_t(spark, sf_dir, "documents")))
    check("q62_edge_derivation", plan, forbid_node=("CartesianProduct",))
    print("audited q62_edge_derivation")

    # extraction pipeline: html must not be read; the masks reach the
    # one Arrow map as a broadcast variable, never through a join
    from watermark_remove_spark.operators.extract import clean_pages_udf_fast, mine_masks
    from watermark_remove_spark.fixtures import PagesConfig, generate_corpus
    from watermark_remove_spark.sources.pages import write_batch_files
    import tempfile

    tmp = tempfile.mkdtemp()
    corpus = generate_corpus(PagesConfig(n_pages=300, n_domains=5, seed=3))
    write_batch_files([corpus.pages], tmp)
    pages = spark.read.parquet(tmp)
    masks = mine_masks(pages)
    no_join = ("BroadcastExchange", "BroadcastHashJoin", "MapInPandas")
    for label, df, kw in (
        ("extract_fast", clean_pages_udf_fast(pages, masks).select("url", "clean_text"),
         dict(require_node=("MapInArrow",), forbid_node=no_join)),
        ("mine_masks", masks, {}),
    ):
        check(label, plan_of(df), forbid_read=("html",), codegen=True, **kw)
        print(f"audited {label}")

    spark.stop()
    if failures:
        print("PLAN AUDIT FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("PLAN AUDIT OK")


if __name__ == "__main__":
    main()
