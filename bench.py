"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pages_per_sec": ...}

The headline suite covers every operator family:
- the streaming flagship (mask mine -> dedup -> mapInArrow extract with
  masks shipped once per stream -> window agg -> exactly-once sink)
  over a synthetic pages corpus, measured in
  pages/sec (north_star metric);
- the relational/window/dedup/similarity batch queries from the driver
  contract at the bench scale factor.

Scaling-efficiency evidence (N vs 4N executor JVMs via local-cluster) is produced by
tools/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "60000"))
# State partitions for the streaming flagship.  A stateful query's
# partitioning is a fixed deployment constant (immutable across
# checkpoint restarts), sized to the data volume: per-batch state-store
# commit cost scales with partition count, so 32 partitions for ~15k
# rows/trigger is mostly commit overhead (measured: 8 parts ~7.3k
# pages/s vs 32 parts ~4k at this volume).  Each partition's commit
# costs its checkpoint files times the process forks per file: without
# libhadoop the local filesystem forks a chmod for every file it
# creates (see session.py, which cuts the file count).  At 100 TB you
# size this to the cluster (thousands); here to the bench volume.
STREAM_PARTS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTS", "8"))


def _build_pages_corpus(tmp: str) -> tuple[str, int]:
    """Deterministic synthetic pages corpus for the streaming flagship
    (no external data; BASELINE.json input_hint shape)."""
    from watermark_remove_spark.fixtures import PagesConfig, generate_corpus
    from watermark_remove_spark.sources.pages import write_batch_files

    corpus = generate_corpus(
        PagesConfig(n_pages=BENCH_PAGES, n_domains=50, seed=42, mean_gap_seconds=1.0)
    )
    pages = corpus.pages
    n_files = 4
    per = (len(pages) + n_files - 1) // n_files
    batches = [pages.iloc[i * per : (i + 1) * per] for i in range(n_files)]
    src = os.path.join(tmp, "pages_stream")
    # 16 subfiles per micro-batch: scan parallelism within a trigger
    write_batch_files([b for b in batches if len(b)], src, subfiles=16)
    return src, len(pages)


def bench_streaming_flagship(spark, tmp: str, src: str, n_pages: int) -> dict:
    """End-to-end streaming pipeline throughput (pages/sec).  The
    synthetic corpus is generated by the caller OUTSIDE the timed
    window — single-threaded pandas fixture generation is test
    scaffolding, not engine work."""
    from watermark_remove_spark.operators.extract import mine_masks
    from watermark_remove_spark.sources.pages import read_pages_batch
    from watermark_remove_spark.streaming.pipeline import (
        build_clean_stream,
        build_window_stream,
        run_stream_to_sink,
    )
    from watermark_remove_spark.streaming.sink import ParquetLedgerSink

    # session clone: same SparkContext, streaming-sized state
    # partitioning (see STREAM_PARTS note at the top)
    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTS))

    batch_pages = read_pages_batch(spark, src)
    t0 = time.perf_counter()
    masks = mine_masks(batch_pages)
    masks.cache().count()
    mine_sec = time.perf_counter() - t0

    # Best-of-N (round-2 verdict #3): one streaming run has ±20-40%
    # host-noise variance on this shared VM; the RECORDED number must
    # be reproducible, so run the identical pipeline N times with
    # fresh sink/checkpoint dirs and keep the best (the
    # tools/scaling_bench.py discipline).  All run times are recorded
    # for transparency.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_FLAGSHIP_RUNS", "3")))
    run_secs = []
    for i in range(n_runs):
        sink = ParquetLedgerSink(os.path.join(tmp, f"sink{i}"))
        ck = os.path.join(tmp, f"ck{i}")
        cleaned = build_clean_stream(spark, src, masks, files_per_trigger=16)
        win = build_window_stream(cleaned)
        t0 = time.perf_counter()
        q = run_stream_to_sink(win, sink, ck)
        q.awaitTermination(1800)
        run_secs.append(round(time.perf_counter() - t0, 3))
    masks.unpersist()
    stream_sec = min(run_secs)
    import statistics

    return {
        "mask_mining_sec": round(mine_sec, 3),
        "streaming_pipeline_sec": stream_sec,
        "flagship_run_secs": run_secs,
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / stream_sec, 1),
        # median alongside best (round-3 advice): best-of-N is the
        # reproducible headline under ±20-40% host noise, but a lucky
        # best can mask a real regression — diffs should read both
        "pages_per_sec_median": round(n_pages / statistics.median(run_secs), 1),
    }


def main() -> None:
    from watermark_remove_spark.queries import QUERIES
    from watermark_remove_spark.session import build_session

    spark = build_session(
        app_name="wrs-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    headline = [
        "q01_pricing_summary",
        "q02_segment_sales",
        "q05_top_orders_per_priority",
        "q09_tumbling_event_windows",
        "q10_sliding_event_windows",
        "q11_user_sessions",
        "q13_frequent_shingles",
        "q14_boiler_ratio",
        "q16_jaccard_pairs",
        "q18_token_stats",
        "q20_cosine_topk",
        "q22_minhash_near_dupes",
        "q26_salted_domain_windows",
        "q31_ivf_topk",
        # round-2 verdict #2: the suite must keep growing with the
        # query set so BENCH_r{N} diffs can see regressions in new
        # shuffle/sort shapes
        "q33_bpe_tokens",
        "q35_corpus_prep",
        "q36_value_percentiles",
        "q38_status_pivot",
        "q39_scd2_templates",
        "q40_late_data_windows",
        "q41_scd2_cdc_deletes",
        # round-3 additions with new plan shapes: chunked range join,
        # broadcast-semi decontamination, tagged-union repetition
        # filters, hash-stratified sampling, URL canonicalization
        "q43_range_join_incidents",
        "q45_benchmark_decontamination",
        "q46_repetition_filters",
        "q47_stratified_sample",
        "q48_url_canonicalization",
        "q49_hll_distinct_users",
        "q50_incremental_dedup",
        "q51_trending_tokens",
        # chained stateful streaming aggregation (a plan shape the
        # flagship does not exercise)
        "q53_streaming_windowed_hll",
        "q54_bloom_join_pruning",
        "q55_user_event_features",
        "q56_grouping_sets",
        # round-4 additions: salted chained stateful agg over a skewed
        # stream; sink compaction/vacuum maintenance round-trip
        "q57_streaming_salted_windows",
        "q58_compaction_roundtrip",
        # round-4 additions with new plan shapes: iterative CC over the
        # shared-shingle edge graph, fixed-iteration integer PageRank,
        # CMS build+probe, lag-window CEP sequence match
        "q61_distinctive_terms",
        "q62_neardup_components",
        "q63_user_pagerank",
        "q64_cms_heavy_hitters",
        "q65_funnel_sequences",
        # stateful CEP pattern matching over the event stream
        "q66_streaming_funnels",
        # streaming windowed CMS + batch broadcast probe
        "q67_streaming_windowed_cms",
        # triangle enumeration (two wedge joins) and HLL register merge
        "q68_triangle_counts",
        "q69_hll_merge_rollup",
        # shingle inverted-index build (collect_list posting lists)
        "q70_inverted_index",
        # HDR-histogram quantile sketch: batch + streaming windowed
        "q71_doclen_quantiles",
        "q72_streaming_windowed_quantiles",
        # round-4b additions: corpus-wide duplicate-gram rate (gram-df
        # equi-join), incremental MV merge, stream-stream interval
        # join, weighted sampling, z-order layout, drift monitor
        "q73_duplicate_ngram_rate",
        "q74_incremental_mv_merge",
        "q75_streaming_attribution_join",
        "q76_weighted_sample",
        "q77_zorder_layout",
        "q78_drift_monitor",
        # broadcast-probe index retrieval, sketch-boundary range
        # partitioning, per-source hash-rank cap
        "q79_index_retrieval",
        "q80_sketch_range_partition",
        "q81_domain_cap",
        # watermark-driven outer emission; graded containment scores
        "q82_streaming_outer_attribution",
        "q83_containment_scores",
        # sink incremental (CDC) read
        "q84_sink_incremental_read",
        # round-4c additions: sharded packing window, paragraph-key
        # dedup + per-doc reassembly, vocab rank broadcast-back,
        # coverage curve, blocked levenshtein linkage, salted skew
        # join, driver-compiled rule filter, rollup checksum,
        # union-merge as-of, quota mixture, streaming TTL dedup
        "q85_sequence_packing",
        "q86_paragraph_dedup",
        "q87_token_rarity",
        "q88_vocab_coverage",
        "q89_fuzzy_blocked_join",
        "q90_salted_skew_join",
        "q91_url_rule_filter",
        "q92_checksum_audit",
        "q93_asof_backfill",
        "q94_mixture_quota",
        "q95_streaming_ttl_dedup",
        # positional-index phrase search (position-arithmetic equi-join)
        "q96_phrase_search",
        # quality-gate funnel, PMI collocations, overlap chunking,
        # stream-static broadcast enrichment
        "q97_filter_cascade",
        "q98_pmi_collocations",
        "q99_overlap_chunking",
        "q100_streaming_static_enrich",
        # longest-prefix policy routing, hour-spine gap-fill,
        # leakage-safe split audit, winsorized robust stats
        "q101_robots_prefix_match",
        "q102_gapfill_ffill",
        "q103_split_leakage",
        "q104_winsorized_stats",
        # integer-kernel BM25 retrieval
        "q105_bm25_retrieval",
        # duplicated-span extents, mixture interleave order,
        # complete-mode leaderboard snapshot
        "q106_duplicate_span_extents",
        "q107_interleaved_mixture_order",
        "q108_streaming_leaderboard",
        # Kneser-Ney LM count tables; embedding-space decontamination
        "q109_kn_lm_counts",
        "q110_semantic_decontamination",
        # politeness crawl scheduling; length-distribution matching
        "q111_crawl_scheduler",
        "q112_distribution_matched_sample",
        # incremental index merge; dedup canonicalization policy;
        # integer half-life reputation decay
        "q113_index_delta_merge",
        "q114_dedup_canonical_map",
        "q115_decayed_reputation",
        # consistent-shard rebalance audit; deletion cascade; k-anon release
        "q116_shard_rebalance_audit",
        "q117_deletion_cascade",
        "q118_kanon_release",
        # crawl-diff churn; waterfilling token budget
        "q119_crawl_diff",
        "q120_token_waterfill",
        # stream-stream FULL OUTER interval join
        "q121_streaming_full_outer_attribution",
        # exact k-means step; snake-draft layout; lang-ID confusion
        "q122_kmeans_iteration",
        "q123_output_layout_plan",
        "q124_langid_confusion",
        # integer Gini concentration; windowed burst detection
        "q125_source_concentration",
        "q126_window_burst_detection",
        # retention cohorts; Pareto quality skyline; Markov transitions
        "q127_retention_cohorts",
        "q128_quality_skyline",
        "q129_markov_transitions",
        # streaming stateful admission quota (rate limiting)
        "q130_streaming_admission_quota",
        # exact ANALYZE column stats; bitmap audience set algebra
        "q131_column_statistics",
        "q132_bitmap_audience_algebra",
        # stream-stream LEFT SEMI interval join (join-matrix complete)
        "q133_streaming_semi_attribution",
        # sorted-neighborhood blocking; loose funnel with step timeouts
        "q134_sorted_neighborhood_pairs",
        "q135_funnel_with_timeouts",
        # streaming incremental CDC apply loop
        "q136_streaming_cdc_apply",
        # exact prefix-filter set-similarity join; TPC-H Q5 star join
        "q137_prefix_filter_simjoin",
        "q138_regional_supplier_volume",
        # dual-feed streaming union with cross-feed dedup
        "q139_multi_source_stream_union",
        # URL prefix-lattice rollup; bounded k-hop reachability
        "q140_url_hierarchy_rollup",
        "q141_khop_reachability",
        # KMV bottom-k distinct sketch + set algebra; token-weighted percentiles
        "q142_kmv_distinct_algebra",
        "q143_token_weighted_percentiles",
        # CUSUM change-point; BPE merge induction; join-size forecast
        "q144_cusum_changepoint",
        "q145_bpe_merge_step",
        "q146_join_size_forecast",
        # streaming bloom-pruned enrich; exact-k priority sample;
        # streaming MinCount distinct sketch
        "q147_streaming_bloom_pruned_enrich",
        "q148_priority_sample",
        "q149_streaming_mincount_distinct",
        # streaming exact bitmap distinct; LM hit-rate scoring; FK audit
        "q150_streaming_bitmap_distinct",
        "q151_lm_hit_scoring",
        "q152_referential_integrity_audit",
        # zone-map skipping audit; per-stratum exact-k sample;
        # sliding bitmap distinct rollup
        "q153_zone_map_skipping_audit",
        "q154_stratified_topk_sample",
        "q155_sliding_bitmap_distinct_rollup",
        # record linkage; integer chi-square guardrail; Luhn extracts
        "q156_record_linkage_scores",
        "q157_experiment_guardrail",
        "q158_extractive_summary",
        # containment; OOV audit; conversion latency; bloom skipping
        "q160_shingle_containment",
        "q159_oov_rate_audit",
        "q161_conversion_latency",
        "q162_bloom_file_skipping_audit",
        # threshold sweep; Neyman allocation; streaming silence alarm
        "q177_threshold_sweep",
        "q178_neyman_allocation",
        "q179_streaming_feed_silence",
        # seasonal anomaly; more-like-this; encoding advisor
        "q180_seasonal_anomaly",
        "q181_more_like_this",
        "q182_dictionary_encoding_advisor",
        # dedup yield; transition dwell; streaming DLQ
        "q183_dedup_yield",
        "q184_transition_dwell",
        "q185_streaming_unknown_key_dlq",
        # streaming percolator; bot detection; intersection planner
        "q186_streaming_percolator",
        "q187_bot_detection",
        "q188_intersection_planner",
        # symspell correction; shard top-k audit; co-occurrence pairs
        "q189_symspell_edit1_join",
        "q190_shard_topk_audit",
        "q191_coclick_similarity",
        # streaming minhash feed similarity; CDC chunking; COEC
        "q192_streaming_minhash_feed_similarity",
        "q193_cdc_chunking",
        "q194_position_bias_coec",
        # lang-ID granularity; retraction variance; aHash media dedup
        "q195_langid_granularity_audit",
        "q196_retraction_variance",
        "q197_ahash_media_dedup",
        # TPC-H Q7; HITS; novelty decay
        "q198_cross_nation_volume",
        "q199_user_hits",
        "q200_novelty_decay",
        # butterfly census; landing/exit analytics; autocomplete index
        "q201_butterfly_cohesion",
        "q202_landing_exit_analytics",
        "q203_autocomplete_topk",
        # calibration audit; CIDR LPM join; TPC-H Q10
        "q204_langid_calibration",
        "q205_cidr_lpm_join",
        "q206_returned_item_revenue",
        # streaming bottom-k sample; k-fold contamination; churn labels
        "q207_streaming_windowed_sample",
        "q208_kfold_contamination",
        "q209_churn_training_set",
        # grid epsilon join; interval overlap join; periodicity
        "q210_grid_epsilon_join",
        "q211_session_incident_overlap",
        "q212_periodicity_detection",
        # MAD gate; redirect resolution; KWIC concordance
        "q213_mad_outlier_gate",
        "q214_redirect_resolution",
        "q215_kwic_concordance",
        # mutual NN pairs; discrete hazard; streaming seq gaps
        "q216_mutual_nn_pairs",
        "q217_discrete_hazard_table",
        "q218_streaming_sequence_gaps",
        # FD profiling; time-weighted average; TPC-H Q14
        "q219_fd_profile",
        "q220_time_weighted_average",
        "q221_promo_revenue_share",
        # streaming SCD2 as-of; OLS trend
        "q163_streaming_scd2_enrich",
        "q164_daily_trend_slope",
        # triangles; RRF fusion; snapshot drift
        "q165_triangle_clustering",
        "q166_rrf_hybrid_retrieval",
        "q167_snapshot_drift_chi2",
        # equi-depth histogram; varint economics; blocklist tagger
        "q168_equidepth_histogram",
        "q169_posting_compression_audit",
        "q170_blocklist_tagger",
        # precedence mining; ANN recall audit; contrastive pairs
        "q171_precedence_mining",
        "q172_ann_recall_audit",
        "q173_contrastive_pairs",
        # attribution; roaring planning; percent-rank normalization
        "q174_last_touch_attribution",
        "q175_roaring_container_audit",
        "q176_percent_rank_normalization",
        # round-4zl: correlated-subquery family (decorrelated agg join,
        # HAVING semi, global scalar + anti)
        "q222_small_quantity_revenue",
        "q223_large_volume_orders",
        "q224_dormant_high_balance",
        # round-4zm: pairwise-slope median, Merkle gated diff,
        # two-phase distributed prefix sum
        "q225_theil_sen_slope",
        "q226_merkle_snapshot_diff",
        "q227_peak_concurrency",
        # round-4zn: stateful re-sequencer (buffer-in-state), interval
        # fan-out attribution, sequence-explode interpolation
        "q228_streaming_resequencer",
        "q229_linear_attribution",
        "q230_interpolated_gapfill",
        # round-4zo/zp: argmin join, RANGE frame, disjunctive bands,
        # two-pass selection, array-HOF quantization, Expand multi-distinct
        "q231_preferred_supplier",
        "q232_trailing_window_features",
        "q233_multiband_disjunctive_revenue",
        "q234_exact_global_quantiles",
        "q235_embedding_quantization",
        "q236_multi_distinct_profile",
        # round-4zq/zr/zs: path mining, OHLC, nearest as-of, dimension
        # QA, expanding distinct, Q13 histogram, repair, bitemporal,
        # forecast backtest
        "q237_top_session_paths",
        "q238_ohlc_downsample",
        "q239_nearest_asof_join",
        "q240_scd2_integrity_audit",
        "q241_expanding_distinct",
        "q242_order_count_distribution",
        "q243_majority_imputation",
        "q244_bitemporal_lookup",
        "q245_forecast_backtest",
        # round-4zt: paired sign test, ABC partition, books recon
        "q246_paired_sign_test",
        "q247_abc_classification",
        "q248_order_value_reconciliation",
    ]

    # Full-coverage guarantee: every catalog entry not hand-listed
    # above joins a one-pass coverage tail in ascending q order, so
    # the suite can never silently outgrow the bench again (q249+
    # had no bench entries until round 4zza).  The hand-listed
    # entries stay FIRST so a budget trip degrades tail coverage,
    # never the r3/r4-comparable core; anything skipped is RECORDED
    # in the JSON (no silent caps).
    import re as _re

    def _qnum(name: str) -> int:
        m = _re.match(r"q(\d+)_", name)
        return int(m.group(1)) if m else 10**9

    listed = set(headline)
    headline = headline + sorted(
        (q for q in QUERIES if q not in listed), key=_qnum
    )

    # Warm the JVM once before timing: the first Spark action pays
    # ~3-4 s of whole-stage-codegen/JIT compilation that belongs to
    # process startup, not to any query (it touches no bench input).
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Per-query best-of-N (round-3 verdict #3): single-shot per-query
    # timings on this shared VM showed 1.2-1.7x phantom swings between
    # rounds purely from host windows — a real regression of that size
    # was indistinguishable.  Repeats are INTERLEAVED (full suite pass
    # per round, like tools/scaling_bench.py) so one slow host window
    # degrades one sample of every query instead of all samples of one;
    # the recorded timing is the best, all runs are kept in the output.
    n_query_runs = max(1, int(os.environ.get("SPARK_GRAFT_QUERY_RUNS", "3")))

    # production MinHash path (portable=False, xxhash64 base): same
    # pipeline as q22 minus the md5 oracle-portability tax — the delta
    # vs q22_minhash_near_dupes IS the tax (round-2 verdict #4)
    from watermark_remove_spark.operators.dedup import minhash_near_dupes
    from watermark_remove_spark.queries import _t_wide

    def _minhash_fast():
        docs = _t_wide(spark, SF_DIR, "documents")
        minhash_near_dupes(
            docs, "doc_id", "text", threshold=0.5, portable=False
        ).count()

    entries: list[tuple[str, object]] = [
        # count() forces full execution without driver-side collect cost
        (name, (lambda n=name: QUERIES[n](spark, SF_DIR).count()))
        for name in headline
    ]
    entries.append(("minhash_fast_path", _minhash_fast))

    # Streaming catalog entries (they drain a fixture stream through
    # file triggers + the exactly-once sink) are timed ONCE: their
    # cost is trigger cadence + per-trigger state-store commits, not
    # data volume, so repeats add minutes of wall clock for no signal
    # — and with ~35 of them at ~5-13 s each, best-of-3 blew the
    # suite past the driver's bench budget.  Batch queries keep the
    # interleaved best-of-N discipline (round-3 verdict #3).
    def _is_streaming(name: str) -> bool:
        return "stream" in name or name in {
            "q27_streaming_clean_windows",
            "q28_stateful_sessions",
            "q29_streaming_asof_join",
            "q40_late_data_windows",
            "q42_rate_limited_drain",
            "q44_streaming_sliding_windows",
            "q52_streaming_quarantine",
            "q57_streaming_salted_windows",
            "q58_compaction_roundtrip",
            "q66_streaming_funnels",
            "q67_streaming_windowed_cms",
            "q72_streaming_windowed_quantiles",
            "q95_streaming_ttl_dedup",
            "q100_streaming_static_enrich",
            "q108_streaming_leaderboard",
            "q130_streaming_admission_quota",
            "q136_streaming_cdc_apply",
        }

    # The catalog outgrew repeat-everything (229 timed entries; 3 full
    # interleaved passes at sf0.1 exceeded a 30-minute wall budget even
    # after the q197 kernel fix).  Discipline now: ONE full-coverage
    # pass over every entry, then best-of-N repeats for the CORE set
    # (the r3-era comparable entries, so BENCH_rN vs rN-1 diffs keep
    # their best-of-3 basis) — streaming entries once always (their
    # cost is trigger cadence, not data).  A wall budget guards the
    # repeat phase; if it trips, the JSON says so (no silent caps).
    core = {
        "q01_pricing_summary", "q02_segment_sales",
        "q05_top_orders_per_priority", "q09_tumbling_event_windows",
        "q10_sliding_event_windows", "q11_user_sessions",
        "q13_frequent_shingles", "q14_boiler_ratio", "q16_jaccard_pairs",
        "q18_token_stats", "q20_cosine_topk", "q22_minhash_near_dupes",
        "q26_salted_domain_windows", "q31_ivf_topk", "q33_bpe_tokens",
        "q35_corpus_prep", "q36_value_percentiles", "q38_status_pivot",
        "q39_scd2_templates", "q41_scd2_cdc_deletes",
        "q43_range_join_incidents", "q45_benchmark_decontamination",
        "q46_repetition_filters", "q47_stratified_sample",
        "q48_url_canonicalization", "q49_hll_distinct_users",
        "q50_incremental_dedup", "q51_trending_tokens",
        "q54_bloom_join_pruning", "q55_user_event_features",
        "q56_grouping_sets", "minhash_fast_path",
    }
    # Budgets: the one-pass full-coverage round gets its own wall
    # budget (the driver's bench run must never be the thing that
    # times out), and the core repeat phase is budgeted FROM THE END
    # of the coverage pass so a slow full pass can't silently starve
    # the best-of-N discipline the r3/r4 diffs depend on.
    repeat_budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "600"))
    fullpass_budget_s = float(
        os.environ.get("SPARK_GRAFT_FULLPASS_BUDGET", "900")
    )

    timings: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {name: [] for name, _ in entries}
    tmp = tempfile.mkdtemp(prefix="wrs-bench-")
    budget_hit = False
    fullpass_skipped: list[str] = []
    bench_t0 = time.perf_counter()
    repeat_t0 = bench_t0
    try:
        for round_i in range(n_query_runs):
            if round_i == 1:
                repeat_t0 = time.perf_counter()
            for name, thunk in entries:
                if round_i == 0 and (
                    time.perf_counter() - bench_t0 > fullpass_budget_s
                ):
                    fullpass_skipped.append(name)
                    continue
                if round_i > 0 and (
                    _is_streaming(name) or name not in core
                ):
                    continue
                if round_i > 0 and (
                    time.perf_counter() - repeat_t0 > repeat_budget_s
                ):
                    budget_hit = True
                    break
                t0 = time.perf_counter()
                thunk()
                query_runs[name].append(round(time.perf_counter() - t0, 3))
        for name, rs in query_runs.items():
            if rs:
                timings[name] = min(rs)

        src, n_pages = _build_pages_corpus(tmp)  # untimed: fixture prep
        t0 = time.perf_counter()
        stream_stats = bench_streaming_flagship(spark, tmp, src, n_pages)
        timings["streaming_flagship"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall time (batch operators + streaming flagship)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": query_runs,
        "n_query_runs": n_query_runs,
        "repeat_budget_hit": budget_hit,
        "fullpass_budget_hit": bool(fullpass_skipped),
        "skipped_entries": fullpass_skipped,
        "sf": SF_DIR,
        "cpus": CPUS,
        **stream_stats,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
