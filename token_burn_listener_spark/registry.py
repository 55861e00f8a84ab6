"""Query + oracle registry.

Every operator in SURVEY.md §2.B registers here via the ``@query`` decorator,
colocating the PySpark implementation with its DuckDB oracle SQL. The driver
contract (__spark_entry__.py) reads ``QUERIES`` / ``ORACLES`` verbatim.

Oracle-alignment rules applied throughout (SURVEY.md §5.3):
- every computed column aliased identically in Spark and SQL;
- float outputs rounded (in-query, both sides) to a stated precision;
- no nondeterminism: unique total orders for limits, sort_array around
  collect_list, seeds on hashing ops;
- sortedness materialized as a rank column (the driver hash is
  order-insensitive);
- types chosen to map 1:1 across engines (Long/Double/String/Timestamp).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``key`` with an optional DuckDB oracle.

    ``oracle=None`` means the driver records the weaker rows-only check —
    reserved for ops whose output is engine-specific (hashes, approx
    sketches, LSH) per SURVEY.md §2.B.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver-visibility rotation (VERDICT.md r2 #1/#2).
#
# The driver's correctness run records exactly the FIRST 50 keys of
# ``queries()`` — a count cap, not a time budget (observed: exactly 50 rows
# in r01–r05, always the head of the dict). Every key passes the identical
# check locally (tools/check_parity.py) but only the first 50 get
# driver-green CORRECTNESS rows, so DRIVER_ORDER front-loads keys that have
# never had a driver row and rotates proven keys to the back.
#
# Rotation plan (keep this comment current each round):
#   r01+r02 proved: scans, projections, joins, aggregations, q_win_row_number.
#   r03 proved: B8 scalars (18), windows (9), sorts (3), streaming (16),
#            setops head (3) — 46 green, 3 no-oracle, 1 red (q_arr_basic).
#   r04 proved: canary + q_arr_basic (red→green) + storage (5) + struct +
#            setops tail (4) + subqueries (3) + 20 TPC-H shapes + streaming
#            leftovers (2) + LLM head (13) — 46 green, 4 no-oracle, 0 red.
#   r05 proved: canary + LLM text/prep tail (ngrams … corpus_prep,
#            multimodal, frames), event analytics head (sessionize …
#            histogram), CDC (snapshot_diff, scd2, merge, incr_agg), the
#            r4/r4b extras (bigram LM, kmeans, knn-classify, stream upsert,
#            text scan, HLL union, triangles, transitions, bloom join,
#            fuzzy dup, random projection, split, length buckets, zipf,
#            CMS top-k) — 47 green, 3 no-oracle by design, 0 red.
#   r06 proved: canary + the 49 remaining-longest-unseen keys — the
#            r5-added octet (lsh/ann recall, listener e2e, media decode,
#            dup-rate, novelty, curriculum, embedding coverage), the r4b
#            tail (zorder … tfidf_exact), the 3 Python sources and the 7
#            UDF-surface keys — 50 green, 0 red, 0 rows-only (the first
#            fully-green window).
#   r07 proved: canary + the 28-key pool (the last driver-unseen block)
#            + the first 21 re-proof keys of the staleness tail — 49
#            green, 1 rows-only by design (q_scan_binaryfile), 0 red.
#            After r07 EVERY registered key has driver evidence; the
#            unseen pool is drained for good.
#   r08 proved: canary + the 7 NEW r8 keys (dup_spans, span_removal,
#            matryoshka_recall, vocab_coverage, dim_stats, anisotropy,
#            char_entropy) + the 19 r7-dirty keys (zero-vector/ANSI
#            hardening sweep, q_agg_corr, TPC-H q8/q14) + the 17
#            r8-dirty keys (decontaminate + broadcast-hint sweep) + 6
#            stalest clean joins — 48 green, 2 rows-only by design
#            (q_llm_ann_lsh, q_llm_multimodal), 0 red.
#
# STANDING INVARIANT (r07 onward — freshness cycling, no bespoke plans):
#   head 50 = canary + the 49 keys with the STALEST driver evidence. After
#   each judged round, rotate the just-proven head block (minus the canary)
#   to the BACK of the list; positions 1-50 are then mechanically the next
#   window. A NEW key (no driver evidence) is inserted directly after the
#   canary — stalest possible — and costs exactly one freshness slot.
#   DIRTY-FIRST (r08 amendment, VERDICT r7 #1): a key whose implementation
#   or oracle changed since its last driver row is the stalest possible
#   state after new keys — its old driver evidence hashed code that no
#   longer exists. Such keys jump the queue to directly after the canary
#   (and any new keys) in the next window, regardless of evidence age.
#
#   r09 proved: canary + the 18 r9-dirty keys (vector-kernel rewrite,
#            bloom overflow fix, winnow/simhash Generate-barrier pin) +
#            the 31 stalest clean keys (r01/r02 agg/join tail + r03
#            scalar head) — 46 green, 4 rows-only by design, 0 red.
#
#   r10 proved: canary + the 11 r10-dirty keys (winnow Arrow promotion,
#            char_entropy/decontaminate/subdoc_dup barrier pins, the
#            shingled()/cdc O(L²) rewrites) + the r03-evidence
#            scalar/window/sort/streaming/setops staleness head —
#            45 green, 5 rows-only by design, 0 red.
#
#   r11 proved: canary + the NEW q_tpch_q18_bucketed + the 6 r11-dirty
#            keys (char_entropy/repetition Arrow promotions, winnow
#            null guard, dup_spans/span_removal xxhash pin, the
#            q_stream_session oracle boundary fix) + the 42 stalest
#            clean keys (r04/r05 evidence) — 49 green, 1 rows-only by
#            design (q_llm_tfidf), 0 red. The keys of the r10 pre-plan
#            that no longer fit slid to the r12 head.
#
#   r12 proved: canary + the NEW q_llm_minhash_steep + the 11 dirty keys
#            (pq_adc Arrow encode, the bucketed-layout pair, minmax_by
#            tie-break, the cohort_ltv/tfidf_exact measured pins, the
#            streaming-review lifts: reorg + python sources +
#            dynamic_session) + the first 37 pre-planned staleness keys —
#            48 green, 2 rows-only by design (q_llm_frames,
#            q_agg_hll_union), 0 red.
#
#   r13 window = positions 1-50 below (the corrected r12 pre-plan after
#   the mechanical rotation: the r12-proven head block, minus the canary,
#   rotated to the back, then amended per the invariant): canary; the
#   NEW q_llm_minhash_bucketed (the steep twin's corpus-shuffle-free
#   bucketed-layout verify — the lever the ×300 ceiling row names); the
#   3 r13-DIRTY keys (q_llm_kmeans — the Arrow assignment-kernel
#   promotion, VERDICT r12 #3; q_src_python_sink +
#   q_stream_listener_e2e — the ADVICE r12 feed-sink commit/publish
#   hardening changed their write paths after their r12 rows); the four
#   keys the r12 dirty-lift displaced past position 50
#   (q_diag_join_skew q_llm_bpe_merges q_evt_windowed_funnel
#   q_scan_csv_corrupt — VERDICT r12 #1's missing quartet); then the
#   r06/r07-evidence staleness head (q_evt_rfm ...). The keys the
#   dirty/new block displaced (q_scan_projection_pushdown
#   q_scan_filter_pushdown q_scan_json, then q_join_asof_forward when
#   the NEW key landed) slide to the r14 head.
#
#   r14 window = positions 1-50 below: canary; the 19 DIRTY keys —
#   13 r14-touched (the minhash family's Arrow signature kernel +
#   the spread_small_scan sweep + the span restructures + the
#   shingled() spread consumers, incl. the two rows-only keys) and
#   6 r13-rewritten keys whose r13 driver evidence predates the
#   rewrite (VERDICT r13 #2's lift, minus those re-dirtied by r14
#   edits); then the r08-evidence staleness head the r13 pre-plan
#   promised (q_join_asof_forward ... q_join_star). The staleness
#   keys the dirty block displaced slide to the r15 head.
#
#   Deleting q_llm_near_dedup from the r14 block pulled q_tpch_q2ish
#   into positions 1-50 and q_agg_time_rollup into the r15 window.
#
#   r15 window (listed so the next round can verify positions 1-50
#   against this comment after its rotation edit; amend with
#   r15-dirty and new keys first — displaced keys slide onward):
#   q_scan_parquet q_tpch_q9ish q_tpch_q11ish q_tpch_q15ish
#   q_tpch_q16ish q_tpch_q17ish q_tpch_q20ish q_tpch_q21ish
#   q_llm_term_stats q_llm_pmi_collocations q_llm_kneser_ney
#   q_llm_multimodal q_diag_dq_checks q_join_full q_join_semi
#   q_join_anti q_join_cross q_join_theta q_join_interval q_join_bloom
#   q_llm_cosine_topk q_llm_knn_query q_llm_ann_lsh q_llm_centroids
#   q_llm_ivf_search q_llm_knn_classify q_llm_hard_negatives
#   q_llm_ann_recall q_llm_matryoshka_recall q_llm_anisotropy
#   q_llm_emb_near_dup q_graph_triangles q_graph_pagerank q_join_asof
#   q_join_salted q_agg_global q_agg_groupby q_agg_count_distinct
#   q_agg_approx_distinct q_agg_sum_distinct q_agg_rollup q_agg_cube
#   q_agg_grouping_sets q_agg_collect q_agg_stddev q_agg_percentile
#   q_agg_conditional q_agg_having q_agg_pivot q_agg_time_rollup
# ---------------------------------------------------------------------------
DRIVER_ORDER: list[str] = [
    # --- r14 driver window (positions 1-50): canary + the 19
    # r13/r14-dirty keys (dirty-first invariant; see the rotation
    # comment) + the r08-evidence staleness head. ---
    "q_scan_parquet",  # canary: driver-proven thirteen times, cheapest probe
    "q_llm_minhash_bucketed",  # dirty r14: Arrow signature kernel + shingled spread
    "q_llm_minhash_steep",
    "q_llm_minhash_exact",
    "q_llm_lsh_recall",
    "q_llm_span_removal",
    "q_llm_dup_spans",
    "q_llm_decontaminate",
    "q_llm_bigram_lm",
    "q_llm_dsir",
    "q_llm_jaccard_pairs",
    "q_llm_dedup_survivors",
    "q_llm_simhash",
    "q_llm_fuzzy_dup",
    "q_llm_dup_clusters",
    "q_llm_corpus_prep",
    "q_llm_training_manifest",
    "q_llm_ccnet_buckets",
    "q_llm_cms_topk",  # dirty r13: top-20 probe recompute (spread tried, reverted)
    # --- staleness head (r08 evidence), per the r13 pre-plan ---
    "q_join_asof_forward",
    "q_scan_projection_pushdown",
    "q_scan_filter_pushdown",
    "q_scan_json",
    "q_scan_csv",
    "q_scan_binaryfile",
    "q_proj_select",
    "q_proj_arith",
    "q_proj_case_when",
    "q_proj_cast",
    "q_filter_cmp",
    "q_filter_in",
    "q_filter_like",
    "q_filter_between",
    "q_filter_null",
    "q_filter_bool",
    "q_proj_nullsafe",
    "q_join_inner_broadcast",
    "q_join_inner_smj",
    "q_join_inner_shj",
    "q_join_left",
    "q_join_right",
    "q_llm_vocab_coverage",
    "q_llm_dim_stats",
    "q_agg_corr",
    "q_tpch_q8ish",
    "q_tpch_q14ish",
    "q_llm_random_projection",
    "q_llm_semantic_prune",
    "q_join_star",
    # --- r15 pre-plan head: the staleness keys the dirty block
    # displaced, then the rotation order (see comment above). ---
    "q_tpch_q2ish",
    "q_tpch_q9ish",
    "q_tpch_q11ish",
    "q_tpch_q15ish",
    "q_tpch_q16ish",
    "q_tpch_q17ish",
    "q_tpch_q20ish",
    "q_tpch_q21ish",
    "q_llm_term_stats",
    "q_llm_pmi_collocations",
    "q_llm_kneser_ney",
    "q_llm_multimodal",
    "q_diag_dq_checks",
    "q_join_full",
    "q_join_semi",
    "q_join_anti",
    "q_join_cross",
    "q_join_theta",
    "q_join_interval",
    "q_join_bloom",
    "q_llm_cosine_topk",
    "q_llm_knn_query",
    "q_llm_ann_lsh",
    "q_llm_centroids",
    "q_llm_ivf_search",
    "q_llm_knn_classify",
    "q_llm_hard_negatives",
    "q_llm_ann_recall",
    "q_llm_matryoshka_recall",
    "q_llm_anisotropy",
    "q_llm_emb_near_dup",
    "q_graph_triangles",
    "q_graph_pagerank",
    "q_join_asof",
    "q_join_salted",
    "q_agg_global",
    "q_agg_groupby",
    "q_agg_count_distinct",
    "q_agg_approx_distinct",
    "q_agg_sum_distinct",
    "q_agg_rollup",
    "q_agg_cube",
    "q_agg_grouping_sets",
    "q_agg_collect",
    "q_agg_stddev",
    "q_agg_percentile",
    "q_agg_conditional",
    "q_agg_having",
    "q_agg_pivot",
    "q_agg_time_rollup",
    "q_agg_approx_percentile",
    "q_win_row_number",
    "q_str_basic",
    "q_str_split",
    "q_str_regex",
    "q_date_parts",
    "q_date_arith",
    "q_date_unix",
    "q_math_fns",
    "q_math_conv",
    "q_arr_hof",
    "q_arr_explode",
    "q_arr_zip",
    "q_llm_subdoc_dup",
    "q_llm_cdc_chunking",
    "q_map_json",
    "q_json_tuple",
    "q_json_to",
    "q_hash_sha2",
    "q_hash_md5",
    "q_hash_xxhash",
    "q_win_rank",
    "q_win_ntile",
    "q_win_pct",
    "q_win_lag_lead",
    "q_win_running",
    "q_win_range_frame",
    "q_win_sliding",
    "q_win_first_last",
    "q_win_topk_group",
    "q_sort_multi",
    "q_limit",
    "q_topk_global",
    "q_stream_source_replay",
    "q_stream_rate_smoke",
    "q_stream_availablenow",
    "q_stream_rate_limit",
    "q_stream_tumbling",
    "q_stream_sliding",
    "q_stream_watermark",
    "q_stream_late_data",
    "q_stream_dedup",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_stream_stateful",
    "q_stream_foreachbatch",
    "q_stream_checkpoint",
    "q_stream_outer_join",
    "q_set_union_all",
    "q_set_union",
    "q_set_intersect",
    "q_llm_char_entropy",
    "q_llm_repetition",
    "q_llm_winnow",
    "q_stream_session",
    "q_scan_orc",
    "q_sink_partitioned",
    "q_sink_compaction",
    "q_scan_schema_evolution",
    "q_struct_ops",
    "q_set_intersect_all",
    "q_set_except",
    "q_set_except_all",
    "q_set_distinct",
    "q_sub_scalar",
    "q_sub_in",
    "q_sub_correlated",
    "q_tpch_q4ish",
    "q_tpch_q5ish",
    "q_tpch_q6ish",
    "q_tpch_q7ish",
    "q_tpch_q10ish",
    "q_tpch_q12ish",
    "q_tpch_q13ish",
    "q_tpch_q18ish",
    "q_tpch_q19ish",
    "q_tpch_q22ish",
    "q_stream_union",
    "q_stream_rocksdb",
    "q_llm_exact_dedup",
    "q_llm_tokenize",
    "q_llm_tfidf",
    "q_llm_ngrams",
    "q_llm_text_filter",
    "q_llm_doc_stats",
    "q_llm_quality_score",
    "q_llm_fingerprint",
    "q_llm_lang_id",
    "q_llm_token_count",
    "q_llm_quantize",
    "q_llm_inverted_index",
    "q_llm_redact_pii",
    "q_llm_chunk",
    "q_llm_mix_domains",
    "q_llm_sample_stratified",
    "q_llm_global_shuffle",
    "q_llm_pq_adc",
    "q_tpch_q18_bucketed",
    "q_join_bucketed",
    "q_agg_minmax_by",
    "q_evt_cohort_ltv",
    "q_llm_tfidf_exact",
    "q_stream_reorg",
    "q_src_python_batch",
    "q_src_python_stream",
    "q_stream_dynamic_session",
    "q_llm_pack_sequences",
    "q_arr_basic",
    "q_llm_frames",
    "q_evt_sessionize",
    "q_evt_funnel",
    "q_evt_retention",
    "q_evt_anomaly",
    "q_evt_resample",
    "q_evt_histogram",
    "q_cdc_snapshot_diff",
    "q_cdc_scd2",
    "q_cdc_merge",
    "q_stream_upsert_latest",
    "q_scan_text",
    "q_agg_hll_union",
    "q_evt_transitions",
    "q_cdc_incr_agg",
    "q_llm_split",
    "q_llm_length_buckets",
    "q_llm_zipf",
    "q_llm_media_decode",
    "q_llm_dup_rate_by_source",
    "q_llm_ngram_novelty",
    "q_llm_curriculum",
    "q_llm_embedding_coverage",
    "q_stream_chained",
    "q_sink_zorder",
    "q_evt_dynamic_sessions",
    "q_scan_time_travel",
    # --- r13-proven head block (minus the canary and the keys
    # re-dirtied above), rotated to the back per the invariant. ---
    "q_llm_kmeans",
    "q_src_python_sink",
    "q_stream_listener_e2e",
    "q_diag_join_skew",
    "q_llm_bpe_merges",
    "q_evt_windowed_funnel",
    "q_scan_csv_corrupt",
    "q_evt_rfm",
    "q_evt_rolling_active",
    "q_cdc_pit_join",
    "q_evt_attribution",
    "q_evt_paths",
    "q_join_range_bucketed",
    "q_llm_leak_check",
    "q_llm_source_overlap",
    "q_evt_forecast_naive",
    "q_evt_ab_test",
    "q_evt_pareto",
    "q_llm_heaps_law",
    "q_udf_python",
    "q_udf_pandas_scalar",
    "q_udf_pandas_agg",
    "q_udf_grouped_map",
    "q_udf_map_iter",
    "q_udtf",
    "q_udf_cogroup",
    "q_llm_temperature_mix",
    "q_llm_delta_dedup",
    "q_llm_bm25",
    "q_llm_dataset_card",
    "q_scan_dpp",
    "q_evt_funnel_latency",
    "q_llm_kl_divergence",
    "q_evt_survival",
    "q_evt_changepoint",
    "q_evt_chain_reorg",
    "q_evt_xcorr",
    "q_evt_profile_similarity",
    "q_diag_table_stats",
    "q_evt_gap_detection",
    "q_llm_k_anonymity",
    "q_diag_column_entropy",
    "q_llm_weighted_sample",
    "q_evt_streaks",
    "q_evt_anomaly_mad",
    "q_stream_backfill",
    "q_evt_cumulative_uniques",
    "q_llm_topic_boundaries",
]


def ordered_keys() -> list[str]:
    """All registered keys, DRIVER_ORDER first.

    Keys registered but not yet listed (new extras) slot in right after the
    listed driver-unseen block and before nothing — i.e. at the end — so
    they never displace the current round's 50-key window; they join the
    rotation once added to DRIVER_ORDER.
    """
    listed = [k for k in DRIVER_ORDER if k in QUERIES]
    seen = set(listed)
    return listed + [k for k in QUERIES if k not in seen]


def load_all_modules() -> None:
    """Import every operator module so registrations run (idempotent)."""
    import token_burn_listener_spark.operators.scans  # noqa: F401
    import token_burn_listener_spark.operators.projections  # noqa: F401
    import token_burn_listener_spark.operators.joins  # noqa: F401
    import token_burn_listener_spark.operators.aggregations  # noqa: F401
    import token_burn_listener_spark.operators.windows  # noqa: F401
    import token_burn_listener_spark.operators.sorts  # noqa: F401
    import token_burn_listener_spark.operators.setops  # noqa: F401
    import token_burn_listener_spark.operators.subqueries  # noqa: F401
    import token_burn_listener_spark.operators.tpch  # noqa: F401
    import token_burn_listener_spark.operators.storage  # noqa: F401
    import token_burn_listener_spark.operators.events  # noqa: F401
    import token_burn_listener_spark.operators.cdc  # noqa: F401
    import token_burn_listener_spark.functions.scalar  # noqa: F401
    import token_burn_listener_spark.streaming.queries  # noqa: F401
    import token_burn_listener_spark.llm.dedup  # noqa: F401
    import token_burn_listener_spark.llm.similarity  # noqa: F401
    import token_burn_listener_spark.llm.text  # noqa: F401
    import token_burn_listener_spark.llm.multimodal  # noqa: F401
    import token_burn_listener_spark.llm.udfs  # noqa: F401
    import token_burn_listener_spark.llm.pipeline  # noqa: F401
    import token_burn_listener_spark.llm.prep  # noqa: F401
    import token_burn_listener_spark.sources.feed  # noqa: F401
