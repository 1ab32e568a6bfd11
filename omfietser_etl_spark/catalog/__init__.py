"""Declared query inventory for the correctness gate.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables
(pre-registered views). The driver hashes both results (columns sorted
by name, order-insensitive), so builders and oracles must agree on
column NAMES and rounded values.

Conventions (applied on BOTH sides):
- alias every computed column identically;
- round double outputs (money 2dp, ratios/similarities 4dp);
- timestamps leave the query as epoch integers or formatted strings —
  never raw timestamp columns (ns-vs-us precision differs between
  engines);
- deterministic total orderings (unique tiebreak columns) wherever a
  LIMIT / row_number is involved.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One declared operator query from SURVEY.md §2."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


#: Names that have appeared in ANY driver CORRECTNESS_r*.json
#: artifact. The per-round gate samples only the FIRST 50 catalog
#: entries, so :func:`all_specs` fronts the queries NOT in this set —
#: rotating external certification onto the never-sampled tail at zero
#: implementation risk. Maintenance: at each round start, after the
#: new artifact lands, run `python tools/update_certified.py` to
#: regenerate this block from the artifacts.
_DRIVER_CERTIFIED: frozenset[str] = frozenset({
    "a10_drift_report",
    "a11_issue_escalation",
    "a12_mapping_methods",
    "a13_approx_distinct",
    "a13_distinct_parts",
    "a14_pivot",
    "a15_percentile_bands",
    "a16_profile",
    "a17_incremental_rollup",
    "a18_grouping_sets",
    "a19_unpivot",
    "a1_status_counters",
    "a20_window_suite",
    "a21_approx_percentile",
    "a22_hll_distinct",
    "a3_type_distribution",
    "a4_price_stats",
    "a5_promo_analysis",
    "a6_job_stats",
    "a7_event_summary",
    "a8_version_stats",
    "ca1_corpus_report",
    "ca2_source_overlap",
    "cube_status_priority",
    "d1_promo_parse",
    "d2_quantity_standardize",
    "d4_price_per_unit",
    "d5_discount_metrics",
    "dd1_latest_per_key",
    "dd2_neardup_groups",
    "dd3_fuzzy_best_match",
    "dd4_neardup_components",
    "dd5_star_components",
    "ev1_funnel",
    "ev2_retention",
    "ev3_moving_sum",
    "ev4_daily_anomaly",
    "ev5_cusum_changepoint",
    "ev6_transition_matrix",
    "ev7_rfm_segments",
    "ev8_activity_gini",
    "f5_incomplete_filter",
    "f6_validity_split",
    "g1_pagerank",
    "g2_triangle_count",
    "g3_adamic_adar",
    "g4_kcore",
    "g5_label_propagation",
    "g6_hits",
    "g7_modularity",
    "g8_bfs_hops",
    "h1_scd2_history",
    "h2_gapfill",
    "j10_full_outer_reconcile",
    "j1_broadcast_enrich",
    "j3_fuzzy_theta",
    "j5_multiway_revenue",
    "j7_asof_lag_delta",
    "j7_first_last_seen",
    "j8_range_join",
    "j9_salted_revenue",
    "mm1_feature_extract",
    "mm2_resize_plan",
    "mm3_frame_sample",
    "mm4_decode_roundtrip",
    "mm5_audio_roundtrip",
    "mm6_video_probe",
    "mm7_phash_neardup",
    "mm8_audio_fp_neardup",
    "mm9_scene_cuts",
    "o1_pagination",
    "o4_argmax_per_group",
    "o7_topk_per_group",
    "o9_keyset_pagination",
    "p1_ah_pipeline",
    "p2_jumbo_pipeline",
    "p3_aldi_pipeline",
    "p4_plus_pipeline",
    "p5_coalesce_projection",
    "p6_generic_kruidvat",
    "q2_quality_report",
    "rollup_region_nation",
    "s10_variant_extract",
    "s1_scan_pushdown",
    "s3_multi_filter_scan",
    "s5_point_lookup",
    "semi_join_active",
    "st12_merge_state",
    "st13_merge_skip_unchanged",
    "st4_changed_rows",
    "st6_window_counts",
    "st7_sessionize",
    "t_scalar_text",
    "ta10_char_entropy",
    "ta11_zipf_slope",
    "ta12_ks_drift",
    "ta15_ngram_novelty",
    "ta1_token_stats",
    "ta2_quality_score",
    "ta3_lang_id",
    "ta4_fingerprint",
    "ta5_repetition",
    "ta6_strip_markup",
    "ta7_relative_length_filter",
    "ta8_bigram_fluency",
    "ta9_gopher_rules",
    "tc1_doc_chunking",
    "tc2_pii_scrub",
    "td10_quantize",
    "td11_line_dedup",
    "td12_jaccard_guarded",
    "td13_semantic_dedup",
    "td14_substring_dedup",
    "td15_fuzzy_dedup_e2e",
    "td16_rh_lsh_pairs",
    "td17_incremental_dedup",
    "td18_bloom_decontam",
    "td19_winnowing_pairs",
    "td1_exact_dedup",
    "td20_pq_adc_topk",
    "td21_ivfpq_topk",
    "td22_pq_rerank",
    "td23_minhash_est_pairs",
    "td24_allpairs_cosine",
    "td25_fuzzy_decontam",
    "td26_semantic_decontam",
    "td27_semantic_decontam_ivf",
    "td28_containment",
    "td29_soft_dedup_weights",
    "td2_ngram_jaccard",
    "td2h_jaccard_hashed",
    "td30_paragraph_dedup",
    "td3_minhash_lsh",
    "td4_simhash",
    "td5_embed_neardup",
    "td6_ann_topk",
    "td7_ivf_ann",
    "td8_kmeans_assign",
    "td9_contamination",
    "tk1_bpe_encode",
    "tk2_bpe_roundtrip",
    "tk3_vocab_coverage",
    "tp1_prepare_corpus",
    "tp2_screen_dedup_pipeline",
    "tp3_full_corpus_prep",
    "ts10_unimax_budget",
    "ts11_unimax_realized",
    "ts12_token_unimax_realized",
    "ts13_token_balanced_shards",
    "ts14_leakage_free_split",
    "ts15_dsir_select",
    "ts16_dsir_threshold",
    "ts17_cluster_prototypes",
    "ts18_perplexity_buckets",
    "ts19_kcenter_coreset",
    "ts1_hash_sample",
    "ts20_domain_cap",
    "ts2_mixture_split",
    "ts3_sequence_pack",
    "ts4_stratified_sample",
    "ts5_shuffle_order",
    "ts6_tokenize",
    "ts7_weighted_sample",
    "ts8_temperature_rebalance",
    "ts9_fixed_size_sample",
    "tv1_top_terms",
    "tv2_tfidf_terms",
    "tv3_cms_heavy_hitters",
    "tv4_bm25_topk",
    "tv5_rrf_fusion",
    "tv6_query_likelihood",
    "tv7_retrieval_eval",
    "tv8_mmr_diversify",
    "u1_union_distinct",
    "u3_distinct_per_group",
    "u4_anti_join_missing",
    "u4_new_disappeared",
    "u5_intersect_except",
    "x10_knn_label_eval",
    "x11_ols_normal_eq",
    "x2_online_inference",
    "x3_validation_summary",
    "x7_skew_report",
    "x8_nb_inference",
    "x9_nb_train_fit",
})

#: name -> LATEST round whose CORRECTNESS artifact has a green row for
#: it. Drives the staleness rotation in :func:`all_specs` (certified
#: tail ordered oldest-green-first). Regenerated alongside
#: _DRIVER_CERTIFIED by tools/update_certified.py.
_CERTIFIED_ROUND: dict[str, int] = {
    "a10_drift_report": 10,
    "a11_issue_escalation": 10,
    "a12_mapping_methods": 10,
    "a13_approx_distinct": 11,
    "a13_distinct_parts": 11,
    "a14_pivot": 10,
    "a15_percentile_bands": 10,
    "a16_profile": 10,
    "a17_incremental_rollup": 11,
    "a18_grouping_sets": 11,
    "a19_unpivot": 10,
    "a1_status_counters": 11,
    "a20_window_suite": 10,
    "a21_approx_percentile": 11,
    "a22_hll_distinct": 12,
    "a3_type_distribution": 11,
    "a4_price_stats": 11,
    "a5_promo_analysis": 10,
    "a6_job_stats": 10,
    "a7_event_summary": 11,
    "a8_version_stats": 11,
    "ca1_corpus_report": 10,
    "ca2_source_overlap": 12,
    "cube_status_priority": 11,
    "d1_promo_parse": 10,
    "d2_quantity_standardize": 10,
    "d4_price_per_unit": 10,
    "d5_discount_metrics": 10,
    "dd1_latest_per_key": 11,
    "dd2_neardup_groups": 10,
    "dd3_fuzzy_best_match": 10,
    "dd4_neardup_components": 10,
    "dd5_star_components": 12,
    "ev1_funnel": 10,
    "ev2_retention": 11,
    "ev3_moving_sum": 11,
    "ev4_daily_anomaly": 12,
    "ev5_cusum_changepoint": 12,
    "ev6_transition_matrix": 12,
    "ev7_rfm_segments": 12,
    "ev8_activity_gini": 12,
    "f5_incomplete_filter": 12,
    "f6_validity_split": 11,
    "g1_pagerank": 12,
    "g2_triangle_count": 12,
    "g3_adamic_adar": 12,
    "g4_kcore": 12,
    "g5_label_propagation": 12,
    "g6_hits": 12,
    "g7_modularity": 9,
    "g8_bfs_hops": 9,
    "h1_scd2_history": 11,
    "h2_gapfill": 11,
    "j10_full_outer_reconcile": 11,
    "j1_broadcast_enrich": 11,
    "j3_fuzzy_theta": 11,
    "j5_multiway_revenue": 11,
    "j7_asof_lag_delta": 9,
    "j7_first_last_seen": 11,
    "j8_range_join": 12,
    "j9_salted_revenue": 9,
    "mm1_feature_extract": 11,
    "mm2_resize_plan": 11,
    "mm3_frame_sample": 11,
    "mm4_decode_roundtrip": 11,
    "mm5_audio_roundtrip": 11,
    "mm6_video_probe": 11,
    "mm7_phash_neardup": 9,
    "mm8_audio_fp_neardup": 9,
    "mm9_scene_cuts": 10,
    "o1_pagination": 12,
    "o4_argmax_per_group": 12,
    "o7_topk_per_group": 12,
    "o9_keyset_pagination": 12,
    "p1_ah_pipeline": 11,
    "p2_jumbo_pipeline": 11,
    "p3_aldi_pipeline": 11,
    "p4_plus_pipeline": 11,
    "p5_coalesce_projection": 12,
    "p6_generic_kruidvat": 11,
    "q2_quality_report": 11,
    "rollup_region_nation": 9,
    "s10_variant_extract": 11,
    "s1_scan_pushdown": 9,
    "s3_multi_filter_scan": 11,
    "s5_point_lookup": 9,
    "semi_join_active": 9,
    "st12_merge_state": 9,
    "st13_merge_skip_unchanged": 10,
    "st4_changed_rows": 10,
    "st6_window_counts": 10,
    "st7_sessionize": 11,
    "t_scalar_text": 11,
    "ta10_char_entropy": 9,
    "ta11_zipf_slope": 10,
    "ta12_ks_drift": 10,
    "ta15_ngram_novelty": 10,
    "ta1_token_stats": 10,
    "ta2_quality_score": 10,
    "ta3_lang_id": 10,
    "ta4_fingerprint": 10,
    "ta5_repetition": 11,
    "ta6_strip_markup": 12,
    "ta7_relative_length_filter": 12,
    "ta8_bigram_fluency": 12,
    "ta9_gopher_rules": 9,
    "tc1_doc_chunking": 12,
    "tc2_pii_scrub": 12,
    "td10_quantize": 12,
    "td11_line_dedup": 12,
    "td12_jaccard_guarded": 11,
    "td13_semantic_dedup": 12,
    "td14_substring_dedup": 12,
    "td15_fuzzy_dedup_e2e": 12,
    "td16_rh_lsh_pairs": 12,
    "td17_incremental_dedup": 12,
    "td18_bloom_decontam": 12,
    "td19_winnowing_pairs": 9,
    "td1_exact_dedup": 11,
    "td20_pq_adc_topk": 10,
    "td21_ivfpq_topk": 10,
    "td22_pq_rerank": 10,
    "td23_minhash_est_pairs": 10,
    "td24_allpairs_cosine": 10,
    "td25_fuzzy_decontam": 11,
    "td26_semantic_decontam": 11,
    "td27_semantic_decontam_ivf": 12,
    "td28_containment": 9,
    "td29_soft_dedup_weights": 12,
    "td2_ngram_jaccard": 11,
    "td2h_jaccard_hashed": 9,
    "td30_paragraph_dedup": 12,
    "td3_minhash_lsh": 11,
    "td4_simhash": 11,
    "td5_embed_neardup": 11,
    "td6_ann_topk": 11,
    "td7_ivf_ann": 10,
    "td8_kmeans_assign": 12,
    "td9_contamination": 12,
    "tk1_bpe_encode": 10,
    "tk2_bpe_roundtrip": 10,
    "tk3_vocab_coverage": 10,
    "tp1_prepare_corpus": 9,
    "tp2_screen_dedup_pipeline": 10,
    "tp3_full_corpus_prep": 12,
    "ts10_unimax_budget": 9,
    "ts11_unimax_realized": 9,
    "ts12_token_unimax_realized": 9,
    "ts13_token_balanced_shards": 9,
    "ts14_leakage_free_split": 9,
    "ts15_dsir_select": 9,
    "ts16_dsir_threshold": 10,
    "ts17_cluster_prototypes": 10,
    "ts18_perplexity_buckets": 10,
    "ts19_kcenter_coreset": 10,
    "ts1_hash_sample": 12,
    "ts20_domain_cap": 11,
    "ts2_mixture_split": 12,
    "ts3_sequence_pack": 12,
    "ts4_stratified_sample": 9,
    "ts5_shuffle_order": 9,
    "ts6_tokenize": 9,
    "ts7_weighted_sample": 9,
    "ts8_temperature_rebalance": 9,
    "ts9_fixed_size_sample": 9,
    "tv1_top_terms": 12,
    "tv2_tfidf_terms": 12,
    "tv3_cms_heavy_hitters": 12,
    "tv4_bm25_topk": 10,
    "tv5_rrf_fusion": 10,
    "tv6_query_likelihood": 10,
    "tv7_retrieval_eval": 10,
    "tv8_mmr_diversify": 10,
    "u1_union_distinct": 9,
    "u3_distinct_per_group": 12,
    "u4_anti_join_missing": 9,
    "u4_new_disappeared": 12,
    "u5_intersect_except": 9,
    "x10_knn_label_eval": 10,
    "x11_ols_normal_eq": 9,
    "x2_online_inference": 12,
    "x3_validation_summary": 11,
    "x7_skew_report": 9,
    "x8_nb_inference": 9,
    "x9_nb_train_fit": 12,
}


#: name -> round in which its implementation was last touched AFTER
#: its then-latest green (rounds 12-14 optimization passes). A name
#: stays fronted until a CORRECTNESS artifact newer than the pinned
#: round certifies it (then _CERTIFIED_ROUND exceeds the pin and the
#: ordinary staleness rotation resumes). Hand-maintained; see
#: all_specs().
_RETOUCHED_AFTER_GREEN: dict[str, int] = {
    # round-12 touched, never re-drawn by the r12 sample
    "tv4_bm25_topk": 12,
    "tv5_rrf_fusion": 12,
    "tv6_query_likelihood": 12,
    "tv7_retrieval_eval": 12,
    "ta8_bigram_fluency": 12,
    "a22_hll_distinct": 12,
    "td12_jaccard_guarded": 12,
    # round-13 touched (entropy/poly_hash vectorization, CC reliable
    # ckpt + eager registration, tp3 barrier removal, hits adaptive
    # layout, ev7 rank inputs, x3 memo liveness)
    "ta10_char_entropy": 13,
    "tp2_screen_dedup_pipeline": 13,
    "tp3_full_corpus_prep": 13,
    "td3_minhash_lsh": 13,
    "td4_simhash": 13,
    "td13_semantic_dedup": 13,
    "td15_fuzzy_dedup_e2e": 13,
    "td17_incremental_dedup": 13,
    "td29_soft_dedup_weights": 13,
    "dd4_neardup_components": 13,
    "dd5_star_components": 13,
    "ts14_leakage_free_split": 13,
    "g6_hits": 13,
    "ev7_rfm_segments": 13,
    # round-13 numpy/Arrow kernels (ivf_assign, rh_signature_bits,
    # poly_hash) never oracle-sampled since
    "td7_ivf_ann": 13,
    "td21_ivfpq_topk": 13,
    "td27_semantic_decontam_ivf": 13,
    "td16_rh_lsh_pairs": 13,
    "td23_minhash_est_pairs": 13,
    # round-14 touched (category cascade as a lazy pandas-UDF kernel)
    "a12_mapping_methods": 14,
    # round-16 touched (the state manifest carries the schema;
    # read_state reads through it with no inference job)
    "st12_merge_state": 16,
    "st13_merge_skip_unchanged": 16,
    # round-17 touched (every shop pipeline ends in the shared finish;
    # Plus normalizes in one projection instead of a split + union),
    # then round-18 (every memoized Column builder is a functools.cache
    # function; d1 since round 18 only)
    "d1_promo_parse": 18,
    "p1_ah_pipeline": 18,
    "p2_jumbo_pipeline": 18,
    "p3_aldi_pipeline": 18,
    "p4_plus_pipeline": 18,
    "p6_generic_kruidvat": 18,
    "f5_incomplete_filter": 18,
    "q2_quality_report": 18,
    "x3_validation_summary": 18,
}


def all_specs() -> list[QuerySpec]:
    from . import (
        derived,
        inferencespec,
        multimodalspec,
        opsspec,
        pipelines,
        qualityspec,
        relational,
        reports,
        streaming,
        textops,
        trainprep,
    )

    specs: list[QuerySpec] = []
    for mod in (
        relational,
        derived,
        pipelines,
        qualityspec,
        textops,
        streaming,
        reports,
        multimodalspec,
        inferencespec,
        trainprep,
        opsspec,
    ):
        specs.extend(mod.SPECS)
    names = [s.name for s in specs]
    assert len(names) == len(set(names)), "duplicate query names in catalog"
    # Stable partition: never-driver-certified queries first (the gate
    # samples the first 50), already-certified ones after. Within the
    # fresh set, oracle-bearing queries lead rows-only ones — sampling
    # a rows-only query spends a slot on the weaker check.
    fresh = [s for s in specs if s.name not in _DRIVER_CERTIFIED]
    fresh.sort(key=lambda s: s.oracle is None)
    # Re-verify fronting (round 13, verdict item 7): queries whose
    # IMPLEMENTATION changed after their latest green round jump the
    # staleness rotation — a certified-but-since-rewritten row is the
    # highest-risk row in the catalog, and the r12 sample happened to
    # draw none of that round's touched queries. Maintained by hand at
    # each optimization pass; names drop out automatically once a
    # newer CORRECTNESS round certifies them (update_certified bumps
    # _CERTIFIED_ROUND past the pin below).
    retouch = [
        s for s in specs
        if s.name in _RETOUCHED_AFTER_GREEN
        and _CERTIFIED_ROUND.get(s.name, 0) <= _RETOUCHED_AFTER_GREEN[s.name]
        and s.name in _DRIVER_CERTIFIED
    ]
    retouch.sort(key=lambda s: (_CERTIFIED_ROUND.get(s.name, 0), s.name))
    retouch_names = {s.name for s in retouch}
    # Staleness rotation: with (nearly) the whole catalog certified, the
    # gate would otherwise re-sample the same first 50 forever and the
    # other rows would age indefinitely. Order the certified tail by
    # OLDEST green driver round first (name tiebreak) so the 50-wide
    # window re-verifies the full catalog every ~3 rounds.
    seen = [
        s for s in specs
        if s.name in _DRIVER_CERTIFIED and s.name not in retouch_names
    ]
    seen.sort(key=lambda s: (_CERTIFIED_ROUND.get(s.name, 0), s.name))
    return fresh + retouch + seen
