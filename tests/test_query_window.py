"""The driver's correctness gate checks exactly the FIRST 50 entries of
queries() (insertion order). These invariants keep every distinct operator
family inside that window and fully oracle-backed.

Round-5 rotation (VERDICT r4 item #1): the ten round-4 operator families
are promoted into the window; ten per-family duplicates are demoted to 51+
(each family keeps a gated sibling — see the demotion notes in
``__spark_entry__.queries``)."""


def test_gated_window_is_exactly_gated50():
    import __spark_entry__ as m
    q = m.queries()
    assert list(q)[:50] == list(m.GATED_50)
    assert len(m.GATED_50) == len(set(m.GATED_50)) == 50


def test_gated_window_holds_all_operator_families():
    import __spark_entry__ as m
    q, o = m.queries(), m.oracle_sql()
    names = list(q)
    first50 = names[:50]
    # every gated slot is oracle-backed (no rows-only query wastes a slot)
    assert all(n in o for n in first50), [n for n in first50 if n not in o]
    # round-4 promotions (VERDICT r4 item #1) are inside the window
    for must in ("rolling_stats_events", "grouped_zscore_events",
                 "grouped_quantiles_events",
                 "json_profile_events",
                 "distinct_rows_documents",
                 # round-5 families (second intra-round rotation)
                 "column_entropy_events",
                 "tfidf_top_terms_documents",
                 "ks_drift_events_value", "fd_candidates_orders",
                 # round-5 session-2 families (third rotation)
                 "check_constraints_lineitem",
                 "transition_matrix_events",
                 "typo_pairs_documents",
                 "daily_profile_partitioned_events",
                 # fourth rotation
                 "trend_events", "quality_ensemble_documents",
                 "doc_clusters_documents",
                 # fifth rotation
                 "spearman_lineitem", "woe_iv_events",
                 "null_patterns_events", "incremental_profile_lineitem",
                 "embedding_diversity",
                 # seventh rotation (session 3)
                 "curate_corpus_documents",
                 "label_separation_embeddings",
                 # eighth rotation
                 "paragraph_dedup_documents",
                 # carried family representatives
                 "profile_lineitem", "topk_lineitem",
                 "hamming_calibration_md5_documents",  # r9 #14 promotion
                 "ngram_jaccard_pairs_documents",
                 "embedding_neardup_lsh",
                 "ann_lsh_topk",
                 "dataset_card_documents",   # r6 #11 composition row
                 "pack_stats_bfd_documents",  # r13 #18 promotion: the
                                              # window's first bin-
                                              # packing row (recursive-
                                              # CTE BFD replay)
                 "multimodal_frames_documents", "sessionize_events",
                 "remove_spans_documents",          # r12 #17 promotion:
                                              # the sub-document span
                                              # REWRITE row (cleaned
                                              # strings vs full DuckDB
                                              # replay)
                 "temperature_mixture_documents",   # r7 #12 promotion
                 "covariance_lineitem",             # r8 #13 promotion
                 "extract_text_documents",          # r10 #15 promotion
                 "inclusion_deps_tpch",             # r11 #16 promotion:
                                              # the window's first
                                              # multi-table row
                 "countmin_topk_documents"):
        assert must in first50, must
    # every demoted duplicate still exists at 51+ with its oracle intact
    for demoted in ("text_stats_documents",   # r6 #11 (ensemble + card cover)
                    "pii_scan_documents",     # r7 #12 (dataset_card cover)
                    "dedup_exact_documents",  # r8 #13 (curate_corpus +
                                              # distinct_rows cover)
                    "simhash_near_pairs_documents",  # r9 #14 (the promoted
                                              # md5 calibration replays the
                                              # same banded Hamming funnel
                                              # end to end, deeper)
                    "lang_confusion_documents",  # r10 #15 (the gated
                                              # dataset_card's lang section
                                              # exercises the same
                                              # _lang_scores +
                                              # _predicted_lang_expr bundle)
                    "refint_lineitem_orders",  # r11 #16 (the promoted
                                              # inclusion_deps_tpch replays
                                              # the same distinct-key
                                              # left-join orphan machinery
                                              # graph-wide, incl. a failing
                                              # edge)
                    "hash_split_documents",   # r13 #18 (the gated
                                              # temperature_mixture keeps
                                              # the same md5 _bucket keep
                                              # rule driver-gated)
                    "repetition_stats_documents",  # r12 #17 (the span
                                              # family measures AND removes
                                              # the repetition dimension;
                                              # span_removal_stats +
                                              # ngram_df_histogram gate the
                                              # same n-gram machinery
                                              # deeper)
                    "profile_documents", "topk_documents",
                    "decontaminate_exact_documents", "distinct_lineitem",
                    "dedup_corpus_documents",
                    "token_length_histogram_documents",
                    "multimodal_meta_documents", "grouped_profile_events",
                    "pack_sequences_documents", "corpus_summary_documents",
                    # second-rotation demotions
                    "quartiles_lineitem", "outliers_lineitem",
                    "windowed_topk_events", "lang_id_documents",
                    "fingerprints_documents", "vocabulary_documents",
                    "mixture_sample_documents", "chunk_documents",
                    # third-rotation demotions
                    "windowed_distinct_events", "psi_drift_documents",
                    "ngram_containment_pairs_documents",
                    "duplicated_ngram_fraction_documents",
                    "contamination_report_documents",
                    "embedding_neardup_pairs", "ann_cosine_topk",
                    # fourth-rotation demotions
                    "funnel_events", "resample_events",
                    "grouped_topk_tokens_documents",
                    "quality_filter_documents",
                    # fifth-rotation demotions
                    "categorical_association_documents",
                    "rollup_profile_events", "acf_events",
                    "profile_events", "embedding_dim_profile"):
        assert demoted in names[50:], demoted
        assert demoted in o, demoted
    families = {n.rsplit("_", 1)[0] for n in first50}
    assert len(families) >= 40          # 50 slots, near-zero repeats
    # oracle keys all resolve to queries
    assert not [k for k in o if k not in q]
