"""Guard the driver-adjudication window (workload.QUERIES ordering).

The driver writes CORRECTNESS rows for the FIRST ADJUDICATION_WINDOW
entries of queries() only; anything past that silently loses its
round-over-round correctness row. These tests make window membership an
explicit, reviewed decision: growing the registry or reordering it must
update the expected rotation here, never silently drop coverage.
"""

from __future__ import annotations

from my_feast_spark import workload

#: The flagship gold-build + point-in-time retrieval path: leads every
#: window, so no rotation leaves it without a CORRECTNESS row. The rest
#: of the registry rotates around it in halves of 48.
PINNED_ANCHORS = {
    "pit_user_features",
    "hourly_user_agg",
}

#: The tail half: outside the current window, and the next rotation's
#: window (behind the anchors, 2 + 48 = 50). A rotation swaps the halves
#: whole, so no query sits out two windows in a row.
ROTATION_TAIL = {
    "pit_late_arrival",
    "hourly_global_agg",
    "event_types_salted",
    "streaming_versioned_ingest",
    "versioned_restore_diff",
    "zorder_scan",
    "materialize_stream",
    "unigram_tokenize",
    "url_domain_curation",
    "hll_group_distinct",
    "kmv_corpus_overlap",
    "bloom_prefilter_dedup",
    "bm25_topk",
    "orc_scan",
    "wordpiece_tokenize",
    "warc_text_extract",
    "compaction_replay",
    "jsonl_scan",
    "pack_bfd",
    "minhash_dup_pairs",
    "curation_pipeline_full",
    "cdc_chunk_dedup",
    "streaming_embedding_ingest",
    "lsh_recall",
    "scd2_user_state",
    "bpe_merge_replay",
    "vocab_encode_join",
    "span_removal",
    "nb_quality_score",
    "pricing_summary",
    "feature_store_retrieval",
    "streaming_sessionize",
    "streaming_hourly_agg",
    "repetition_filter",
    "online_lookup",
    "streaming_dedup",
    "lang_id",
    "pii_redaction",
    "train_val_split",
    "ivf_topk",
    "embedding_near_dupes_lsh",
    "simhash_dup_pairs",
    "revenue_rollup",
    "latest_event_per_user",
    "map_pivot_props",
    "regional_revenue",
    "order_priority_count",
    "top_spenders",
}

#: The window: the pinned anchors plus the window half, which sat out
#: the previous window and so must be adjudicated in this one.
ROTATED_IN = {
    "pit_user_features",
    "hourly_user_agg",
    "versioned_replay",
    "cms_heavy_hitters",
    "streaming_sketch_ingest",
    "pit_versioned_asof",
    "hll_time_rollup",
    "skew_report",
    "priority_collapse_types",
    "part_brand_stats",
    "idle_customers_anti",
    "user_value_deltas",
    "jaccard_dup_pairs",
    "audio_dedup",
    "video_dedup",
    "semdedup",
    "compact_table_replay",
    "scd2_stream_maintain",
    "audio_vad",
    "dsir_resample",
    "domain_pagerank",
    "gopher_quality_filter",
    "score_weighted_sample",
    "lm_perplexity_kn",
    "scd2_lookup",
    "ccnet_buckets",
    "ivfpq_topk",
    "image_dedup",
    "streaming_neardup_ingest",
    "dedup_clusters",
    "packed_sequences",
    "mixture_temperature",
    "boilerplate_ngrams",
    "global_shuffle",
    "incremental_dedup",
    "column_profile",
    "cluster_keep_longest",
    "stratum_ksample",
    "profile_drift",
    "token_pmi",
    "inverted_index",
    "contamination_report",
    "avro_scan",
    "multimodal_frames",
    "stream_capture_files",
    "normalize_text",
    "label_centroids",
    "top_terms_tfidf",
    "cosine_topk",
    "ann_lsh_topk",
}

#: Queries whose output-affecting code changed since their last
#: CORRECTNESS row: they must be in the window that ships the change.
#: These commit through upsert_version/delete_version
#: (sources/versioned.py).
CHANGED_OR_NEW_THIS_ROUND = {
    "versioned_replay",
    "pit_versioned_asof",
    "compact_table_replay",
}

#: Retired: never submitted for adjudication, still value-checked by
#: test_oracle_parity.py. An entry stays only while bench.py times it, a
#: test uses its q_* function as a reference, or it is the only DuckDB
#: check of a public function or a COVERAGE.md row.
RETIRED_THIS_ROUND = {
    # timed by bench.py
    "chunk_dedup",
    "quality_score",
    "doc_fingerprints",
    "pq_topk",
    # reference side of a test equality
    "vocab_encode",
    "sequence_packing",
    # only DuckDB check of a public function
    "struct_flatten",
    "hash_sampled_docs",
    "multimodal_decode",
    "exact_dedup_docs",
    # only DuckDB check of a COVERAGE.md row
    "datetime_functions",
    "lineitem_unpivot",
    "small_quantity_revenue",
    "user_cohort_sets",
    "returnflag_cube",
    "moving_avg_revenue",
    "customer_balance_deciles",
    "event_type_pivot",
}


def test_pinned_anchors_hold_window_slots():
    """The pinned-anchor contract: the flagship PIT path is in EVERY
    adjudication window, leading it."""
    window = list(workload.QUERIES)[: workload.ADJUDICATION_WINDOW]
    assert PINNED_ANCHORS <= set(window)
    assert set(window[: len(PINNED_ANCHORS)]) == PINNED_ANCHORS, (
        "anchors must lead the window so no registry growth can push "
        "them past the driver's first-50 cut"
    )


def test_window_contains_rotated_in_queries():
    window = list(workload.QUERIES)[: workload.ADJUDICATION_WINDOW]
    assert ROTATED_IN <= set(window)


def test_window_contains_every_changed_or_new_query():
    window = list(workload.QUERIES)[: workload.ADJUDICATION_WINDOW]
    assert CHANGED_OR_NEW_THIS_ROUND <= set(window)


def test_tail_is_exactly_the_declared_rotation():
    tail = list(workload.QUERIES)[workload.ADJUDICATION_WINDOW:]
    assert set(tail) == ROTATION_TAIL, (
        "adjudication-window overflow changed: update the rotation plan "
        "in workload.py and here explicitly"
    )


def test_rotation_halves_close_around_the_anchors():
    """2 pinned + 48 rotating fills the 50-slot window exactly; the
    tail half must also be 48 so next round's swap closes at 50."""
    assert len(workload.QUERIES) == (
        len(PINNED_ANCHORS) + 2 * (workload.ADJUDICATION_WINDOW
                                   - len(PINNED_ANCHORS))
    )
    assert len(ROTATION_TAIL) == (
        workload.ADJUDICATION_WINDOW - len(PINNED_ANCHORS)
    )
    assert not (PINNED_ANCHORS & ROTATION_TAIL)


def test_retired_set_is_exactly_the_declared_one():
    assert set(workload.RETIRED_QUERIES) == RETIRED_THIS_ROUND
    assert not (set(workload.RETIRED_QUERIES) & set(workload.QUERIES)), (
        "a query cannot be both retired and registered"
    )


def test_registry_stays_inside_the_driver_budget():
    # driver budget: ~100 adjudicated queries; the window itself is 50
    assert len(workload.QUERIES) <= 100
    assert len(workload.QUERIES) >= workload.ADJUDICATION_WINDOW


def test_every_query_is_oracle_backed():
    missing = [
        name
        for name, (_fn, sql) in {**workload.QUERIES,
                                 **workload.RETIRED_QUERIES}.items()
        if workload.resolve_sql(sql) is None
    ]
    assert not missing, f"queries without a DuckDB oracle: {missing}"


def test_generated_oracles_are_lazy_at_import():
    """Importing workload must not run the generated-oracle builders
    (k-means, PQ, BPE training over the oracle parquet) — they resolve
    memoized on first use (workload._LazySQL / resolve_sql)."""
    import subprocess
    import sys

    out = subprocess.check_output([
        sys.executable,
        "-c",
        "from my_feast_spark import workload; "
        "print(workload.SQL_PQ_TOPK._done, workload.SQL_SEMDEDUP._done, "
        "workload.SQL_BPE_MERGE_REPLAY._done, workload.SQL_IVFPQ_TOPK._done)",
    ])
    assert out.split() == [b"False"] * 4
    assert workload.resolve_sql(workload.SQL_PQ_TOPK) == (
        workload.SQL_PQ_TOPK.resolve()
    )
