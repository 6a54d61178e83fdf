import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("GEARPUMP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from gearpump_spark.session import get_spark

    spark = get_spark("gearpump_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


# Driver-profile slow tier (r11, r10 verdict "Next round" #3): the full
# suite is ~23-26 min on this rig and the r10 driver's pytest run hit its
# time cap mid-suite. These tests — the oracle-unroll/property-trainer/
# numpy-golden/registry-sweep tier, every one >= ~4 s in the r11 timing
# run (/tmp archive: 690 passed, durations=250) — are marked `slow` and
# excluded by the default `-m "not slow"` in pytest.ini, keeping the
# driver's `pytest tests/ -x -q` under ~10 min. Full lane:
#     python -m pytest tests/ -q -m "slow or not slow"
# Marking is centralized here (collection hook) rather than scattered
# decorators so the list is auditable in one place; parametrized entries
# are matched by their full bracketed id.
SLOW_TESTS = {
    "test_byte_level_round_trips_non_ascii",
    "test_byte_level_trainer_matches_pure_python_golden",
    "test_continuous_trigger_runs_passthrough",
    "test_dedup_then_window_pipeline",
    "test_disconnected_component_unreached",
    "test_end_of_word_variant_matches_reference_and_learns_word_units",
    "test_fixed_window_gbk",
    "test_global_positions_rank_matches_sequential",
    "test_hll_monoid_windowed_distinct",
    "test_ivf_persistent_index_query_no_corpus_exchange",
    "test_ivf_topk_recall_vs_exact",
    "test_kmv_monoid_windowed_distinct",
    "test_late_data_dropped_behind_watermark",
    "test_long_chain_converges_in_log_rounds",
    "test_matches_min_label_on_random_graph",
    "test_monoid_windowed_state_matches_native",
    "test_no_undocumented_global_window_sorts",
    "test_oracle_parity[graph_pagerank_int]",
    "test_oracle_parity[graph_pagerank_personalized_int]",
    "test_oracle_parity[graph_pagerank_weighted_int]",
    "test_oracle_parity[graph_pagerank_weighted_personalized_int]",
    "test_oracle_parity[pipeline_quality_dedup_pack]",
    "test_oracle_parity[sample_domain_reweight_int]",
    "test_oracle_parity[text_bpe_bytes]",
    "test_oracle_parity[text_bpe_exact]",
    "test_oracle_parity[text_bpe_tokens]",
    "test_oracle_parity[text_quality_lr_int]",
    "test_oracle_parity[text_quality_lr_multiclass]",
    "test_oracle_parity[text_quality_lr_stream_score]",
    "test_oracle_parity[text_sentencepiece_tokens]",
    "test_pagerank_int_matches_pure_python",
    "test_pagerank_matches_numpy",
    "test_pagerank_weighted_int_matches_pure_python",
    "test_personalized_pagerank_int_matches_pure_python",
    "test_personalized_pagerank_matches_numpy",
    "test_personalized_pagerank_uniform_seeds_equals_pagerank",
    "test_personalized_pagerank_weighted_int_matches_pure_python",
    "test_phash_brightness_invariance_and_separation",
    "test_pipeline_quality_dedup_pack_stage_shapes",
    "test_pq_encode_narrow_and_adc_corpus_never_shuffles",
    "test_quality_lr_int_actually_learns",
    "test_quality_lr_multiclass_actually_learns",
    "test_quality_lr_multiclass_scoring_keyed_broadcast_weights",
    "test_quality_lr_scoring_pass_keyed_broadcast_weights",
    "test_rows_only_queries_run[embedding_top_pc]",
    "test_rows_only_queries_run[embedding_top_pcs]",
    "test_rows_only_queries_run[graph_pagerank]",
    "test_rows_only_queries_run[graph_pagerank_personalized]",
    "test_session_window_stream",
    "test_stateful_running_count_across_batches",
    "test_stream_dedup",
    "test_stream_scd2_enrich_joins_version_valid_at_event_time",
    "test_stream_stream_interval_join",
    "test_stream_stream_interval_join_left_outer",
    "test_streaming_incremental_dedup_foreachbatch",
    "test_streaming_lr_scored_emission_matches_batch",
    "test_streaming_query_stateful_shape[text_quality_lr_stream_score]",
    "test_timestamp_combiner_earliest",
    "test_tokenize_applies_training_segmentation",
    "test_tokenize_round_trips_and_compresses",
    "test_tokenizer_word_boundary_matches_trainer",
    "test_top_principal_component_matches_numpy",
    "test_top_principal_components_deflation_matches_numpy",
    "test_train_vocab_final_syms_is_the_tokenization",
    "test_trainer_left_to_right_nonoverlapping_runs",
    "test_trainer_matches_pure_python_golden",
    "test_trainer_property_matches_reference",
    "test_unigram_property_matches_reference",
    "test_wordpiece_property_matches_reference",
    "test_wordpiece_tokenize_matches_pure_python",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
