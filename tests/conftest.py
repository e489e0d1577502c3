import os
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="willa-warehouse-"))
        .appName("willa_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


# ---------------------------------------------------------------------
# FAST GATE (r15 verdict #2): the full single-process suite costs more
# wall than the driver's verify budget (it cut off mid-suite at ~57% in
# r15 with zero failures), so a bare `pytest tests/` runs the FAST GATE
# — everything except the tests below, which are the measured >=15 s
# property/congruity sweeps (multi-ordering permutation proofs and
# end-to-end streaming drains whose cost is breadth of orderings, not
# unique coverage; each family keeps faster members in the gate).
#
# The full suite remains the builder's close: tools/run_tests.sh sets
# WILLA_FULL_SUITE=1 and runs EVERYTHING sharded (the r16 close record:
# 574 passed / 1 skipped / 0 failed).
#
# Deliberately KEPT in the fast gate despite >=15 s: the sf0.001 oracle
# parity pins (test_dsir_weights_oracle_parity,
# test_perplexity_bands_oracle_parity) and the differentials of kernels
# the r16 optimizer touched (test_streaming_embedding_dedup_congruity,
# test_pq_recall_on_real_embeddings, test_ann_recall_floors,
# test_minhash_exact_verify_divergence_pinned) — the gate must cover
# parity pins + touched-kernel differentials (r15 verdict #2).
#
# Durations measured by the r16 6-shard run (--durations=0, logs summed
# per test incl. setup/teardown); tests/test_rotation.py pins that
# every listed id still collects, so a rename cannot silently strand a
# skip entry.
SLOW_FULL_SUITE_ONLY = frozenset(
    {
        "tests/test_corpus_pipeline.py::test_streaming_corpus_pipeline_congruity",
        "tests/test_permuted_arrival.py::test_composed_pipeline_congruity_under_any_ordered_split",
        "tests/test_permuted_arrival.py::test_exact_dup_congruity_under_any_arrival",
        "tests/test_streaming_near_dedup.py::test_streaming_minhash_dedup_congruity",
        "tests/test_curation.py::test_two_phase_kernel_equals_window_forms",
        "tests/test_permuted_arrival.py::test_exact_dup_first_seen_property_all_store_families",
        "tests/test_streaming_near_dedup.py::test_streaming_simhash_dedup_congruity",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_verify_mode_is_explicit",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_fuzzy_decontamination",
        "tests/test_streaming_table_joins.py::test_table_table_asof_bounded_lateness_congruity",
        "tests/test_selection.py::test_dsir_score_step_congruent_under_any_split",
        "tests/test_permuted_arrival.py::test_nontransitive_chain_divergence_is_order_dependent",
        "tests/test_corpus_pipeline.py::test_streaming_corpus_pipeline_replay",
        "tests/test_corpus_pipeline.py::test_steps_survive_all_dropped_and_empty_batches",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_semantic_decontamination",
        "tests/test_selection.py::test_dsir_score_step_congruent_with_batch",
        "tests/test_corpus_pipeline.py::test_curation_to_shards_end_to_end_congruity",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_line_strip",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_classifier_admission",
        "tests/test_streaming_near_dedup.py::test_streaming_minhash_exact_verify_congruity_and_replay",
        "tests/test_functions.py::test_keep_best_property",
        "tests/test_selection.py::test_dsir_temperature_zero_limit_is_topk_by_weight",
        "tests/test_curation.py::test_pack_sequences_scaled_equals_window_form",
        "tests/test_property_differential.py::test_batch_is_deterministic",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_lm_admission",
        "tests/test_property_differential.py::test_session_python_fold_congruity",
        "tests/test_selection.py::test_dsir_score_step_id_hygiene_fails_loud",
        "tests/test_corpus_pipeline.py::test_ccnet_end_to_end_composition",
        "tests/test_streaming_near_dedup.py::test_minhash_store_geometry_guard",
        "tests/test_permuted_arrival.py::test_composed_pipeline_out_of_order_split_fails_loud",
        "tests/test_selection.py::test_importance_weights_python_differential",
        "tests/test_curation.py::test_scaled_twins_durable_spill_equals_local_checkpoint",
        "tests/test_property_differential.py::test_three_way_merge_congruity",
        "tests/test_selection.py::test_domain_mixture_trajectory_hypothesis_differential",
        "tests/test_store_compaction.py::test_compaction_invariants_random_schedules",
        "tests/test_selection.py::test_domain_mixture_step_congruity_and_replay",
        "tests/test_store_compaction.py::test_compaction_preserves_dedup_results_and_replay",
        "tests/test_lm.py::test_lm_hypothesis_differential",
        "tests/test_store_compaction.py::test_compact_every_wiring_in_dedup_step",
        "tests/test_selection.py::test_dsir_select_planted_separation",
        "tests/test_pq.py::test_pq_null_vec_excluded_and_guards",
        "tests/test_functions.py::test_dup_clusters_bidirectional_pairs_normalized",
        "tests/test_property_differential.py::test_windowed_inner_join_congruity",
        "tests/test_selection.py::test_domain_mixture_step_kn_congruity",
        "tests/test_functions.py::test_dup_clusters_hybrid_property_random_graphs",
        "tests/test_property_differential.py::test_windowed_sum_congruity",
        "tests/test_curation.py::test_token_budget_cap_scaled_equals_window_form",
        "tests/test_selection.py::test_bigram_group_cross_entropy_is_token_weighted",
        "tests/test_curation.py::test_fuzzy_contamination_catches_paraphrase",
        "tests/test_selection.py::test_domain_mixture_hypothesis_differential",
        "tests/test_functions.py::test_dup_clusters_long_chain_pointer_jumping",
        "tests/test_streaming_near_dedup.py::test_streaming_dedup_replay_is_idempotent",
        "tests/test_pq.py::test_streaming_pq_store_congruity_and_replay",
        "tests/test_curation.py::test_contamination_exact_hits",
        "tests/test_corpus_pipeline.py::test_composed_pipeline_null_text_congruent_configs",
        "tests/test_property_differential.py::test_dup_ngram_spans_and_mask_match_python_reference",
        "tests/test_functions.py::test_simhash_pigeonhole_full_recall_vs_brute_force",
        "tests/test_lm.py::test_kn_continuation_beats_raw_frequency",
        "tests/test_streaming_congruity.py::test_congruity_outer_join_exact_nil_dedup",
        "tests/test_functions.py::test_dup_clusters_leaves_session_conf_alone",
        "tests/test_streaming_congruity.py::test_congruity_left_join_exact_nil_dedup",
        "tests/test_lm.py::test_kn_bigram_python_differential",
    }
)


REPO_ROOT = Path(__file__).resolve().parent.parent


def repo_nodeid(item) -> str:
    """``item.nodeid`` as it reads from the repository root, whichever
    rootdir pytest picked (run from inside tests/, its nodeids drop the
    ``tests/`` prefix that SLOW_FULL_SUITE_ONLY spells out)."""
    path = Path(item.path).resolve().relative_to(REPO_ROOT).as_posix()
    return path + item.nodeid[item.nodeid.index("::"):]


def topology_rows() -> set[str]:
    """The registry queries that run through ``run_topology``: the
    paper's engine, which the driver gate always holds."""
    import inspect

    from willa_spark.queries import QUERIES

    return {n for n, f in QUERIES.items() if "run_topology(" in inspect.getsource(f)}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("WILLA_FULL_SUITE"):
        return
    skip = pytest.mark.skip(
        reason="full-suite only (measured >=15s; breadth, not unique "
        "coverage) — set WILLA_FULL_SUITE=1 or run tools/run_tests.sh"
    )
    for item in items:
        if repo_nodeid(item) in SLOW_FULL_SUITE_ONLY:
            item.add_marker(skip)
