"""Smoke the end-to-end demo script (the reference's notebook flow)."""

from __future__ import annotations

import pytest


def test_demo_runs_end_to_end(spark, tmp_path):
    from examples.feature_store_demo import main

    out = main("/root/testdata/sf0.001", str(tmp_path))
    assert out["views"] == ["user_events_hourly"]
    assert out["entities"] == ["user"]
    assert out["historical_rows"] > 0
    assert len(out["online"]["avg_value"]) == 3
    assert all(v is not None for v in out["online"]["avg_value"])


@pytest.mark.slow  # end-to-end demo pipeline (191s in the r17 duration capture) — slow tier, see pytest.ini
def test_training_pipeline_demo_runs(spark):
    from examples.training_data_pipeline_demo import main

    out = main("/root/testdata/sf0.01")
    assert out["input_docs"] == 500
    assert 0 < out["after_quality_gate"] <= 500
    assert 0 < out["after_exact_dedup"] <= out["after_quality_gate"]
    assert out["near_dup_pairs"] >= 0
    assert out["semantic_dup_pairs"] > 0
    assert 0 < out["semdedup_keepers"] <= 500
    assert out["ivfpq_served_results"] == 20 * 5  # k per probe-batch query
    # the round-9 URL front door feeds curation: the blocklist drops
    # src0-example.com's 25 docs before any text stage
    assert out["url_front_door_survivors"] == 475
    assert out["ranked_domains"] == 16
    # 62 with the gopher_rules gate on over the 475 front-door
    # survivors (73 over the full 500); the base config (gate off,
    # full corpus, sample_rates only) keeps 118
    assert out["curate_operator_survivors"] == 62
    assert out["lm_scored_docs"] == out["after_exact_dedup"]
    assert out["lm_scored_docs_kn"] == out["lm_scored_docs"]
    assert 0 < out["nb_predicted_quality_docs"] <= 500
    # the Pareto rule is score-WEIGHTED, not a sign cut: keep prob
    # (2-p)^-9 thins even moderate positives, so the count sits between
    # the all-drop and all-keep extremes, deterministic per salt
    assert 0 < out["pareto_quality_sampled_docs"] < 500
    assert out["lsh_recall_on_sample"] is None or out["lsh_recall_on_sample"] >= 0.9
    assert out["bpe_merges_learned"] == 8
    # unigram tokenizer: chars + learned multis, every keeper encoded
    assert out["unigram_vocab_pieces"] > 20
    assert out["unigram_encoded_tokens"] > 0
    # layout maintenance: the skipping scan pruned at least one file
    # and the planned read stays content-correct (non-empty keep set)
    assert out["zorder_files_total"] == 8
    assert 0 < out["zorder_files_read"] <= 8
    assert out["zorder_pruned_scan_docs"] > 0


def test_bronze_ingest_demo_runs(spark, tmp_path):
    from examples.bronze_ingest_demo import main

    out = main(str(tmp_path))
    assert out["bronze_rows"] == 800
    assert out["bronze_by_src"] == {"api": 450, "capture": 300, "csv": 50}
    assert 0 < out["silver_rows"] <= 4 * 9 * 3  # stations x days x months
    assert out["partitions"] >= 9


def test_shard_emit_demo_runs(spark, tmp_path):
    from examples.shard_emit_demo import main

    out = main("/root/testdata/sf0.01", str(tmp_path / "shards"))
    assert out["n_shards"] == 4
    assert out["n_sequences"] == sum(out["per_shard"].values())
    assert out["n_sequences"] > 500  # every doc yields >= 1 sequence
    assert out["total_tokens"] > 0


def test_scd2_state_demo_runs(spark):
    from examples.scd2_state_demo import main

    out = main("/root/testdata/sf0.001")
    assert out["events"] == 1000
    assert 0 < out["intervals"] <= out["events"]
    assert out["probes_served"] == out["events"]
    assert out["asof_mismatches"] == 0
