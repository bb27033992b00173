"""curate() — the assembled curation pipeline operator.

The full composition (the base stages plus decontamination, near-dup
and NB filtering) is oracle-adjudicated via
workload.q_curation_pipeline_full; here each stage is exercised on
planted data, plus the end-to-end shape on real docs.
"""

from __future__ import annotations

from pyspark.sql import Row

from my_feast_spark.operators.curation import CurationConfig, curate

SF = "/root/testdata/sf0.01"


def _doc(i, lang, text):
    return Row(doc_id=i, lang=lang, text=text)


def test_curate_base_stages(spark):
    df = spark.createDataFrame([
        _doc(1, "en", "the quick brown fox jumps over the lazy dog"),
        _doc(2, "en", "The quick  brown fox jumps over the lazy dog"),  # exact dup of 1
        _doc(3, "en", "spam spam spam spam spam spam spam spam"),       # repetitive
        _doc(4, "de", "der schnelle braune fuchs springt darüber"),
    ])
    out = curate(df, CurationConfig(sample_rates=None, max_top_token_frac=0.3)).collect()
    ids = {r.doc_id for r in out}
    assert ids == {1, 4}  # 2 deduped away, 3 repetition-filtered
    row = {r.doc_id: r for r in out}[1]
    assert row.n_tokens == 9 and row.n_chunks == 1


def test_curate_decontamination_drops_benchmark_overlap(spark):
    train = spark.createDataFrame([
        _doc(1, "en", "alpha beta gamma delta epsilon zeta"),
        _doc(2, "en", "one two three four five six seven"),
    ])
    bench = spark.createDataFrame([
        _doc(100, "en", "alpha beta gamma delta leaked into training"),
    ])
    cfg = CurationConfig(sample_rates=None, decontaminate_ngram=4,
                         max_top_token_frac=0.3)
    out = curate(train, cfg, benchmark_df=bench).collect()
    assert {r.doc_id for r in out} == {2}  # doc 1 shares a 4-gram with bench


def test_curate_near_dup_prunes_to_cluster_representative(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame([
        _doc(1, "en", base),
        _doc(2, "en", base + " extra"),   # near-dup of 1 (high jaccard)
        _doc(3, "en", "completely different content about spark query planning"),
    ])
    cfg = CurationConfig(sample_rates=None, near_dup="minhash",
                         near_dup_threshold=0.5, max_top_token_frac=0.3)
    out = curate(df, cfg).collect()
    # cluster {1,2} keeps min-id 1; 3 untouched
    assert {r.doc_id for r in out} == {1, 3}


def test_curate_real_docs_matches_workload_query(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rates = {"en": 0.3, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}
    out = curate(docs, CurationConfig(sample_rates=rates))
    assert out.columns == ["doc_id", "lang", "n_tokens", "n_chunks"]
    assert out.count() == 118  # pinned by the oracle row at sf0.01


def test_curate_near_dup_stage_with_no_duplicates_is_identity(spark):
    # near-dup pruning over a corpus with zero near-dups must drop
    # nothing (empty pair graph -> empty cluster relation -> no-op anti
    # join), and still release every cache
    df = spark.createDataFrame([
        _doc(1, "en", "alpha beta gamma delta epsilon"),
        _doc(2, "en", "one two three four five six"),
    ])
    spark.catalog.clearCache()
    cfg = CurationConfig(sample_rates=None, near_dup="minhash",
                         max_top_token_frac=0.5)
    out = curate(df, cfg)
    assert {r.doc_id for r in out.collect()} == {1, 2}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curate_optional_stage_plan_skips_window_rederivation(spark):
    """With optional stages on, the RETURNED plan must not re-derive the
    exact-dedup fingerprint window: the window losers are folded into
    the checkpointed anti-id set while the survivor cache is live, so
    the final materialization is a map-only tokenize + one anti-join —
    no second md5 fingerprint, no second corpus Exchange (r16
    optimization). Values are pinned elsewhere (the oracle parity row
    + the planted-data tests above); this pins the PLAN shape and that
    the anti-id fold never resurrects a window loser."""
    from my_feast_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    cfg = CurationConfig(sample_rates=None, near_dup="minhash",
                         near_dup_threshold=0.5)
    out = curate(docs, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, (
        "returned plan re-derives the dedup window"
    )
    assert "md5" not in plan, (
        "returned plan recomputes the doc fingerprint"
    )
    # survivors of the optional-stage path must be a subset of the
    # no-optional-stage survivors (whose returned plan still IS the
    # window): the rewrite drops exactly the window losers plus the
    # near-dup stage's drops, never resurrecting either
    got = {r.doc_id for r in out.collect()}
    base_ids = {
        r.doc_id
        for r in curate(docs, CurationConfig(sample_rates=None)).collect()
    }
    assert got <= base_ids


def test_curate_gopher_rules_gate(spark):
    """gopher_rules=True adds the Gopher rule conjunct on the same
    map-only stage: among docs surviving every other stage, exactly the
    rule-failing ones drop — pinned against gopher_features_arr run
    standalone over the same corpus."""
    from pyspark.sql import functions as F

    from my_feast_spark.functions.text import gopher_features_arr, tokens
    from my_feast_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    cfg_off = CurationConfig(sample_rates=None)
    cfg_on = CurationConfig(sample_rates=None, gopher_rules=True)
    base = {r.doc_id for r in curate(docs, cfg_off).collect()}
    gated = {r.doc_id for r in curate(docs, cfg_on).collect()}
    passing = {
        r.doc_id
        for r in docs.select(
            "doc_id",
            gopher_features_arr(
                tokens(F.lower(F.col("text")))
            )["gopher_pass"].alias("p"),
        ).collect()
        if r.p == 1
    }
    assert gated == base & passing
    assert gated < base  # the gate actually drops something here


def test_curate_dsir_resampling_stage(spark):
    """cfg.dsir_n runs DSIR as the final selection: exactly dsir_n
    survivors, a subset of the unsampled pipeline's survivors,
    deterministic across runs, and the trainer's count-table cache is
    released (the kept-id localCheckpoint is RDD-level pinning owned by
    the returned plan, like drop_ids)."""
    import pytest

    from my_feast_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    target = docs.where("doc_id % 50 = 0")
    cfg = CurationConfig(sample_rates=None, dsir_n=25,
                         dsir_num_buckets=512)
    spark.catalog.clearCache()
    base = {r.doc_id for r in curate(docs, CurationConfig(
        sample_rates=None)).collect()}
    got1 = {r.doc_id for r in curate(
        docs, cfg, dsir_target_df=target).collect()}
    got2 = {r.doc_id for r in curate(
        docs, cfg, dsir_target_df=target).collect()}
    assert len(got1) == 25
    assert got1 == got2, "the Gumbel draw must be deterministic"
    assert got1 <= base, "resampling selects FROM the cleaned corpus"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "the DSIR stage left persisted DataFrames behind"
    )
    with pytest.raises(ValueError):
        curate(docs, cfg)  # dsir_n without dsir_target_df
