"""Plan-shape regression tests: the scale properties claimed in README
(pushdown, pruning, broadcast dims, no Python in the hot path) asserted
against the actual optimized plans so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from my_feast_spark import workload
from my_feast_spark.sources.readers import load_table
from tests.conftest import SF_DIR_ORACLE


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# Operator compositions pinned below that have no registry query of
# their own: each builds the DataFrame the pinned plan property is about.

def _doc_chunks(spark, sf_dir):
    """``chunk_tokens`` windows (size 50, stride 25), one row per chunk."""
    from my_feast_spark.functions.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode_outer(chunk_tokens(F.col("text"), size=50, stride=25)).alias("c"),
        )
        .filter(F.col("c").isNotNull())
        .select(
            "doc_id", "c.start",
            F.md5(F.encode(F.col("c.chunk_text"), "UTF-8")).alias("chunk_md5"),
            "c.n_tokens",
        )
    )


def _curation_base(spark, sf_dir):
    """``curate`` with the base stages only: dedup -> repetition filter
    -> stratified sample -> accounting."""
    from my_feast_spark.operators.curation import CurationConfig, curate

    rates = {"en": 0.3, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}
    docs = load_table(spark, sf_dir, "documents")
    return curate(docs, CurationConfig(sample_rates=rates))


def _length_bucket_batches(spark, sf_dir):
    """``token_count`` binned into power-of-two buckets (base-2 digit
    count) with per-bucket batch accounting at an 8192-token budget."""
    from my_feast_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(token_count(F.col("text")).alias("__nt")).select(
        "__nt",
        F.length(F.conv(F.col("__nt").cast("string"), 10, 2)).cast("int").alias("bucket"),
    )
    cap = F.pow(F.lit(2.0), F.col("bucket").cast("double")).cast("long")
    per_batch = F.greatest(F.floor(F.lit(8192) / cap), F.lit(1))
    return (
        binned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("__nt").alias("n_tokens"))
        .select(
            "bucket", cap.alias("max_len"), "n_docs", "n_tokens",
            F.ceil(F.col("n_docs") / per_batch).cast("long").alias("n_batches"),
        )
    )


def _corpus_vocab(spark, sf_dir):
    """Top-50 lowercased tokens by occurrences, with document frequency."""
    from my_feast_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(tokens(F.lower(F.col("text")))).alias("token"),
    ).filter(F.col("token").isNotNull())
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(50)
    )


def _bpe_pair_counts(spark, sf_dir):
    """Top-40 adjacent-token pairs: the ``let``-bound token array zipped
    with its 1-shifted slice (one BPE round's count table)."""
    from my_feast_spark.functions.text import let, tokens

    def adjacent_pairs(t):
        return F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1), F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode_outer(let(tokens(F.lower(F.col("text"))), adjacent_pairs)).alias("pair")
    ).filter(F.col("pair").isNotNull())
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(40)
    )


def _release_owned(df):
    """Release everything a query hands its caller — caches AND
    localCheckpoints (the labels a CC-backed query pins)."""
    from my_feast_spark.operators.graph import release_checkpoint

    for c in getattr(df, "_owned_caches", ()):
        c.unpersist()
    for c in getattr(df, "_owned_checkpoints", ()):
        release_checkpoint(c)


def test_filter_pushdown_and_column_pruning(spark):
    df = workload.q_pricing_summary(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # projection pruning: untouched wide columns never leave parquet
    assert "l_comment" not in plan and "l_shipmode" not in plan
    # the exact-decimal sum/avg migration must stay one partial/final
    # hash-agg pair: a single exchange, no extra shuffle for the
    # decimal arithmetic (each formatted-plan node prints twice)
    assert plan.count("Exchange") == 2


def test_dim_joins_broadcast(spark):
    plan = _formatted(workload.q_regional_revenue(spark, SF_DIR_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region dims
    assert "SortMergeJoin" not in plan


def test_pit_join_is_single_window_no_range_join(spark):
    """The flagship must stay on the linear union+window plan: one window,
    no nested-loop/cartesian fallback from the `<=` conjunct. The ONE
    allowed BroadcastNestedLoopJoin is the history-prune's broadcast of
    the 1-row max-probe-timestamp aggregate (CASE.MD:403) — a scalar
    filter, not a pair join."""
    plan = _formatted(workload.q_pit_user_features(spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in plan
    assert "__mfs_max_probe_ts" in plan  # the prune is actually in-plan
    # every non-equi join condition must belong to the scalar prune —
    # never a probe×history pair join (equi joins print "None" here)
    import re
    conds = re.findall(r"Join condition: (.+)", plan)
    suspicious = [
        c for c in conds if "__mfs_max_probe_ts" not in c and c.strip() != "None"
    ]
    assert not suspicious, f"unexpected non-equi join conditions: {suspicious}"
    assert "RunningWindowFunction" in plan or "Window" in plan


@pytest.mark.slow  # all-query plan blanket (80s) — slow tier, see pytest.ini
def test_native_queries_have_no_python_udfs(spark):
    """Everything except the intentionally-Python operators (multimodal,
    sessionize) must stay JVM-side."""
    python_ok = {"multimodal_decode", "multimodal_frames", "image_dedup",
                 "ivfpq_topk", "streaming_neardup_ingest",
                 "stream_capture_files", "streaming_sessionize",
                 "streaming_hourly_agg", "streaming_dedup",
                 # multi-table LSH bucketing and IVF cell assignment are
                 # deliberate Arrow-batched pandas UDFs: one numpy matmul
                 # replaces k*dim interpreted higher-order-function dots
                 # (see _lsh_buckets_udf / ivf_topk._cell_udf)
                 "embedding_near_dupes_lsh", "ivf_topk",
                 # the portable minhash family fans out through ONE
                 # Arrow batch of exact int64 Carter-Wegman minima —
                 # bit-identical to the expression form, ~64x fewer
                 # interpreted HOF passes (see minhash_minima)
                 "minhash_dup_pairs",
                 # lsh_recall runs that same minhash pipeline on its
                 # sample slice — the one Arrow batch is inherited
                 "lsh_recall",
                 # SemDeDup's cell assignment and PQ's encode are the
                 # same deliberate Arrow-batched numpy path as ivf_topk
                 "semdedup", "pq_topk",
                 # the audio/video perceptual tiers parse the stubbed
                 # binary codecs in Arrow batches by design (the only
                 # Python in their plans is the fingerprint pass)
                 "audio_dedup", "video_dedup"}
    for name, (fn, _sql) in workload.QUERIES.items():
        if name in python_ok or name.startswith("streaming"):
            continue
        df = fn(spark, SF_DIR_ORACLE)
        plan = _formatted(df)
        _release_owned(df)
        assert "BatchEvalPython" not in plan, f"{name} runs a row-wise Python UDF"
        assert "ArrowEvalPython" not in plan or name in python_ok, (
            f"{name} unexpectedly runs a Pandas UDF"
        )


def test_chunk_dedup_decision_is_aggregated_not_windowed(spark):
    """chunk_dedup's winner-per-fingerprint must be a map-side-combined
    AGGREGATE joined back on the 8-byte fp — never a Window over the
    exploded text (that shape shuffles every chunk's text with no
    partial aggregation). 3 exchanges: the winner agg, the join-back,
    the doc regroup."""
    plan = _formatted(workload.q_chunk_dedup(spark, SF_DIR_ORACLE))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert plan.count("Exchange") == 6  # formatted prints each node twice


def test_cdc_chunk_dedup_shares_the_aggregated_plan_shape(spark):
    """cdc_chunk_dedup swaps the chunker (rolling-hash boundaries) but
    must keep chunk_dedup's decision plan: map-only chunking into the
    same aggregate-winner + fp join-back + doc regroup — same Exchange
    count, no Window, no Python."""
    plan = _formatted(workload.q_cdc_chunk_dedup(spark, SF_DIR_ORACLE))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 6  # formatted prints each node twice


def test_ccnet_buckets_broadcasts_cutoffs_no_global_sort(spark):
    """The per-language tercile cutoffs must reach the rows as a
    broadcast |langs|-row relation hash-joined on lang; bucket
    assignment is map-side — a rank/ntile window would single-partition
    each language's corpus."""
    df = workload.q_ccnet_buckets(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    _release_owned(df)
    assert "BroadcastHashJoin" in plan  # cutoffs join on lang
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_doc_chunks_is_map_only(spark):
    """Chunking must stay a pure map stage: scan -> generate -> project,
    no Exchange — a 100 TB corpus chunks without any shuffle."""
    plan = _formatted(_doc_chunks(spark, SF_DIR_ORACLE))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_anti_and_subquery_joins_broadcast(spark):
    """The distinct-key side of the anti join and the per-part aggregate
    of the Q17 shape are both small: they must broadcast, never sort-merge."""
    anti = _formatted(workload.q_idle_customers_anti(spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in anti and "LeftAnti" in anti
    assert "SortMergeJoin" not in anti
    q17 = _formatted(workload.q_small_quantity_revenue(spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in q17
    assert "SortMergeJoin" not in q17


def test_percentile_default_is_mergeable_sketch(spark):
    """functions.scalar.percentile_agg must default to the approx sketch
    (mergeable partial aggs) — the exact percentile buffers every value
    per group, an executor OOM for the single-group corpus quantile at
    100 TB. The workload queries opt into exact=True ONLY for DuckDB
    quantile_cont parity at oracle SF."""
    from my_feast_spark.functions.scalar import percentile_agg
    from my_feast_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    approx = _formatted(docs.agg(percentile_agg("n_chars", 0.99)))
    assert "percentile_approx" in approx
    exact = _formatted(docs.agg(percentile_agg("n_chars", 0.99, exact=True)))
    assert "percentile_approx" not in exact


def test_tfidf_df_build_side_is_pruned(spark):
    """The document-frequency relation spans the corpus vocabulary and
    must never be hint-forced onto the broadcast side: the plan has to
    show (a) the semi-join prune down to the scored subset's terms, and
    (b) the df join left to Catalyst/AQE size logic (broadcast here at
    small SF is fine — the point is no unconditional hint)."""
    plan = _formatted(workload.q_top_terms_tfidf(spark, SF_DIR_ORACLE))
    assert "LeftSemi" in plan  # df pruned to subset vocabulary


def test_avro_fallback_scan_shape(spark):
    """The pure-Python Avro path must keep the scale shape: the binaryFile
    scan reads ONLY the content column (no paths/lengths shipped through
    Python), the decode is one MapInPandas stage, and aggregation is
    partial before the single exchange."""
    plan = _formatted(workload.q_avro_scan(spark, SF_DIR_ORACLE))
    if "Scan binaryFile" not in plan:
        return  # native spark-avro took over: same downstream plan
    assert "ReadSchema: struct<content:binary>" in plan
    import re
    # one decode stage (the formatted output names each node twice:
    # once in the tree, once in the per-node detail section)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "partial_count" in plan and plan.count("Exchange") <= 2


def test_unpivot_is_expand_with_single_shuffle(spark):
    """unpivot lowers to Expand (rows x n_metrics, zero-shuffle); the only
    Exchange is the final 3-group aggregate."""
    plan = _formatted(workload.q_lineitem_unpivot(spark, SF_DIR_ORACLE))
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2  # agg shuffle (+ AQE read node)


def test_vocab_encode_join_broadcasts_vocabulary(spark):
    """The large-vocabulary encode must ship the vocabulary as a
    broadcast table — never a create_map literal in the expression tree
    (a 100k-entry literal explodes plan size/codegen), and never a
    shuffle join on the token key (hot tokens skew it)."""
    df = workload.q_vocab_encode_join(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the vocabulary must not appear as an expression-tree literal
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "keys: [" not in opt, "vocabulary leaked into a map literal"


def test_curation_pipeline_is_single_shuffle(spark):
    """Dedup-filter-sample-chunk composition must pay exactly one
    exchange (the fingerprint window); a keeper-set join-back would add
    a second corpus-sized shuffle and a join."""
    import re

    plan = _formatted(_curation_base(spark, SF_DIR_ORACLE))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "Join" not in plan


def test_text_queries_tokenize_once(spark):
    """The text tier's map-only queries must evaluate the regex
    tokenization exactly once per row: interpreted HOF lambdas
    re-evaluate outer trees per element, and without the shared
    projection / `let` binding these plans held up to ~16 split() calls
    (see functions/text.py::let)."""
    # vocab_encode_join's 2 = one per job side (vocab-build scan +
    # encode scan), the inherent minimum for a two-pass encode
    make_df = {
        name: fn
        for name, (fn, _sql) in {**workload.QUERIES,
                                 **workload.RETIRED_QUERIES}.items()
    }
    make_df.update(curation_pipeline=_curation_base,
                   length_bucket_batches=_length_bucket_batches,
                   corpus_vocab=_corpus_vocab,
                   bpe_pair_counts=_bpe_pair_counts)
    for name, expected in (("repetition_filter", 1), ("lang_id", 1),
                           ("quality_score", 1), ("curation_pipeline", 1),
                           ("packed_sequences", 1), ("mixture_temperature", 1),
                           ("length_bucket_batches", 1), ("corpus_vocab", 1),
                           ("bpe_pair_counts", 1), ("boilerplate_ngrams", 1),
                           ("gopher_quality_filter", 1),
                           # 2 = the pushed-down Pareto keep predicate +
                           # the survivor projection: the let-bound score
                           # is substituted into the filter as ONE split
                           # (without let, substitution inlined it 5x)
                           ("score_weighted_sample", 2),
                           ("vocab_encode_join", 2)):
        plan = (
            make_df[name](spark, SF_DIR_ORACLE)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert plan.count("split(") == expected, (
            f"{name}: {plan.count('split(')} tokenizations in plan "
            f"(expected {expected})"
        )


def test_curation_full_plan_has_no_cartesian_and_antijoins(spark):
    """The optional stages resolve eagerly into ONE materialized
    dropped-id relation; the returned plan must be the dedup window plus
    a single anti-join against it (checkpointed RDD scan) — never a pair
    blowup, and never a dependency on session-lifetime cached blocks
    (the pipeline unpersists everything before returning)."""
    df = workload.q_curation_pipeline_full(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") >= 1
    assert "Scan ExistingRDD" in plan  # drop ids are pinned, not re-derived
    assert "InMemoryTableScan" not in plan  # no cache dependency survives
    # exactly one corpus tokenization crosses the (single) dedup window
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1


def test_curate_releases_all_caches(spark):
    """curate() with optional stages on must leave ZERO DataFrame caches
    behind — repeated calls in a long-lived session (the bench runs the
    full pipeline several times) would otherwise accumulate
    corpus-sized cached blocks for the session lifetime. (The tiny
    dropped-id localCheckpoint is RDD-level pinning owned by the
    returned plan, not a cacheManager entry.)"""
    spark.catalog.clearCache()  # isolate from other tests' cached plans
    df = workload.q_curation_pipeline_full(spark, SF_DIR_ORACLE)
    df.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "curate left persisted DataFrames in the cacheManager"
    )


def test_global_shuffle_is_single_exchange(spark):
    """The shuffle layout must be ONE hash-exchange on the shard key
    plus an in-shard sort — never a global total-order sort (no
    rangepartitioning anywhere). (Formatted plans print each node twice:
    tree + detail section — count the numbered detail entries.)"""
    import re

    plan = _formatted(workload.q_global_shuffle(spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan.lower()


def test_column_profile_is_single_scan(spark):
    """The profiler reads the table ONCE regardless of column count:
    one FileScan, partial aggregates, one-row reduce."""
    import re

    plan = _formatted(workload.q_column_profile(spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_stratum_ksample_is_single_exchange(spark):
    """Fixed-size per-stratum sampling must rank inside ONE stratum
    hash-exchange — no global sort, no second shuffle."""
    import re

    plan = _formatted(workload.q_stratum_ksample(spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan.lower()


def test_scd2_single_exchange_shared_sort(spark):
    """The SCD2 interval build must pay ONE user_id exchange: the
    change-point lag() and the interval-closing lead() stack on the
    same (user_id, ts, event_id) sort order, so Catalyst reuses the
    Exchange (the second Window re-sorts at most the filtered rows)."""
    import re

    plan = _formatted(workload.q_scd2_user_state(spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan.lower()


def test_inverted_index_caps_before_collect(spark):
    """Posting arrays must be capped BEFORE collect_list materializes
    them: the row_number filter has to sit under the aggregate (visible
    as a Filter on the window column), and the df-count join stays
    broadcast (vocab-sized build side)."""
    plan = _formatted(workload.q_inverted_index(spark, SF_DIR_ORACLE))
    assert "row_number" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_pmi_broadcasts_count_tables(spark):
    """Both unigram-count joins and both grand-total joins must
    broadcast (vocab-sized / single-row build sides) — the pair-count
    relation is the only big side and must never shuffle for a join.
    The corpus is scanned exactly twice (unigram agg + pair agg); the
    totals and joins read the persisted vocab-sized count relations."""
    import re

    df = workload.q_token_pmi(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    try:
        assert plan.count("BroadcastHashJoin") >= 2
        assert plan.count("BroadcastNestedLoopJoin") >= 2  # single-row totals
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    finally:
        for c in df._owned_caches:
            c.unpersist()


def test_nb_score_broadcasts_the_llr_relation(spark):
    """The per-token log-likelihood-ratio join is the classifier's hot
    path over the full corpus token stream — its build side is
    vocab-sized and must broadcast, never shuffle the token stream for
    a sort-merge join."""
    df = workload.q_nb_quality_score(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    try:
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        for c in df._owned_caches:
            c.unpersist()


def test_ivfpq_single_encode_pass_and_broadcast_probes(spark):
    """IVFADC's plan contract: the (cell, codes) encode is ONE Arrow
    pass over the corpus (the implicit isnotnull(cell) join filter must
    NOT clone the UDF below the spread Exchange — the asNondeterministic
    fence in ivfpq_topk), and the probe plan joins broadcast, never
    shuffling the encoded corpus or falling back to a cartesian scan."""
    import re

    plan = _formatted(workload.q_ivfpq_topk(spark, SF_DIR_ORACLE))
    # each plan NODE appears twice in formatted output (tree + detail):
    # count distinct node ids, not substring hits
    nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(nodes) == 1, f"encode pass cloned: nodes {sorted(nodes)}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_single_corpus_assignment_pass(spark):
    """ivf_topk's plan contract: exactly TWO Arrow passes (corpus cell
    assignment + query probe assignment) — the cell join's implicit
    isnotnull must not clone the corpus pass below the spread Exchange
    (the asNondeterministic fence in similarity.ivf_topk._cell_udf)."""
    import re

    plan = _formatted(workload.q_ivf_topk(spark, SF_DIR_ORACLE))
    nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(nodes) == 2, f"expected 2 Arrow passes, got {sorted(nodes)}"


def test_normalize_text_is_map_only(spark):
    """Canonicalization is the first projection after the scan: pure
    translate/regexp expressions, no Exchange, no Python."""
    plan = _formatted(workload.q_normalize_text(spark, SF_DIR_ORACLE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_image_dedup_single_fingerprint_pass_no_cartesian(spark):
    """The perceptual-hash tier: ONE MapInPandas fingerprint pass, the
    pigeonhole chunk equi-join (never a cross join), and the hamming
    verify on 8-byte longs."""
    import re

    df = workload.q_image_dedup(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    _release_owned(df)
    assert len(re.findall(r"\((\d+)\) MapInPandas", plan)) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow  # all-query schema blanket (105s) — slow tier, see pytest.ini
def test_all_queries_return_scalar_only_schemas(spark):
    """The adjudication harness value-hashes SCALAR columns; array/map/
    struct results ship as deterministic strings or digests (repo
    convention — e.g. inverted_index renders postings as CSV, the
    packed-sequence query as an md5 digest). A composite type in a
    result schema is an untested compare path — render it instead."""
    for name, (fn, _sql) in workload.QUERIES.items():
        df = fn(spark, SF_DIR_ORACLE)
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema
            if any(t in f.dataType.simpleString()
                   for t in ("array", "map", "struct"))
        ]
        assert not bad, f"{name} returns composite columns: {bad}"
        _release_owned(df)


def test_url_domain_curation_plan_shape(spark):
    """The crawl front door must stay window-free: canonicalization is
    map-only, the blocklist is a broadcast anti-join, and the per-domain
    quota is the salted two-phase AGGREGATE top-n — a row_number window
    would serialize any hot domain into one task."""
    plan = _formatted(workload.q_url_domain_curation(spark, SF_DIR_ORACLE))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastHashJoin" in plan  # blocklist anti + kept-keys semi


def test_domain_pagerank_plan_shape(spark):
    """Fixed-point PageRank: per-round rank relations are checkpointed
    (ExistingRDD scans — lineage truncation), and nothing ever needs a
    global sort."""
    df = workload.q_domain_pagerank(spark, SF_DIR_ORACLE)
    plan = _formatted(df)
    from my_feast_spark.operators.graph import release_checkpoint

    for c in df._owned_checkpoints:
        release_checkpoint(c)
    assert "rangepartitioning" not in plan.lower()
    assert "Scan ExistingRDD" in plan


def test_multi_view_retrieval_windows_are_narrow(spark, tmp_path):
    """Multi-view retrieval (plans/retrieval.py): each view's PIT window
    must shuffle ONLY the narrow (row_id, keys, ts, tag, created,
    payload) relation — never another view's payload or the entity
    dataframe's own payload columns. A chained shape would re-shuffle
    view A's attached features through view B's window; the narrow-probe
    + join-back shape keeps every window input at probe-key width."""
    import datetime as dt

    from pyspark.sql import Row

    from my_feast_spark.core.model import Feature, FeatureView, FileSource
    from my_feast_spark.plans.retrieval import build_historical_retrieval

    TS = dt.datetime
    rows_a = [Row(user_id=i, ts=TS(2024, 1, 1, 10), fa=float(i))
              for i in range(20)]
    rows_b = [Row(user_id=i, ts=TS(2024, 1, 1, 11), fb=float(-i))
              for i in range(20)]
    spark.createDataFrame(rows_a).write.parquet(str(tmp_path / "a"))
    spark.createDataFrame(rows_b).write.parquet(str(tmp_path / "b"))
    views = {
        "va": FeatureView(
            name="va", entities=["user"], features=[Feature("fa", "DOUBLE")],
            source=FileSource(path=str(tmp_path / "a"), timestamp_field="ts"),
        ),
        "vb": FeatureView(
            name="vb", entities=["user"], features=[Feature("fb", "DOUBLE")],
            source=FileSource(path=str(tmp_path / "b"), timestamp_field="ts"),
        ),
    }
    ent = spark.createDataFrame([
        Row(user_id=i, event_timestamp=TS(2024, 1, 1, 12),
            entity_payload=f"p{i}")
        for i in range(20)
    ])
    out = build_historical_retrieval(
        spark, ent, views, {"user": ["user_id"]}, ["va:fa", "vb:fb"]
    )
    got = {r.user_id: (r.fa, r.fb, r.entity_payload) for r in out.collect()}
    assert got[3] == (3.0, -3.0, "p3")

    plan = _formatted(out)
    import re

    # every LOCF window's input must be exactly the narrow internal
    # column set — entity payloads and feature names never appear
    windows = re.findall(
        r"\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    payload_windows = 0
    allowed = {
        "user_id", "__mfs_ts", "__mfs_is_probe", "__mfs_created",
        "__mfs_probe_row_id", "__mfs_payload",
    }
    for inp in windows:
        cols = {c.strip().split("#")[0] for c in inp.split(",")}
        if "__mfs_payload" not in cols:
            continue  # unrelated window (none expected, but be precise)
        payload_windows += 1
        assert cols <= allowed, f"window shuffles wide columns: {cols}"
    assert payload_windows >= 2  # both views' windows were checked
    assert "entity_payload" not in " ".join(windows)
    _release_owned(out)


def test_auto_strategy_probes_once_per_view(spark, tmp_path, monkeypatch):
    """strategy="auto" on a multi-view retrieval: the key-distribution
    probe (asof_join._choose_strategy, one collected row per call) runs
    EXACTLY once per view — never per plan branch or per action. The
    probe side it scans is the localCheckpoint-pinned narrow base, so
    the V probes cost V column-pruned feature-table passes plus V reads
    of the pinned probe blocks (COVERAGE round-12 note has the measured
    overhead)."""
    import datetime as dt

    from pyspark.sql import Row

    import my_feast_spark.operators.asof_join as aj
    from my_feast_spark.core.model import Feature, FeatureView, FileSource
    from my_feast_spark.plans.retrieval import build_historical_retrieval

    TS = dt.datetime
    views = {}
    for tag in ("va", "vb", "vc"):
        rows = [Row(user_id=i, ts=TS(2024, 1, 1, 10), **{f"f_{tag}": 1.0})
                for i in range(10)]
        spark.createDataFrame(rows).write.parquet(str(tmp_path / tag))
        views[tag] = FeatureView(
            name=tag, entities=["user"],
            features=[Feature(f"f_{tag}", "DOUBLE")],
            source=FileSource(path=str(tmp_path / tag),
                              timestamp_field="ts"),
        )
    ent = spark.createDataFrame(
        [Row(user_id=i, event_timestamp=TS(2024, 1, 1, 12))
         for i in range(10)]
    )

    calls = []
    real = aj._choose_strategy

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(aj, "_choose_strategy", counting)
    out = build_historical_retrieval(
        spark, ent, views, {"user": ["user_id"]},
        ["va:f_va", "vb:f_vb", "vc:f_vc"], strategy="auto",
    )
    assert len(calls) == 3  # plan build: one probe per view
    assert out.count() == 10
    out.collect()
    assert len(calls) == 3  # actions never re-probe
    _release_owned(out)


def test_read_changes_plan_is_union_of_scans(spark, tmp_path):
    """The change feed's scale claim, plan-pinned: read_changes over a
    mixed append/upsert/delete chain is a UNION of increment scans —
    no join, no shuffle, no snapshot relation anywhere in the plan."""
    from pyspark.sql import functions as F

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(k, k) for k in range(4)], ["k", "v"]),
        path)
    V.write_version(spark.createDataFrame([(9, 9)], ["k", "v"]),
                    path, mode="append")
    V.upsert_version(spark.createDataFrame([(1, 11)], ["k", "v"]),
                     path, ["k"])
    V.delete_version(spark, path, F.col("k") == 2)

    ch = V.read_changes(spark, path, 0)
    plan = _formatted(ch)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Union" in plan, plan
    # and the v0 base directories are NOT inputs — only increments
    v0_dirs = set(V._read_manifest(
        *V._fs(spark, path), path, 0)["dirs"])
    read = {f for f in ch.inputFiles()}
    assert not any(any(d in f for d in v0_dirs) for f in read), (
        v0_dirs, read)
