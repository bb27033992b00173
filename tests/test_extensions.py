"""Tests for the training-data-pipeline extension operators.

The approximate operators (MinHash-LSH, SimHash, hyperplane-LSH ANN) have
no SQL oracle; here they are held against their exact counterparts:
recall/precision bounds that would catch a broken banding or hash scheme.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from my_feast_spark.functions.scalar import priority_collapse
from my_feast_spark.functions.text import doc_fingerprint, lang_id
from my_feast_spark.operators.dedup import (
    exact_dedup,
    jaccard_dup_pairs,
    minhash_lsh_dup_pairs,
    simhash_dup_pairs,
)
from my_feast_spark.operators.similarity import ann_lsh_topk, cosine_topk

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_finds_planted_copies(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="hello  world"),
        Row(doc_id=2, text="Hello world "),     # same after normalization
        Row(doc_id=3, text="something else"),
    ])
    out = {r.keeper_id: r.n_copies for r in exact_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_jaccard_pairs_on_real_docs(spark, docs):
    pairs = jaccard_dup_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    # the driver corpus plants 25 near-dup pairs (verified via DuckDB)
    assert len(pairs) == 25
    assert all(r.jaccard >= 0.9 for r in pairs)
    assert all(r.doc_a < r.doc_b for r in pairs)


def test_minhash_lsh_recall(spark, docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_dup_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_dup_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    # precision 1 by construction (exact verify); recall ~1 at j>=0.9
    assert approx <= exact
    assert len(approx) >= 0.9 * len(exact)


def test_simhash_pairs_detect_near_dups(spark, docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_dup_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    sim = {(r.doc_a, r.doc_b) for r in simhash_dup_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    # near-identical token multisets -> tiny hamming distance; most planted
    # pairs must surface, and hamming<=10 on 64 bits is a strong signal
    assert len(sim & exact) >= 0.6 * len(exact)


def test_cosine_topk_shape_and_selfexclusion(spark, emb):
    q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = cosine_topk(q, c, k=3).collect()
    assert len(out) == 15
    assert all(r.neighbor_id != r.query_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        sims = [r.sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_ann_lsh_recall_vs_exact(spark, emb):
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(q, c, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in ann_lsh_topk(q, c, k=5, num_planes=4, probe_radius=2).collect()}
    # labeled clusters -> same-bucket neighbors dominate; require material recall
    assert len(approx & exact) / len(exact) >= 0.6


def test_priority_collapse_matches_reference_udf(spark):
    df = spark.createDataFrame([
        Row(id=1, s=["no", "rain", "snow"]),
        Row(id=2, s=["rain", "no"]),
        Row(id=3, s=["no"]),
        Row(id=4, s=[]),
    ])
    out = {
        r.id: r.p
        for r in df.select(
            "id", priority_collapse(F.col("s"), ["snow", "rain"], "no").alias("p")
        ).collect()
    }
    assert out == {1: "snow", 2: "rain", 3: "no", 4: "no"}


def test_lang_id_priority_ties(spark):
    df = spark.createDataFrame([
        Row(id=1, text="the la der"),          # 1 en, 1 es(la)+1 fr(la)? -> en wins tie
        Row(id=2, text="xyzzy qwerty"),        # no hits -> und
        Row(id=3, text="el la de que y los"),  # es
    ])
    out = {r.id: r.l for r in df.select("id", lang_id(F.col("text")).alias("l")).collect()}
    assert out[2] == "und"
    assert out[3] == "es"
    assert out[1] == "en"


def test_doc_fingerprint_normalizes(spark):
    df = spark.createDataFrame([Row(a="Hello   World"), Row(a="hello world")])
    fps = [r.f for r in df.select(doc_fingerprint(F.col("a")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_embedding_dup_pairs_exact_vs_lsh_recall(spark, emb):
    from my_feast_spark.operators.similarity import embedding_dup_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh_df = embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, num_planes=4
    )
    lsh = {(r.id_a, r.id_b) for r in lsh_df.collect()}
    for c in lsh_df._owned_caches:
        c.unpersist()
    assert exact, "exact pass should find the >=0.4 pairs"
    # precision 1: every LSH pair is a true pair
    assert lsh <= exact
    # recall 1-(1-p^4)^8 with p=1-acos(0.4)/pi ≈ 0.75 at the 0.4 floor
    assert len(lsh) / len(exact) >= 0.5


def test_embedding_dup_pairs_lsh_releases_cleanly(spark, emb):
    """The LSH path persists the bucketed relation (embeddings exploded
    x num_tables) to serialize the pandas-UDF bucketing across the two
    self-join sides; it must hand that cache to the caller via
    _owned_caches so a materialize+release cycle leaves NO pinned
    blocks (r5 leaked it: every bench/pipeline call pinned another
    embeddings-x-L-sized block set for the session lifetime)."""
    from my_feast_spark.operators.similarity import embedding_dup_pairs

    def pinned():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    base = pinned()
    pairs = embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, num_planes=4
    )
    pairs.count()  # materialize: populates the bucket cache
    assert pairs._owned_caches, "LSH path must expose its persisted relation"
    assert pinned() - base, "materialize should have pinned the bucket cache"
    for c in pairs._owned_caches:
        c.unpersist(blocking=True)
    assert pinned() - base == set(), (
        "embedding_dup_pairs LSH left persisted blocks behind"
    )


def test_semdedup_keep_policy_vs_exact(spark, emb):
    """Every dropped doc must have a lower-id SAME-CELL neighbor at
    sim >= threshold (verified against the exact all-pairs relation
    restricted to the cell map); every kept doc must have none. Checks
    the keep policy and the blocking boundary together, and that the
    result covers every input row exactly once."""
    from my_feast_spark.operators.similarity import (
        embedding_dup_pairs,
        semdedup,
    )

    out_df = semdedup(emb, "vec_id", "embedding", num_cells=8, threshold=0.4)
    rows = out_df.collect()
    cells = {r.id: r.cell for r in rows}
    kept = {r.id for r in rows if r.keep}
    for c in out_df._owned_caches:
        c.unpersist()
    assert len(rows) == emb.count(), "one row per input doc"

    exact_pairs = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    same_cell = {(a, b) for a, b in exact_pairs if cells[a] == cells[b]}
    dominated = {b for _a, b in same_cell}
    assert set(cells) - kept == dominated
    # blocking is real: some docs survive because their duplicate sits
    # in another cell (otherwise this is just embedding_dup_pairs)
    assert any(cells[a] != cells[b] for a, b in exact_pairs - same_cell)


def test_semdedup_sample_cap_auto_raises_with_num_cells(spark, emb):
    """Asking for more cells than the sample could seed must not hand
    Lloyd fewer points than clusters: the cap auto-raises to
    num_cells * _MIN_SAMPLE_PER_CELL, so a tiny explicit sample_cap
    still trains (here the whole corpus ends up sampled) and the result
    stays a one-row-per-input, deterministic relation."""
    from my_feast_spark.operators.similarity import semdedup

    out = semdedup(
        emb, "vec_id", "embedding", num_cells=32, threshold=0.4, sample_cap=4
    )
    rows = sorted((r.id, r.cell, r.keep) for r in out.collect())
    for c in out._owned_caches:
        c.unpersist()
    assert len(rows) == emb.count()
    out2 = semdedup(
        emb, "vec_id", "embedding", num_cells=32, threshold=0.4, sample_cap=4
    )
    rows2 = sorted((r.id, r.cell, r.keep) for r in out2.collect())
    for c in out2._owned_caches:
        c.unpersist()
    assert rows == rows2


def test_ivf_topk_recall_vs_exact(spark, emb):
    from my_feast_spark.operators.similarity import cosine_topk, ivf_topk

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = {}
    for r in cosine_topk(q, c, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_topk(q, c, k=5, num_centroids=16, nprobe=6).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(
        len(exact[qid] & approx.get(qid, set())) for qid in exact
    ) / sum(len(v) for v in exact.values())
    assert recall >= 0.6  # nprobe=6/16 cells on unclustered vectors


def test_chunk_tokens_edges(spark):
    from pyspark.sql import functions as F

    from my_feast_spark.functions.text import chunk_tokens

    df = spark.createDataFrame(
        [(1, "one two three"),                    # shorter than size
         (2, " ".join(f"t{i}" for i in range(4))),  # exactly size
         (3, " ".join(f"t{i}" for i in range(9)))],  # size + stride*2 + 1
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.chunks
        for r in df.select(
            "doc_id", chunk_tokens(F.col("text"), size=4, stride=2).alias("chunks")
        ).collect()
    }
    # short doc: single chunk, all tokens, no redundant tail windows
    assert [(c.start, c.n_tokens) for c in out[1]] == [(0, 3)]
    assert out[1][0].chunk_text == "one two three"
    # exact-size doc: one window covers everything
    assert [(c.start, c.n_tokens) for c in out[2]] == [(0, 4)]
    # 9 tokens: starts step by stride until the window reaches the tail
    assert [c.start for c in out[3]] == [0, 2, 4, 6]
    assert out[3][-1].n_tokens == 3


def test_hash_sample_is_deterministic_and_unbiased(spark):
    from pyspark.sql import functions as F

    from my_feast_spark.functions.text import hash_sample

    df = spark.range(10_000)
    a = df.where(hash_sample(F.col("id"))).count()
    b = df.where(hash_sample(F.col("id"))).count()
    assert a == b  # pure function of the key
    # '1a' keeps 26/256 ~ 10.2%; binomial 3-sigma on 10k keys ~ +-0.9pp
    assert 0.07 < a / 10_000 < 0.14


def test_connected_components_golden(spark):
    """Chain + pair + triangle: components are transitive closures with
    min-id labels; vertices only ever appear via edges."""
    from pyspark.sql import Row

    from my_feast_spark.operators.graph import connected_components

    edges = spark.createDataFrame([
        Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),          # chain 1-2-3
        Row(id_a=10, id_b=11),                              # pair
        Row(id_a=20, id_b=21), Row(id_a=21, id_b=22),
        Row(id_a=20, id_b=22),                              # triangle
    ])
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 12-vertex path resolves in the driver union-find (or, past the
    driver bound, in diameter-free star rounds) — must converge (not hit
    max_iter) and label everything with vertex 0."""
    from pyspark.sql import Row

    from my_feast_spark.operators.graph import connected_components

    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(11)])
    rows = connected_components(edges).collect()
    assert len(rows) == 12
    assert {r.cluster_id for r in rows} == {0}


def test_contamination_report_semantics(spark):
    """Planted overlap: a train doc sharing a 4-gram with a bench doc is
    flagged with the right hit counts; disjoint docs are not."""
    from pyspark.sql import Row

    from my_feast_spark.operators.decontamination import contamination_report

    train = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="completely unrelated words only here now"),
        # shares a 4-gram with BOTH bench docs
        Row(doc_id=3, text="alpha beta gamma delta and quick brown fox jumps"),
    ])
    bench = spark.createDataFrame([
        Row(doc_id=100, text="we ask about the quick brown fox jumps today"),
        Row(doc_id=101, text="alpha beta gamma delta epsilon"),
    ])
    got = {
        r.doc_id: (r.n_hit_ngrams, r.n_bench_docs)
        for r in contamination_report(train, bench, "doc_id", "text", n=4).collect()
    }
    assert 2 not in got
    # doc 1: 'the quick brown fox' 'quick brown fox jumps' hit bench 100
    assert got[1] == (2, 1)
    # doc 3: 'alpha beta gamma delta' (bench 101) + 'quick brown fox jumps' (100)
    assert got[3] == (2, 2)
    # min_hits prunes the single-hit doc
    got2 = {
        r.doc_id
        for r in contamination_report(
            train, bench, "doc_id", "text", n=4, min_hits=2
        ).collect()
    }
    assert got2 == {1, 3}


def test_contamination_broadcasts_bench_side(spark):
    """The benchmark shingle set must be on the broadcast side — the
    corpus never shuffles on the (skewed) shingle key."""
    from my_feast_spark import workload

    df = workload.QUERIES["contamination_report"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_features_edges(spark):
    """Single-token doc: no 2-grams, top fraction 1. Fully repeated doc:
    everything duplicated."""
    from pyspark.sql import Row

    from my_feast_spark.functions.text import repetition_features

    df = spark.createDataFrame([
        Row(doc_id=1, text="solo"),
        Row(doc_id=2, text="spam spam spam spam"),
        Row(doc_id=3, text="all four tokens differ"),
    ])
    feats = repetition_features(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            feats["n_tokens"].alias("n_tokens"),
            feats["top_token_frac"].alias("top"),
            feats["dup_2gram_frac"].alias("dup2"),
        ).collect()
    }
    assert (rows[1].n_tokens, rows[1].top, rows[1].dup2) == (1, 1.0, 0.0)
    # 'spam spam' appears 3 times as a 2-gram: 2 of 3 are duplicates
    assert (rows[2].top, rows[2].dup2) == (1.0, round(2 / 3, 4))
    assert (rows[3].top, rows[3].dup2) == (0.25, 0.0)


def test_pii_redaction_order_and_counts(spark):
    """All three kinds count + redact; a numeric-host address is NOT an
    email (alphabetic TLD required) — its host redacts as an ip."""
    from pyspark.sql import Row

    from my_feast_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame([
        Row(id=1, text="mail bob@corp.example.com host 192.168.0.7 dial 555-123-4567"),
        Row(id=2, text="no pii at all in this row"),
        Row(id=3, text="numeric host user@10.0.0.1 stays partial"),
    ])
    counts = pii_counts(F.col("text"))
    got = {
        r.id: r
        for r in df.select(
            "id",
            counts["email"].alias("e"),
            counts["ipv4"].alias("i"),
            counts["phone"].alias("p"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (got[1].e, got[1].i, got[1].p) == (1, 1, 1)
    assert got[1].red == "mail [EMAIL] host [IPV4] dial [PHONE]"
    assert (got[2].e, got[2].i, got[2].p) == (0, 0, 0)
    assert got[2].red == "no pii at all in this row"
    assert (got[3].e, got[3].i) == (0, 1)
    assert got[3].red == "numeric host user@[IPV4] stays partial"


def test_stratified_sample_is_deterministic_nested_and_independent(spark):
    """Keep decisions are pure functions of (key, salt): re-runs agree,
    a lower rate selects a subset of a higher rate, and retuning one
    stratum never changes another stratum's selection."""
    from my_feast_spark.operators.sampling import stratified_sample

    df = (
        spark.range(4_000)
        .withColumn("stratum", F.when(F.col("id") % 2 == 0, "a").otherwise("b"))
    )

    def ids(rates):
        return {
            (r.id, r.stratum)
            for r in stratified_sample(df, "stratum", rates, "id").collect()
        }

    half = ids({"a": 0.5, "b": 0.5})
    assert half == ids({"a": 0.5, "b": 0.5})  # deterministic
    tenth = ids({"a": 0.1, "b": 0.1})
    assert tenth <= half  # nested: lower rate is a subset
    # binomial 3-sigma on 2k keys/stratum: 0.5 +- 0.034, 0.1 +- 0.02
    assert 0.45 < len(half) / 4_000 < 0.55
    assert 0.07 < len(tenth) / 4_000 < 0.13
    # stratum independence: changing b's rate leaves a's sample alone
    a_only = {t for t in ids({"a": 0.5, "b": 0.9}) if t[1] == "a"}
    assert a_only == {t for t in half if t[1] == "a"}
    # unmapped strata use default_rate=0.0
    assert ids({"a": 0.5}) == {t for t in half if t[1] == "a"}


def test_stratified_sample_salt_draws_independent_samples(spark):
    """Different salts give (near-)independent samples — the train/val
    split use case: overlap of two 50% draws is ~25%, not 50%."""
    from my_feast_spark.operators.sampling import sample_bucket

    df = spark.range(4_000)
    a = {r.id for r in df.where(sample_bucket(F.col("id"), salt="s1") < 500_000).collect()}
    b = {r.id for r in df.where(sample_bucket(F.col("id"), salt="s2") < 500_000).collect()}
    overlap = len(a & b) / 4_000
    assert 0.18 < overlap < 0.32


def test_blas_fast_path_matches_deterministic_math():
    """The production (deterministic=False) gemm paths must agree with
    the bit-deterministic reductions on real embeddings — divergence is
    only possible on exact ties, which random float vectors don't hit."""
    import numpy as np
    import pyarrow.parquet as pq

    from my_feast_spark.operators.similarity import (
        _hyperplanes,
        make_cell_assigner,
        make_lsh_bucketer,
        train_ivf_centroids,
    )

    t = pq.read_table(f"{SF}/embeddings.parquet", columns=["embedding"])
    V = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)

    centers = train_ivf_centroids(V[:512], 8)
    det = make_cell_assigner(centers, deterministic=True)(V, 3)
    fast = make_cell_assigner(centers, deterministic=False)(V, 3)
    assert (det == fast).all()

    planes = [_hyperplanes(V.shape[1], 4, seed=42 + i) for i in range(4)]
    det_b = make_lsh_bucketer(planes, deterministic=True)(V)
    fast_b = make_lsh_bucketer(planes, deterministic=False)(V)
    assert (det_b == fast_b).all()


def test_ivf_topk_blas_query_runs(spark):
    from my_feast_spark import workload

    det = workload.q_ivf_topk(spark, SF).collect()
    fast = workload.q_ivf_topk(spark, SF, deterministic=False).collect()
    assert sorted(map(tuple, det)) == sorted(map(tuple, fast))


def test_minhash_numpy_signature_path_matches_xxhash64_pairs(spark, docs):
    """The two MinHash families ("xxhash64", the Arrow splitmix64
    fan-out, and "portable", the Carter-Wegman family) have different
    bit patterns but the same LSH quality: on the planted near-dup
    corpus (jaccard >= 0.9, capture probability ~1) both must find
    exactly the same 25 pairs — the exact-Jaccard verify keeps
    precision 1 in both."""
    a = {(r.doc_a, r.doc_b) for r in minhash_lsh_dup_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, hash_fn="xxhash64").collect()}
    b = {(r.doc_a, r.doc_b) for r in minhash_lsh_dup_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, hash_fn="portable").collect()}
    assert a == b and len(a) == 25

    # any other family name is loud, for MinHash and SimHash alike
    from my_feast_spark.operators.dedup import minhash_signatures, simhash

    for bad in ("sha1", "numpy", "xxhash64_expr"):
        with pytest.raises(ValueError, match="unknown hash_fn"):
            minhash_signatures(docs, "doc_id", "text", hash_fn=bad).collect()
        with pytest.raises(ValueError, match="unknown hash_fn"):
            simhash(docs, "doc_id", "text", hash_fn=bad).collect()


def test_minhash_signature_array_matches_column_view(spark, docs):
    """The array-native core (r16: internal consumers band via
    element_at on ONE array column) must be element-for-element
    bit-identical to the public mh_i column view, for every hash
    family — the streaming index stores these arrays, so a divergence
    would silently break index resume."""
    from my_feast_spark.operators.dedup import (
        minhash_signature_array,
        minhash_signatures,
    )

    for fam in ("xxhash64", "portable"):
        arr = {
            r.doc: tuple(r.__getitem__("__sig"))
            for r in minhash_signature_array(
                docs, "doc_id", "text", n=3, num_hashes=8, hash_fn=fam
            ).collect()
        }
        cols = {
            r.doc: tuple(r[f"mh_{i}"] for i in range(8))
            for r in minhash_signatures(
                docs, "doc_id", "text", n=3, num_hashes=8, hash_fn=fam
            ).collect()
        }
        assert arr == cols, f"family {fam} diverged"


def test_simhash_numpy_fingerprints_bit_identical_to_xxhash64(spark, docs):
    """The map-only Arrow SimHash (the "xxhash64" family) uses the same
    token hash and majority rule as the explode+aggregate shape over
    xxhash64 token hashes — fingerprints must be bit-identical, not
    just similar."""
    from my_feast_spark.operators.dedup import _simhash_aggregate, simhash

    a = {r.doc: r.simhash for r in simhash(docs, "doc_id", "text", hash_fn="xxhash64").collect()}
    b = {r.doc: r.simhash for r in _simhash_aggregate(
        docs, "doc_id", "text", 64, F.xxhash64).collect()}
    assert a == b


def test_text_functions_on_degenerate_inputs(spark):
    """Empty and whitespace-only documents must not divide by zero or
    emit nulls anywhere in the text tier (split of '' yields [''], so
    n_tokens >= 1 by construction — pinned here)."""
    from my_feast_spark.functions.text import (
        chunk_count, chunk_tokens, quality_features, repetition_features,
    )

    df = spark.createDataFrame([
        Row(i=1, text=""), Row(i=2, text="   "), Row(i=3, text="x"),
    ])
    q = quality_features(F.col("text"))
    r = repetition_features(F.col("text"))
    out = df.select(
        "i",
        q["n_tokens"].alias("qn"),
        q["lexical_diversity"].alias("div"),
        q["stopword_ratio"].alias("stop"),
        r["top_token_frac"].alias("top"),
        r["dup_2gram_frac"].alias("dup"),
        F.size(chunk_tokens(F.col("text"))).alias("nc"),
        chunk_count(F.split(F.trim(F.col("text")), r"\s+")).alias("cc"),
    ).collect()
    for row in out:
        assert row.qn == 1 and row.nc == 1 and row.cc == 1, row
        assert row.dup == 0.0 and row.top == 1.0, row
        assert None not in tuple(row), row


def test_vocab_encode_variants_produce_identical_encodings(spark):
    # the map-literal (small-vocab) and broadcast-join (large-vocab)
    # strategies are the SAME encoding — every doc's digest must agree
    from my_feast_spark import workload

    lit = workload.q_vocab_encode(spark, SF).collect()
    join = workload.q_vocab_encode_join(spark, SF).collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, join))


def test_packed_sequences_consistent_with_accounting(spark):
    # the packed-output query must describe the same layout as the
    # accounting query: identical (shard, pack) chunk/token counts
    from my_feast_spark import workload

    acct = {
        (r.shard, r.pack_id): (r.n_chunks, r.n_tokens)
        for r in workload.q_sequence_packing(spark, SF).collect()
    }
    packed = {
        (r.shard, r.pack_id): (r.n_chunks, r.n_tokens)
        for r in workload.q_packed_sequences(spark, SF).collect()
    }
    assert packed == acct


def test_shuffle_layout_is_dense_deterministic_and_salt_independent(spark, docs):
    from my_feast_spark.operators.sampling import shuffle_layout

    a = shuffle_layout(docs, "doc_id", n_shards=4, salt="e0")
    rows = a.select("doc_id", "shard_id", "shard_pos").collect()
    assert len(rows) == docs.count()
    # positions are dense 0..n-1 within every shard
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.shard_pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} not dense"
    # pure function of the key: a re-run gives the identical layout
    again = {
        (r.doc_id): (r.shard_id, r.shard_pos)
        for r in shuffle_layout(docs, "doc_id", n_shards=4, salt="e0")
        .select("doc_id", "shard_id", "shard_pos").collect()
    }
    assert all((r.doc_id) in again and again[r.doc_id] == (r.shard_id, r.shard_pos)
               for r in rows)
    # a different salt draws a genuinely different permutation
    other = {
        r.doc_id: (r.shard_id, r.shard_pos)
        for r in shuffle_layout(docs, "doc_id", n_shards=4, salt="e1")
        .select("doc_id", "shard_id", "shard_pos").collect()
    }
    assert any(other[r.doc_id] != (r.shard_id, r.shard_pos) for r in rows)


def test_shuffle_layout_rejects_bad_shard_count(spark, docs):
    from my_feast_spark.operators.sampling import shuffle_layout

    with pytest.raises(ValueError, match="n_shards"):
        shuffle_layout(docs, "doc_id", n_shards=0)


def test_column_profile_counts_and_validation(spark):
    from my_feast_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=1, b=None), Row(a=2, b="y")]
    )
    out = {r["column"]: r for r in column_profile(df, exact=True).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].n_rows == 3 and out["a"].n_nulls == 0 and out["a"].n_distinct == 2
    assert out["b"].n_nulls == 1 and out["b"].n_distinct == 2
    # approx default still returns a row per column with exact null counts
    approx = {r["column"]: r for r in column_profile(df).collect()}
    assert approx["b"].n_nulls == 1
    with pytest.raises(ValueError, match="not in DataFrame"):
        column_profile(df, ["a", "nope"])
    # names with spaces/quotes must not be parsed as SQL
    weird = spark.createDataFrame([Row(**{"weird name": 1, "q'uote": 2})])
    assert {r["column"] for r in column_profile(weird, exact=True).collect()} \
        == {"weird name", "q'uote"}


def test_ksample_per_stratum_exact_counts_and_prefix_stability(spark, docs):
    from my_feast_spark.operators.sampling import ksample_per_stratum

    k5 = ksample_per_stratum(docs, "lang", "doc_id", 5)
    counts = {r.lang: r.n for r in k5.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(5, full[lang]), (lang, n, full[lang])
    # prefix-stable: the k=5 sample is a subset of the k=10 sample
    ids5 = {(r.lang, r.doc_id) for r in k5.select("lang", "doc_id").collect()}
    ids10 = {(r.lang, r.doc_id) for r in
             ksample_per_stratum(docs, "lang", "doc_id", 10)
             .select("lang", "doc_id").collect()}
    assert ids5 <= ids10
    with pytest.raises(ValueError, match="k must be"):
        ksample_per_stratum(docs, "lang", "doc_id", 0)


def test_profile_drift_detects_injected_nulls(spark):
    from my_feast_spark.operators.profile import profile_drift

    a = spark.createDataFrame([Row(x=i, y="v") for i in range(10)])
    b = spark.createDataFrame(
        [Row(x=i, y=None if i % 2 == 0 else "v") for i in range(10)]
    )
    out = {r["column"]: r for r in profile_drift(a, b, exact=True).collect()}
    assert out["y"].null_frac_a == 0.0 and out["y"].null_frac_b == 0.5
    assert out["y"].null_frac_delta == 0.5
    assert out["x"].n_distinct_delta == 0


def test_shuffle_layout_composes_with_partitioned_shard_write(spark, docs, tmp_path):
    """The training-order layout lands as ONE partitioned write: each
    shard directory holds a contiguous, densely-numbered slice of the
    corpus — the file bundles an epoch-ordered loader streams in turn."""
    from my_feast_spark.operators.sampling import shuffle_layout
    from my_feast_spark.sources.writers import write_partitioned

    laid = shuffle_layout(docs.select("doc_id"), "doc_id", n_shards=4)
    write_partitioned(laid, str(tmp_path / "shards"), ["shard_id"])
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert sorted(r.shard_id for r in back.select("shard_id").distinct().collect()) \
        == [0, 1, 2, 3]
    assert back.count() == docs.count()
    # every shard's positions survive the round-trip dense
    for r in back.groupBy("shard_id").agg(
        F.min("shard_pos").alias("lo"), F.max("shard_pos").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect():
        assert r.lo == 0 and r.hi == r.n - 1


class TestLshRecallReport:
    def test_report_on_documents(self, spark):
        from my_feast_spark.operators.dedup_eval import lsh_recall_report
        from my_feast_spark.sources.readers import load_table
        from tests.conftest import SF_DIR_ORACLE

        docs = load_table(spark, SF_DIR_ORACLE, "documents")
        rep = lsh_recall_report(
            docs, "doc_id", "text", sample_rate=0.5, hash_fn="portable",
        )
        row = rep.collect()[0]
        assert 0 < row.sample_docs < 500
        assert row.truth_pairs > 0, "sample should contain dup pairs"
        # LSH verifies candidates with exact Jaccard: precision is 1
        assert row.lsh_pairs == row.matched and row.precision == 1.0
        # synthetic dups are near-identical -> capture prob ~1
        assert row.recall is not None and row.recall >= 0.9
        assert rep._owned_caches  # generators' caches handed to caller
        for c in rep._owned_caches:
            c.unpersist()

    def test_paired_sampling_is_deterministic(self, spark):
        from my_feast_spark.operators.dedup_eval import lsh_recall_report
        from my_feast_spark.sources.readers import load_table
        from tests.conftest import SF_DIR_ORACLE

        docs = load_table(spark, SF_DIR_ORACLE, "documents")
        ra = lsh_recall_report(docs, "doc_id", "text", sample_rate=0.3,
                               hash_fn="portable")
        rb = lsh_recall_report(docs, "doc_id", "text", sample_rate=0.3,
                               hash_fn="portable")
        a, b = ra.collect()[0], rb.collect()[0]
        assert a.asDict() == b.asDict()
        for rep in (ra, rb):
            for c in rep._owned_caches:
                c.unpersist()


def test_semdedup_distributed_fit_keeps_the_policy(spark, emb):
    """fit="distributed" (pyspark.ml KMeans over the full relation — the
    50k-cell escape hatch) must preserve semdedup's contract: one row
    per input, a valid cell partition, and the keep policy exact within
    the distributed fit's own cells (every dropped doc has a lower-id
    same-cell neighbor at sim >= threshold; every kept doc has none)."""
    from my_feast_spark.operators.similarity import (
        embedding_dup_pairs,
        semdedup,
    )

    out_df = semdedup(
        emb, "vec_id", "embedding", num_cells=8, threshold=0.4,
        fit="distributed",
    )
    rows = out_df.collect()
    cells = {r.id: r.cell for r in rows}
    kept = {r.id for r in rows if r.keep}
    for c in out_df._owned_caches:
        c.unpersist()
    assert len(rows) == emb.count()
    assert set(cells.values()) <= set(range(8))

    exact_pairs = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    same_cell = {(a, b) for a, b in exact_pairs if cells[a] == cells[b]}
    dominated = {b for _a, b in same_cell}
    assert set(cells) - kept == dominated


def test_cosine_topk_numpy_matches_expr(spark, emb):
    """The gemm fast path must return the SAME ranking as the
    expression fold (both round sims before ranking) — per-batch local
    top-k is lossless because global top-k distributes over partition
    unions."""
    from my_feast_spark.operators.similarity import cosine_topk

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    expr = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in cosine_topk(q, c, k=5).collect()
    }
    fast = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in cosine_topk(q, c, k=5, impl="numpy").collect()
    }
    assert set(expr) == set(fast)
    for key, (nid, sim) in expr.items():
        fnid, fsim = fast[key]
        assert fnid == nid, key
        assert fsim == pytest.approx(sim, abs=2e-6), key


def test_cosine_topk_numpy_empty_queries(spark, emb):
    from my_feast_spark.operators.similarity import cosine_topk

    q = emb.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = cosine_topk(q, c, k=5, impl="numpy")
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]


def test_score_weighted_sample_pareto_rule(spark):
    """The deterministic GPT-3 keep rule: keep probability (2-s)^-alpha
    — score 1.0 keeps (almost) surely, score 0.0 keeps ~2^-alpha; the
    decision is a pure function of (key, salt) so re-runs select the
    same rows, and measured keep rates track the analytic curve."""
    from my_feast_spark.operators.sampling import score_weighted_sample

    n = 4000
    rows = [(i, (i % 3) * 0.5) for i in range(n)]  # scores 0.0/0.5/1.0
    df = spark.createDataFrame(rows, "doc_id long, score double")
    kept = score_weighted_sample(df, "score", "doc_id", alpha=9.0)
    got = {r.doc_id for r in kept.collect()}
    again = {
        r.doc_id
        for r in score_weighted_sample(
            df, "score", "doc_id", alpha=9.0
        ).collect()
    }
    assert got == again, "must be a pure function of (key, salt)"

    by_score = {0.0: 0, 0.5: 0, 1.0: 0}
    for i in got:
        by_score[(i % 3) * 0.5] += 1
    totals = {0.0: 0, 0.5: 0, 1.0: 0}
    for i in range(n):
        totals[(i % 3) * 0.5] += 1
    # analytic keep rates: 2^-9 ~ 0.002, 1.5^-9 ~ 0.026, 1.0 -> 1.0
    assert by_score[1.0] == totals[1.0], "score 1.0 must always keep"
    assert by_score[0.5] / totals[0.5] == pytest.approx(1.5 ** -9, abs=0.02)
    assert by_score[0.0] / totals[0.0] == pytest.approx(2.0 ** -9, abs=0.01)
    # independent draw under a different salt
    other = {
        r.doc_id
        for r in score_weighted_sample(
            df, "score", "doc_id", alpha=9.0, salt="other"
        ).collect()
    }
    assert other != got


def test_cosine_topk_numpy_tie_break_matches_contract(spark):
    """Rounded sims tie OFTEN (not just float noise): with identical
    vectors, the gemm path must still return the smallest neighbor ids
    — per-batch selection must apply the (sim desc, id asc) contract,
    not pick an arbitrary tied subset."""
    from pyspark.sql import Row

    from my_feast_spark.operators.similarity import cosine_topk

    v = [1.0, 0.5, -0.25, 0.75]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i in range(40)]
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding")
    for impl in ("expr", "numpy"):
        got = [
            r.neighbor_id
            for r in cosine_topk(q, c, k=5, impl=impl)
            .orderBy("rank").collect()
        ]
        assert got == [1, 2, 3, 4, 5], (impl, got)


def test_score_weighted_sample_replays_in_duckdb(spark, docs):
    """Promotion-readiness: the Pareto keep rule is fully replayable in
    DuckDB (portable md5 hash family + double arithmetic) — the same
    keep set must come out of both engines over the real documents
    table (score = a deterministic per-doc pseudo-score)."""
    import duckdb

    from my_feast_spark.operators.sampling import score_weighted_sample

    scored = docs.select(
        "doc_id",
        (F.pmod(F.col("doc_id") * 37, F.lit(100)) / 100.0).alias("score"),
    )
    got = {
        r.doc_id
        for r in score_weighted_sample(scored, "score", "doc_id").collect()
    }

    ddb = duckdb.connect()
    ddb.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    want = {
        row[0]
        for row in ddb.sql("""
WITH s AS (
  SELECT doc_id, (doc_id * 37 % 100) / 100.0 AS score FROM documents
)
SELECT doc_id FROM s
WHERE (CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':pareto')
             & 9223372036854775807) % 1000000 AS BIGINT) / 1000000.0)
      < pow(2.0 - least(greatest(score, 0.0), 1.0), -9.0)
""").fetchall()
    }
    assert got == want


def test_simhash_null_text_drops_doc_in_every_family(spark):
    """A NULL text row must be DROPPED in every hash family and in the
    explode+aggregate shape — the Arrow default must not crash the job
    on it."""
    from my_feast_spark.operators.dedup import _simhash_aggregate, simhash

    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"),
         Row(doc_id=2, text=None)],
        schema="doc_id long, text string",
    )
    for fam in ("xxhash64", "portable"):
        got = {r.doc for r in simhash(df, "doc_id", "text",
                                      hash_fn=fam).collect()}
        assert got == {1}, fam
    got = {r.doc for r in _simhash_aggregate(
        df, "doc_id", "text", 64, F.xxhash64).collect()}
    assert got == {1}
