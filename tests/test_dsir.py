"""DSIR importance resampling — weights vs a pure-Python reference,
Gumbel top-k determinism/proportionality, cache hygiene, plan shape.

Oracle strategy: the hashed-gram bag models and importance weights are
replayed exactly in pure Python (hashlib.md5 is the same portable hash
family Spark computes), including bucket collisions at a deliberately
tiny ``num_buckets``; the resample draw is replayed from the same
hash-derived Gumbel noise.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from my_feast_spark.operators.dsir import (
    dsir_logweights,
    dsir_resample,
    fit_dsir,
    hashed_gram_buckets,
)

B = 64  # tiny on purpose: forces bucket collisions and default_lr use
K = 0.5

TARGET = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "clean prose reads well and the words flow"),
    (2, "the fox and the dog are friends"),
]
RAW = [
    (10, "buy now spam offer buy now limited"),
    (11, "the quick brown fox is quick"),
    (12, "spam spam spam buy"),
    (13, ""),
    (14, "   "),
    (15, None),
    (16, "singleton"),
    (17, "numbers 123 and punctuation!?"),
]


def _py_bucket(gram: str, num_buckets: int = B) -> int:
    h = int.from_bytes(
        hashlib.md5(gram.encode("utf-8")).digest()[8:16], "little"
    )
    return (h & ((1 << 63) - 1)) % num_buckets


def _py_grams(text):
    if text is None:
        return []
    toks = text.lower().split()
    return [_py_bucket(w) for w in toks] + [
        _py_bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])
    ]


def _py_model(target_rows, raw_rows, k=K, num_buckets=B):
    from collections import Counter

    tc, rc = Counter(), Counter()
    for _id, text in target_rows:
        tc.update(_py_grams(text))
    for _id, text in raw_rows:
        rc.update(_py_grams(text))
    den_t = sum(tc.values()) + k * num_buckets
    den_r = sum(rc.values()) + k * num_buckets
    lr = {
        b: math.log2((tc[b] + k) / den_t) - math.log2((rc[b] + k) / den_r)
        for b in set(tc) | set(rc)
    }
    default = math.log2(k / den_t) - math.log2(k / den_r)
    return lr, default


@pytest.fixture()
def corpora(spark):
    t = spark.createDataFrame(TARGET, "doc_id long, text string")
    r = spark.createDataFrame(RAW, "doc_id long, text string")
    return t, r


def _release(model):
    for c in model.ratio._owned_caches:
        c.unpersist(blocking=True)


def test_gram_buckets_match_pure_python(spark):
    df = spark.createDataFrame(TARGET + RAW, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", hashed_gram_buckets("text", B).alias("g")
        ).collect()
    }
    for doc_id, text in TARGET + RAW:
        want = _py_grams(text)
        assert got[doc_id] == want or (got[doc_id] is None and not want), (
            doc_id,
            text,
            got[doc_id],
            want,
        )


def test_logweights_match_pure_python(spark, corpora):
    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    lr, default = _py_model(TARGET, RAW)
    assert abs(model.default_lr - default) < 1e-12
    got = {
        row["doc_id"]: (row["logw"], row["n_grams"])
        for row in dsir_logweights(r, "doc_id", "text", model).collect()
    }
    _release(model)
    assert set(got) == {i for i, _ in RAW}
    for doc_id, text in RAW:
        grams = _py_grams(text)
        want = sum(lr.get(b, default) for b in grams)
        logw, n_grams = got[doc_id]
        assert n_grams == len(grams), (doc_id, n_grams, len(grams))
        assert abs(logw - want) < 1e-6, (doc_id, logw, want)
    # gram-less docs (empty / whitespace / NULL) weigh exactly zero
    for doc_id in (13, 14, 15):
        assert got[doc_id] == (0.0, 0)


def test_fit_rejects_tokenless_corpus(spark, corpora):
    t, _ = corpora
    empty = spark.createDataFrame([(0, ""), (1, None)], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one token"):
        fit_dsir(t, empty, num_buckets=B)
    with pytest.raises(ValueError, match="at least one token"):
        fit_dsir(empty, t, num_buckets=B)


def test_fit_releases_cleanly(spark, corpora):
    def pinned():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    t, r = corpora
    base = pinned()
    model = fit_dsir(t, r, num_buckets=B, k=K)
    dsir_logweights(r, "doc_id", "text", model).count()
    _release(model)
    assert pinned() - base == set(), "fit_dsir leaked its count cache"
    # the validation-failure path must not leak either
    empty = spark.createDataFrame([(0, "")], "doc_id long, text string")
    with pytest.raises(ValueError):
        fit_dsir(t, empty, num_buckets=B)
    assert pinned() - base == set(), "fit_dsir leaked on the error path"


def test_resample_deterministic_and_proportional(spark, corpora):
    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    w = dsir_logweights(r, "doc_id", "text", model)

    def draw(salt="dsir", n=3, frame=w):
        return sorted(
            row["doc_id"]
            for row in dsir_resample(frame, "doc_id", n, salt=salt).collect()
        )

    first = draw()
    assert len(first) == 3
    assert first == draw(), "same salt must reproduce the same draw"
    # an overwhelming weight is always selected: Gumbel noise spans a
    # few units, +1000 log2 dominates any realization
    boosted = w.withColumn(
        "logw",
        F.when(F.col("doc_id") == 12, F.col("logw") + 1000).otherwise(
            F.col("logw")
        ),
    )
    assert 12 in set(draw(frame=boosted))
    _release(model)


def test_resample_replays_from_the_hash_noise(spark, corpora):
    """The draw is exactly top-n of logw + gumbel(md5(key:salt)) — replay
    it in pure Python from the collected weights."""
    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    w = dsir_logweights(r, "doc_id", "text", model)
    rows = {row["doc_id"]: row["logw"] for row in w.collect()}
    RES = 1_000_000

    def py_key(doc_id, logw, salt="dsir"):
        h = int.from_bytes(
            hashlib.md5(f"{doc_id}:{salt}".encode()).digest()[8:16], "little"
        )
        u = ((h & ((1 << 63) - 1)) % RES + 0.5) / RES
        return logw + (-math.log(-math.log(u)) / math.log(2.0))

    want = sorted(
        sorted(rows, key=lambda d: (-py_key(d, rows[d]), d))[:3]
    )
    got = sorted(
        row["doc_id"]
        for row in dsir_resample(w, "doc_id", 3).collect()
    )
    _release(model)
    assert got == want


def test_plan_shape(spark, corpora):
    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    w = dsir_logweights(r, "doc_id", "text", model)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "ratio relation must broadcast"
    assert "Python" not in plan, "weighing must stay JVM-side"
    topk = dsir_resample(w, "doc_id", 2)
    tplan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in tplan, "resample must be a top-k, not a sort"
    _release(model)


def test_weights_match_reference_on_random_corpus(spark):
    """Seeded randomized corpora (repo property-test convention): heavy
    duplication for bucket collisions at tiny B, unicode, punctuation
    runs, multi-space — weights must replay exactly from the hashlib
    reference for every doc."""
    import random

    rng = random.Random(8)
    vocab = ["spark", "row", "scan", "agg", "the", "a", "naïve", "x!?", "1"]

    def doc():
        n = rng.randrange(0, 40)
        sep = "  " if rng.random() < 0.2 else " "
        return sep.join(rng.choice(vocab) for _ in range(n))

    target_rows = [(i, doc()) for i in range(60)]
    raw_rows = [(1000 + i, doc()) for i in range(90)]
    t = spark.createDataFrame(target_rows, "doc_id long, text string")
    r = spark.createDataFrame(raw_rows, "doc_id long, text string")
    model = fit_dsir(t, r, num_buckets=B, k=K)
    lr, default = _py_model(target_rows, raw_rows)
    got = {
        row["doc_id"]: (row["logw"], row["n_grams"])
        for row in dsir_logweights(r, "doc_id", "text", model).collect()
    }
    _release(model)
    for doc_id, text in raw_rows:
        grams = _py_grams(text)
        logw, n_grams = got[doc_id]
        assert n_grams == len(grams)
        assert abs(logw - sum(lr.get(b, default) for b in grams)) < 1e-6


def test_model_round_trip(spark, corpora, tmp_path):
    """write/read preserves ratios + scalars: weights computed from the
    reloaded model are identical (not just close — same rounded sums
    over the same double ratios)."""
    from my_feast_spark.operators.dsir import read_dsir_model, write_dsir_model

    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    want = {
        row["doc_id"]: (row["logw"], row["n_grams"])
        for row in dsir_logweights(r, "doc_id", "text", model).collect()
    }
    write_dsir_model(model, str(tmp_path / "dsir"))
    _release(model)
    loaded = read_dsir_model(spark, str(tmp_path / "dsir"))
    assert loaded.num_buckets == B and loaded.k == K
    assert abs(loaded.default_lr - model.default_lr) < 1e-15
    got = {
        row["doc_id"]: (row["logw"], row["n_grams"])
        for row in dsir_logweights(r, "doc_id", "text", loaded).collect()
    }
    assert got == want


def test_on_documents_table(spark, sf_dir):
    """End-to-end on the driver corpus: even doc_ids play 'target', odd
    play 'raw'; the selected set is deterministic and weight-ordered
    modulo the Gumbel noise."""
    from my_feast_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 2 == 0)
    raw = docs.filter(F.col("doc_id") % 2 == 1)
    model = fit_dsir(target, raw, num_buckets=1024, k=K)
    w = dsir_logweights(raw, "doc_id", "text", model)
    picked = dsir_resample(w, "doc_id", 25)
    ids = [row["doc_id"] for row in picked.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == 25
    assert all(i % 2 == 1 for i in ids)
    again = [
        row["doc_id"]
        for row in dsir_resample(w, "doc_id", 25).select("doc_id").collect()
    ]
    assert sorted(ids) == sorted(again)
    _release(model)


def test_xxhash64_family_end_to_end(spark, corpora):
    """The scale-path hash family: fit/weigh/select work end-to-end,
    the model carries its family (scoring automatically matches the
    fit), and persistence round-trips it."""
    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K, hash_fn="xxhash64")
    assert model.hash_fn == "xxhash64"
    w = dsir_logweights(r, "doc_id", "text", model)
    got = {row["doc_id"] for row in dsir_resample(w, "doc_id", 4).collect()}
    got2 = {row["doc_id"] for row in dsir_resample(w, "doc_id", 4).collect()}
    _release(model)
    assert len(got) == 4 and got == got2
    import pytest

    with pytest.raises(ValueError):
        fit_dsir(t, r, num_buckets=B, hash_fn="sha1")


def test_hash_family_round_trips_through_persistence(spark, corpora,
                                                     tmp_path):
    from my_feast_spark.operators.dsir import read_dsir_model, write_dsir_model

    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K, hash_fn="xxhash64")
    write_dsir_model(model, str(tmp_path / "m"))
    _release(model)
    loaded = read_dsir_model(spark, str(tmp_path / "m"))
    assert loaded.hash_fn == "xxhash64"


def test_shared_gram_events_path_is_bit_identical(spark, corpora):
    """The compute-once hook: one dsir_gram_events relation shared by
    both fit count tables and the weigh pass must reproduce the direct
    path bit-for-bit (model scalars, ratio rows, weights, and the
    resampled set)."""
    from my_feast_spark.operators.dsir import dsir_gram_events

    t, r = corpora
    direct_model = fit_dsir(t, r, num_buckets=B, k=K)
    direct = sorted(
        (row["doc_id"], row["logw"], row["n_grams"])
        for row in dsir_logweights(r, "doc_id", "text", direct_model).collect()
    )
    direct_ratio = sorted(
        (row["bucket"], row["lr"])
        for row in direct_model.ratio.collect()
    )
    _release(direct_model)

    ev_t = dsir_gram_events(t, "doc_id", "text", B).persist()
    ev_r = dsir_gram_events(r, "doc_id", "text", B).persist()
    try:
        shared_model = fit_dsir(
            None, None, num_buckets=B, k=K,
            target_events=ev_t, raw_events=ev_r,
        )
        shared = sorted(
            (row["doc_id"], row["logw"], row["n_grams"])
            for row in dsir_logweights(
                r, "doc_id", None, shared_model, events_df=ev_r
            ).collect()
        )
        shared_ratio = sorted(
            (row["bucket"], row["lr"])
            for row in shared_model.ratio.collect()
        )
        assert shared_model.default_lr == direct_model.default_lr
        assert shared_ratio == direct_ratio
        assert shared == direct
        # the resampled SET must match too (same weights + same noise)
        d_sel = dsir_resample(
            dsir_logweights(r, "doc_id", None, shared_model,
                            events_df=ev_r),
            "doc_id", 3,
        ).select("doc_id").collect()
        _release(shared_model)
    finally:
        ev_t.unpersist(blocking=True)
        ev_r.unpersist(blocking=True)
    direct_model2 = fit_dsir(t, r, num_buckets=B, k=K)
    d_sel2 = dsir_resample(
        dsir_logweights(r, "doc_id", "text", direct_model2), "doc_id", 3
    ).select("doc_id").collect()
    _release(direct_model2)
    assert sorted(x["doc_id"] for x in d_sel) == sorted(
        x["doc_id"] for x in d_sel2
    )


def test_torn_model_write_keeps_the_previous_fit(spark, corpora, tmp_path,
                                                 generation_crash):
    """A model write that dies after its ratio rows, before its commit,
    leaves the previous model whole: its own ratios with its own
    scalars, never the new ratios next to the old ``num_buckets``."""
    from my_feast_spark.operators.dsir import read_dsir_model, write_dsir_model

    t, r = corpora
    path = str(tmp_path / "dsir")
    a = fit_dsir(t, r, num_buckets=B, k=K)
    write_dsir_model(a, path)
    want = sorted(map(tuple, a.ratio.collect()))
    _release(a)
    b = fit_dsir(t, r, num_buckets=2 * B, k=K)
    assert sorted(map(tuple, b.ratio.collect())) != want
    with generation_crash("_mark", 0):
        write_dsir_model(b, path)
    _release(b)
    got = read_dsir_model(spark, path)
    assert (got.num_buckets, got.default_lr) == (B, a.default_lr)
    assert sorted(map(tuple, got.ratio.collect())) == want


def test_old_model_layout_fails_loudly(spark, corpora, tmp_path):
    """A model path holding ``ratio/`` and ``meta/`` Spark datasets but
    no committed generation (the layout before a write became one fold)
    is refused with an error naming the path and asking for a rebuild,
    and no file changes."""
    import json
    import os

    from my_feast_spark.operators.dsir import read_dsir_model

    t, r = corpora
    model = fit_dsir(t, r, num_buckets=B, k=K)
    path = str(tmp_path / "old")
    model.ratio.coalesce(1).write.parquet(os.path.join(path, "ratio"))
    meta = {"default_lr": model.default_lr, "k": model.k,
            "num_buckets": model.num_buckets, "hash_fn": model.hash_fn}
    spark.createDataFrame([(json.dumps(meta),)], ["meta_json"]).coalesce(
        1
    ).write.json(os.path.join(path, "meta"))
    _release(model)
    before = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    with pytest.raises(FileNotFoundError, match="rebuild") as err:
        read_dsir_model(spark, path)
    assert path in str(err.value)
    assert sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    ) == before
