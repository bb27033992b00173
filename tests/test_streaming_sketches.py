"""Streaming HLL maintenance (streaming/sketches.py): batch/stream
equality, per-batch generation layout + replay idempotence, and flat
state under in-stream compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from my_feast_spark.operators.sketches import hll_group_distinct
from my_feast_spark.streaming.sketches import (
    hll_ingest_stream,
    hll_stream_estimate,
    read_hll_sketch,
)

P = 9


def _run_batches(spark, tmp, batches, *, compact_every=None, tag=""):
    base = os.path.join(tmp, f"hll{tag}")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    sk = os.path.join(base, "sketch")
    ckpt = os.path.join(base, "ckpt")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema("g string, v string").parquet(in_dir)
        q = hll_ingest_stream(
            sdf, sketch_path=sk, checkpoint=ckpt, value_col="v",
            group_cols=["g"], p=P, compact_every=compact_every,
            available_now=True,
        )
        assert q.awaitTermination(300)
    return sk


def _mk(spark, lo, hi, g="a"):
    return spark.range(lo, hi).select(
        F.lit(g).alias("g"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )


def test_stream_equals_batch(spark, tmp_path):
    tmp = str(tmp_path)
    parts = [_mk(spark, 0, 700), _mk(spark, 500, 1_200),
             _mk(spark, 1_100, 2_000)]
    sk = _run_batches(spark, tmp, parts, tag="eq")
    full = parts[0].unionByName(parts[1]).unionByName(parts[2])
    want = {
        (r["g"], r["registers_md5"], r["est_distinct"])
        for r in hll_group_distinct(full, "v", ["g"], p=P).collect()
    }
    got = {
        (r["g"], r["registers_md5"], r["est_distinct"])
        for r in hll_stream_estimate(
            spark, sk, p=P, group_cols=["g"]
        ).collect()
    }
    assert got == want


def test_generation_layout_and_replay_idempotence(spark, tmp_path):
    """Each batch owns a batch_id=N generation; publishing it again
    (the crash replay) leaves the maintained sketch unchanged."""
    tmp = str(tmp_path)
    parts = [_mk(spark, 0, 400), _mk(spark, 300, 800)]
    sk = _run_batches(spark, tmp, parts, tag="replay")
    gens = sorted(
        d for d in os.listdir(sk) if d.startswith("batch_id=")
    )
    assert gens == ["batch_id=0", "batch_id=1"]
    before = {
        (r["g"], r["bucket"], r["rho"])
        for r in read_hll_sketch(spark, sk, group_cols=["g"]).collect()
    }
    # simulate the at-least-once replay of batch 1: same rows, same id
    from my_feast_spark.operators.sketches import hll_registers
    from my_feast_spark.sources.generations import publish

    publish(
        sk, "batch_id", 1,
        hll_registers(
            parts[1].select("g", "v"), "v", p=P, group_by=["g"]
        ).write.mode("overwrite").parquet,
    )
    after = {
        (r["g"], r["bucket"], r["rho"])
        for r in read_hll_sketch(spark, sk, group_cols=["g"]).collect()
    }
    assert after == before


def test_compaction_keeps_state_flat_and_equal(spark, tmp_path):
    """8 batches with compact_every=2: generation count stays bounded,
    maintained estimate unchanged vs an uncompacted twin."""
    tmp = str(tmp_path)
    parts = [_mk(spark, i * 150, (i + 1) * 150 + 20) for i in range(8)]
    sk_c = _run_batches(spark, tmp, parts, compact_every=2, tag="c")
    sk_u = _run_batches(spark, tmp, parts, tag="u")

    def gens(path):
        return [d for d in os.listdir(path) if d.startswith("batch_id=")]

    assert len(gens(sk_u)) == 8
    assert len(gens(sk_c)) <= 3  # folded negatives + the newest live ids

    est = lambda p: sorted(  # noqa: E731
        (r["g"], r["registers_md5"], r["est_distinct"])
        for r in hll_stream_estimate(
            spark, p, p=P, group_cols=["g"]
        ).collect()
    )
    assert est(sk_c) == est(sk_u)


def test_read_missing_sketch_is_loud(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no sketch generations"):
        read_hll_sketch(
            spark, str(tmp_path / "absent"), group_cols=["g"]
        )


# --- count-min maintenance ---------------------------------------------------

from my_feast_spark.operators.sketches import cms_build, cms_estimate  # noqa: E402
from my_feast_spark.streaming.sketches import (  # noqa: E402
    cms_ingest_stream,
    compact_cms,
    read_cms_sketch,
)

D, W = 4, 512


def _run_cms_batches(spark, tmp, batches, *, compact_every=None, tag=""):
    base = os.path.join(tmp, f"cms{tag}")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    sk = os.path.join(base, "sketch")
    ckpt = os.path.join(base, "ckpt")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema("v string").parquet(in_dir)
        q = cms_ingest_stream(
            sdf, sketch_path=sk, checkpoint=ckpt, value_col="v",
            d=D, w=W, compact_every=compact_every, available_now=True,
        )
        assert q.awaitTermination(300)
    return sk


def _vals(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("t"), (F.col("id") % 37).cast("string")).alias("v")
    )


def _counters(df):
    return {(r["r"], r["c"]): r["cnt"] for r in df.collect()}


def test_cms_stream_equals_batch(spark, tmp_path):
    tmp = str(tmp_path)
    parts = [_vals(spark, 0, 400), _vals(spark, 400, 900),
             _vals(spark, 900, 1_300)]
    sk = _run_cms_batches(spark, tmp, parts, tag="eq")
    full = parts[0].unionByName(parts[1]).unionByName(parts[2])
    want = _counters(cms_build(full, "v", d=D, w=W))
    got = _counters(read_cms_sketch(spark, sk))
    assert got == want
    # and the maintained sketch serves point estimates
    keys = spark.createDataFrame([("t5",), ("t11",)], ["v"])
    est = {
        r["v"]: r["est_count"]
        for r in cms_estimate(
            read_cms_sketch(spark, sk), keys, "v", d=D, w=W
        ).collect()
    }
    exact = {
        r["v"]: r["n"]
        for r in full.groupBy("v").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert est["t5"] >= exact["t5"] and est["t11"] >= exact["t11"]


def test_cms_compaction_is_exact_and_crash_safe(
    spark, tmp_path, generation_crash
):
    """Fold mid-stream, then put the sketch in BOTH crash states of a
    fold — torn before its commit marker, and committed with its
    absorbed sources still on disk — and assert reads stay exact
    through all of it and heal / compact_cms clean both up."""
    from my_feast_spark.sources.generations import committed, heal

    tmp = str(tmp_path)
    parts = [_vals(spark, i * 300, (i + 1) * 300) for i in range(6)]
    sk_c = _run_cms_batches(spark, tmp, parts, compact_every=3, tag="c")
    sk_u = _run_cms_batches(spark, tmp, parts, tag="u")
    want = _counters(read_cms_sketch(spark, sk_u))
    assert _counters(read_cms_sketch(spark, sk_c)) == want
    gens = sorted(d for d in os.listdir(sk_c) if d.startswith("batch_id="))
    assert any(g.startswith("batch_id=-") for g in gens)
    assert len(gens) < 6
    live = [n for n, _ in committed(sk_c, "batch_id")]

    # crash state 1: torn fold — its counters written at a fresh
    # negative id, no commit marker, sources untouched
    with generation_crash("_mark", 0):
        compact_cms(spark, sk_c)
    torn = min(
        int(g.split("=")[1]) for g in os.listdir(sk_c)
        if g.startswith("batch_id=")
    )
    assert torn < min(live)
    assert _counters(read_cms_sketch(spark, sk_c)) == want  # invisible
    assert heal(sk_c, "batch_id") == [torn]  # garbage-collected
    assert not os.path.exists(os.path.join(sk_c, f"batch_id={torn}"))
    assert _counters(read_cms_sketch(spark, sk_c)) == want

    # crash state 2: the fold committed, none of its source deletes ran
    with generation_crash("_remove", 0):
        compact_cms(spark, sk_c)
    assert all(
        os.path.exists(os.path.join(sk_c, f"batch_id={n}")) for n in live
    )
    assert _counters(read_cms_sketch(spark, sk_c)) == want  # excluded
    assert compact_cms(spark, sk_c)["generation"] is None
    assert [d for d in os.listdir(sk_c) if d.startswith("batch_id=")] == [
        f"batch_id={torn}"
    ]
    assert _counters(read_cms_sketch(spark, sk_c)) == want


def test_cms_read_missing_is_loud(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no sketch generations"):
        read_cms_sketch(spark, str(tmp_path / "absent"))


# --- KMV maintenance ---------------------------------------------------------

from my_feast_spark.operators.sketches import kmv_sketch  # noqa: E402
from my_feast_spark.streaming.sketches import (  # noqa: E402
    kmv_ingest_stream,
    read_kmv_sketch,
)


def test_kmv_stream_equals_batch_and_compacts(spark, tmp_path):
    """Per-batch bottom-k generations union to the true bottom-k of
    everything ingested (the kmv_union property, end to end through
    the stream + a mid-stream compact_index fold)."""
    base = str(tmp_path / "kmv")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    sk_path = os.path.join(base, "sketch")
    ckpt = os.path.join(base, "ckpt")
    K = 64
    parts = [
        spark.range(i * 500, (i + 1) * 500 + 100).select(
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
        )
        for i in range(4)
    ]
    for b in parts:
        b.coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema("v string").parquet(in_dir)
        q = kmv_ingest_stream(
            sdf, sketch_path=sk_path, checkpoint=ckpt, value_col="v",
            k=K, compact_every=2, available_now=True,
        )
        assert q.awaitTermination(300)

    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    want = [r["h"] for r in kmv_sketch(full, "v", K).collect()]
    got = [r["h"] for r in read_kmv_sketch(spark, sk_path, k=K).collect()]
    assert got == want
    # mid-stream fold happened and bounded the generations
    gens = [d for d in os.listdir(sk_path) if d.startswith("batch_id=")]
    assert any(g.startswith("batch_id=-") for g in gens)
    assert len(gens) < 4
    # state per generation: a live batch generation holds <= k rows; a
    # folded one the distinct union of the batch sketches it absorbed
    # (<= batches*k — compact_index is the generic set fold, it cannot
    # re-truncate to bottom-k)
    for g in gens:
        n = spark.read.parquet(os.path.join(sk_path, g)).count()
        assert n <= 4 * K


def test_streamed_fine_registers_fold_to_coarse_rollup(spark, tmp_path):
    """Composition: a stream maintaining DAY-grain registers
    (group_cols=['day']) feeds the same coarse fold hll_time_rollup
    uses — the maintained fine state rolls up to the batch month
    estimate without ever rescanning rows."""
    import datetime as dt

    from my_feast_spark.operators.sketches import hll_estimate
    from my_feast_spark.operators.sketches import hll_group_distinct

    base = dt.datetime(2024, 3, 1)
    full = spark.range(6_000).select(
        F.date_format(
            F.lit(base) + F.make_interval(hours=(F.col("id") % 72).cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.concat(F.lit("u"), (F.col("id") % 1500).cast("string")).alias("v"),
    )
    tagged = full.withColumn(
        "id_mod", F.pmod(F.xxhash64("v", "day"), F.lit(3))
    )
    batches = [
        tagged.where(F.col("id_mod") == b).drop("id_mod") for b in range(3)
    ]
    base_dir = os.path.join(str(tmp_path), "roll")
    in_dir = os.path.join(base_dir, "in")
    os.makedirs(in_dir)
    sk = os.path.join(base_dir, "sketch")
    ckpt = os.path.join(base_dir, "ckpt")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema("day string, v string").parquet(in_dir)
        q = hll_ingest_stream(
            sdf, sketch_path=sk, checkpoint=ckpt, value_col="v",
            group_cols=["day"], p=P, available_now=True,
        )
        assert q.awaitTermination(300)

    fine = read_hll_sketch(spark, sk, group_cols=["day"])
    # coarse fold: all days -> one month bucket set
    coarse = fine.groupBy(
        F.lit("2024-03").alias("month"), "bucket"
    ).agg(F.max("rho").alias("rho"))
    got = hll_estimate(coarse, p=P, group_by=["month"]).collect()[0]
    want = hll_group_distinct(
        full.select(F.lit("2024-03").alias("month"), "v"), "v", ["month"],
        p=P,
    ).collect()[0]
    assert got["registers_md5"] == want["registers_md5"]
    assert got["est_distinct"] == want["est_distinct"]
