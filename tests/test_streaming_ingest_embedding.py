"""Streaming SEMANTIC near-dup ingest: per-batch hyperplane-LSH bucket
collisions against the accumulated embedding index, exact-cosine verify
— re-crawled semantic duplicates never land twice, across batches or
restarts."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import Row, functions as F

from my_feast_spark.streaming.ingest import embedding_dedup_ingest_stream
from tests.conftest import lose_commit

DIM = 8
BASE = [1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, -0.1]
NEAR = [1.02, 0.21, -0.49, 0.79, 0.12, -0.31, 0.61, -0.09]  # cos ~ 1
OTHER = [-0.9, 0.8, 0.7, -0.6, 0.5, 0.9, -0.4, 0.3]


def _run(spark, in_dir, out, idx, ckpt, nb=None):
    sdf = spark.readStream.schema(
        "doc_id long, embedding array<double>"
    ).parquet(in_dir)
    q = embedding_dedup_ingest_stream(
        sdf, out_path=out, index_path=idx, checkpoint=ckpt,
        threshold=0.95, dim=DIM, index_buckets=nb, available_now=True,
    )
    assert q.awaitTermination(180)


def _feed(spark, in_dir, rows):
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(in_dir)


def test_semantic_dups_drop_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "emb_index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # batch 1: an in-batch semantic dup pair + a distinct vector
    _feed(spark, in_dir, [
        Row(doc_id=1, embedding=BASE),
        Row(doc_id=2, embedding=NEAR),   # cos(BASE, NEAR) > 0.95
        Row(doc_id=3, embedding=OTHER),
    ])
    _run(spark, in_dir, out, idx, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}

    # batch 2: a semantic dup of accepted content + a genuinely new one
    _feed(spark, in_dir, [
        Row(doc_id=10, embedding=list(NEAR)),
        Row(doc_id=11, embedding=[0.1, -0.9, 0.2, 0.3, -0.8, 0.1, 0.5, 0.7]),
    ])
    _run(spark, in_dir, out, idx, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}

    # the index holds bucket rows and vectors for ACCEPTED docs only
    vec_docs = {r.doc for r in spark.read.parquet(f"{idx}/vecs").collect()}
    assert vec_docs == {1, 3, 11}
    bucket_docs = {r.doc for r in spark.read.parquet(f"{idx}/buckets").collect()}
    assert bucket_docs == {1, 3, 11}


@pytest.mark.slow  # flat-vs-bucketed twin-run equivalence probe (31s) — slow tier, see pytest.ini
def test_bucketed_layout_matches_flat_and_prunes(spark, tmp_path):
    batches = [
        [Row(doc_id=1, embedding=BASE), Row(doc_id=2, embedding=OTHER)],
    ] + [
        [Row(doc_id=100 + i,
             embedding=[x * (1 + 0.001 * i) for x in BASE]),  # near-dup
         Row(doc_id=200 + i,
             embedding=[((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(DIM)])]
        for i in range(4)
    ]
    results = {}
    for key, nb in (("flat", None), ("buck", 8)):
        in_dir = str(tmp_path / f"in_{key}")
        os.makedirs(in_dir)
        out = str(tmp_path / f"out_{key}")
        idx = str(tmp_path / f"idx_{key}")
        for rows in batches:
            _feed(spark, in_dir, rows)
            # ONE checkpoint: each feed is a new incremental micro-batch
            _run(spark, in_dir, out, idx, str(tmp_path / f"ck_{key}"), nb=nb)
        results[key] = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert results["flat"] == results["buck"]
    assert 1 in results["flat"] and 2 in results["flat"]
    assert all(100 + i not in results["flat"] for i in range(4))

    idx = str(tmp_path / "idx_buck" / "buckets")

    def files_read(df):
        return {
            r.f
            for r in df.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }

    every = files_read(spark.read.parquet(idx))
    assert any("pbucket=" in f for f in every)
    some_pb = sorted(
        {int(f.split("pbucket=")[1].split("/")[0]) for f in every}
    )[0]
    pruned = files_read(
        spark.read.parquet(idx).filter(F.col("pbucket") == some_pb)
    )
    assert pruned and pruned < every


def test_replay_is_idempotent(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "emb_index")
    os.makedirs(in_dir)
    _feed(spark, in_dir, [
        Row(doc_id=1, embedding=BASE),
        Row(doc_id=2, embedding=OTHER),
    ])
    _run(spark, in_dir, out, idx, str(tmp_path / "ck1"))
    lose_commit(str(tmp_path / "ck1"), 0)  # the restart replays batch 0
    _run(spark, in_dir, out, idx, str(tmp_path / "ck1"))
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert len(rows) == 2, "replay double-appended"


def test_no_pinned_blocks_survive_batches(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    _feed(spark, in_dir, [
        Row(doc_id=1, embedding=BASE),
        Row(doc_id=2, embedding=OTHER),
    ])
    base = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    _run(spark, in_dir, str(tmp_path / "c"), str(tmp_path / "i"),
         str(tmp_path / "k"), nb=8)
    now = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert now - base == set(), "ingest batch leaked checkpoint blocks"
