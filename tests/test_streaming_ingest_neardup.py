"""Streaming NEAR-dup ingest: each micro-batch's MinHash band buckets
collide against the accumulated signature index, so re-crawled
near-duplicates (not just byte-identical content) never land twice —
across batches or across restarts."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import Row, functions as F

from my_feast_spark.streaming.ingest import near_dedup_ingest_stream
from tests.conftest import lose_commit

#: near-identical long texts: ~20 shared tokens, one token differs ->
#: 3-gram Jaccard (and its signature estimate) well above 0.5
BASE = ("the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green valley below tonight")
NEAR = BASE.replace("tonight", "today")
OTHER = ("completely different content about spark shuffles partitions "
         "exchanges codegen broadcast joins and adaptive execution plans")
SHORT = "tiny"  # < n tokens: no shingles, always accepted


def _run(spark, in_dir, out, idx, ckpt):
    sdf = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = near_dedup_ingest_stream(
        sdf, out_path=out, index_path=idx, checkpoint=ckpt,
        threshold=0.5, available_now=True,
    )
    assert q.awaitTermination(180)


def test_near_dups_drop_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "mh_index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # crawl 1: an in-batch near-dup pair + a distinct doc + a short doc
    spark.createDataFrame([
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=NEAR),     # near-dup of 1, same batch
        Row(doc_id=3, text=OTHER),
        Row(doc_id=4, text=SHORT),    # < n tokens: unconditionally kept
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _run(spark, in_dir, out, idx, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 4}

    # crawl 2: a near-dup of batch-1 content + a genuinely new doc
    spark.createDataFrame([
        Row(doc_id=10, text=NEAR),    # near-dup of accepted doc 1
        Row(doc_id=11, text="entirely novel words about feature stores "
                            "materialization and online serving layers"),
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _run(spark, in_dir, out, idx, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 4, 11}

    # the index holds band rows and signatures for ACCEPTED signed docs
    # only (the short doc has no signature)
    sig_docs = {r.doc for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert sig_docs == {1, 3, 11}
    band_docs = {r.doc for r in spark.read.parquet(f"{idx}/bands").collect()}
    assert band_docs == {1, 3, 11}


def test_replay_is_idempotent(spark, tmp_path):
    """A crash between the sink writes and the streaming commit replays
    the batch: it must neither self-reject (anti-join against its own
    index rows) nor double-write."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "mh_index")
    os.makedirs(in_dir)
    spark.createDataFrame([
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=OTHER),
    ]).coalesce(1).write.mode("append").parquet(in_dir)

    _run(spark, in_dir, out, idx, str(tmp_path / "ckpt1"))
    # replay: batch 0's commit is lost, the restart runs it again
    lose_commit(str(tmp_path / "ckpt1"), 0)
    _run(spark, in_dir, out, idx, str(tmp_path / "ckpt1"))
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert len(rows) == 2, "replay double-appended"


def test_no_pinned_blocks_survive_batches(spark, tmp_path):
    """Each batch pins its signature checkpoint for the batch's joins
    and must release it before returning."""
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [Row(doc_id=1, text=BASE), Row(doc_id=2, text=OTHER)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    base = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    _run(spark, in_dir, str(tmp_path / "c"), str(tmp_path / "i"),
         str(tmp_path / "k"))
    now = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert now - base == set(), "ingest batch leaked checkpoint blocks"


def _run_bucketed(spark, in_dir, out, idx, ckpt, nb=8):
    sdf = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = near_dedup_ingest_stream(
        sdf, out_path=out, index_path=idx, checkpoint=ckpt,
        threshold=0.5, index_buckets=nb, available_now=True,
    )
    assert q.awaitTermination(300)


@pytest.mark.slow  # flat-vs-bucketed twin-run equivalence probe (59s) — slow tier, see pytest.ini
def test_bucketed_index_matches_flat_and_prunes(spark, tmp_path):
    """index_buckets must change the INDEX LAYOUT only: ~10 micro-batches
    through the bucketed path accept exactly what the flat path accepts,
    the index lands in pbucket=K partition directories, and a probe-style
    partition filter reads a strict subset of the index files (the
    directory-level pruning that keeps per-batch cost bounded as the
    corpus grows)."""
    variants = ("a", "b", "c", "d", "e", "f", "g", "h")
    flat_in = str(tmp_path / "in_flat")
    buck_in = str(tmp_path / "in_buck")
    os.makedirs(flat_in)
    os.makedirs(buck_in)

    def feed(path, rows):
        spark.createDataFrame(rows).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    batches = [[Row(doc_id=1, text=BASE), Row(doc_id=2, text=OTHER)]]
    # batches 2..10: one near-dup of the accepted base + one novel doc
    for i, v in enumerate(variants):
        batches.append([
            Row(doc_id=100 + i, text=BASE.replace("tonight", v)),
            Row(doc_id=200 + i,
                text=f"novel {v} content about engine number {i} with "
                     f"unique vocabulary token{i} and nothing shared"),
        ])
    expected = None
    for run_dir, runner, out, idx, ck in (
        (flat_in, _run, str(tmp_path / "of"), str(tmp_path / "if"), "ckf"),
        (buck_in, _run_bucketed, str(tmp_path / "ob"), str(tmp_path / "ib"),
         "ckb"),
    ):
        for bi, rows in enumerate(batches):
            feed(run_dir, rows)
            # ONE checkpoint per stream: each feed becomes a NEW
            # incremental micro-batch (a fresh checkpoint would replay
            # everything as one batch 0 and never exercise the
            # accumulated index)
            runner(spark, run_dir, out, idx, str(tmp_path / ck))
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
        if expected is None:
            expected = got
            # the near-dups really dropped and the novel docs survived
            assert {1, 2} <= expected
            assert all(200 + i in expected for i in range(len(variants)))
            assert all(100 + i not in expected for i in range(len(variants)))
        else:
            assert got == expected, "bucketed path changed RESULTS"

    bands_dir = str(tmp_path / "ib" / "bands")

    def files_read(df):
        # post-pruning file set: inputFiles() reflects the UNFILTERED
        # relation, so probe what the executed scan actually touches
        return {
            r.f
            for r in df.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }

    every = files_read(spark.read.parquet(bands_dir))
    assert any("pbucket=" in f for f in every), "no partition layout"
    some_pb = sorted(
        {int(f.split("pbucket=")[1].split("/")[0]) for f in every}
    )[0]
    pruned = files_read(
        spark.read.parquet(bands_dir).filter(F.col("pbucket") == some_pb)
    )
    assert pruned and pruned < every, (
        "partition filter did not prune the index scan"
    )


def test_bucketed_replay_is_idempotent(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "mh_index")
    os.makedirs(in_dir)
    spark.createDataFrame([
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=OTHER),
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _run_bucketed(spark, in_dir, out, idx, str(tmp_path / "ck1"))
    lose_commit(str(tmp_path / "ck1"), 0)  # the restart replays batch 0
    _run_bucketed(spark, in_dir, out, idx, str(tmp_path / "ck1"))
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert len(rows) == 2, "replay double-appended"


def test_index_meta_pins_layout_choices(spark, tmp_path):
    """Hash family / banding / pbucket count are
    per-stream-lifetime choices invisible in the stored rows — a
    resumed stream with a different config must fail at START, not
    silently stop colliding with the existing index."""
    import pytest as _pytest

    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "mh_index")
    spark.createDataFrame(
        [Row(doc_id=1, text=BASE)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    _run(spark, in_dir, out, idx, str(tmp_path / "ck1"))
    assert os.path.exists(os.path.join(idx, "_mfs_index_meta.json"))

    # same config resumes fine
    _run(spark, in_dir, out, idx, str(tmp_path / "ck1"))

    # a different hash family against the same index is loud
    sdf = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )
    with _pytest.raises(ValueError, match="different layout"):
        near_dedup_ingest_stream(
            sdf, out_path=out, index_path=idx,
            checkpoint=str(tmp_path / "ck3"),
            threshold=0.5, hash_fn="portable", available_now=True,
        )
    # ...and so is flipping index_buckets
    with _pytest.raises(ValueError, match="different layout"):
        near_dedup_ingest_stream(
            sdf, out_path=out, index_path=idx,
            checkpoint=str(tmp_path / "ck4"),
            threshold=0.5, index_buckets=8, available_now=True,
        )
