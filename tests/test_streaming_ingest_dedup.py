"""Streaming incremental-dedup ingest: each micro-batch anti-joins its
content fingerprints against the accumulated index, so re-crawled
content never lands twice — across batches OR across restarts."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import Row

from my_feast_spark.streaming.ingest import dedup_ingest_stream
from tests.conftest import lose_commit


def _run_available(spark, in_dir, out, idx, ckpt, **kw):
    sdf = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = dedup_ingest_stream(
        sdf, out_path=out, index_path=idx, checkpoint=ckpt,
        available_now=True, **kw,
    )
    assert q.awaitTermination(120)
    return q


def test_dedup_ingest_drops_recrawled_content(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # crawl 1: one in-batch duplicate pair (ids 1/2 same text)
    spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma"),
        Row(doc_id=2, text="alpha beta gamma"),
        Row(doc_id=3, text="delta epsilon"),
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _run_available(spark, in_dir, out, idx, ckpt)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 3}, "in-batch dup must keep the min-id winner"

    # crawl 2: one re-crawl of batch-1 content + one genuinely new doc
    spark.createDataFrame([
        Row(doc_id=10, text="alpha beta gamma"),   # seen in crawl 1
        Row(doc_id=11, text="zeta eta theta"),      # new
    ]).coalesce(1).write.mode("append").parquet(in_dir)
    _run_available(spark, in_dir, out, idx, ckpt)

    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 3, 11}
    # index holds exactly the accepted fingerprints
    fps = [r.fingerprint for r in spark.read.parquet(idx).collect()]
    assert sorted(fps) == sorted({r.fingerprint for r in rows})
    # every accepted fingerprint is unique corpus-wide
    assert len({r.fingerprint for r in rows}) == len(rows)


def test_batch_replay_does_not_destroy_output(spark, tmp_path):
    """Crash-replay shape: if a batch's sinks were written but the
    streaming commit was lost, the batch replays — it must NOT
    anti-join against its own fingerprints (that would overwrite its
    output with an empty dataset). Simulated by deleting the batch's
    commit entry and restarting on the same checkpoint, so batch 0 is
    processed again."""

    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    ckpt = str(tmp_path / "ckpt1")
    os.makedirs(in_dir)
    spark.createDataFrame([
        Row(doc_id=1, text="alpha beta"),
        Row(doc_id=2, text="gamma delta"),
    ]).coalesce(1).write.mode("append").parquet(in_dir)

    _run_available(spark, in_dir, out, idx, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

    # replay: the commit of batch 0 is lost, the restart runs it again
    lose_commit(ckpt, 0)
    q = _run_available(spark, in_dir, out, idx, ckpt)
    assert q.lastProgress["batchId"] == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}, f"replay destroyed the batch output: {got}"


def test_fresh_checkpoint_over_written_roots_fails_at_start(spark, tmp_path):
    """A fresh checkpoint numbers its batches from 0 again, so a start
    on one over output and index roots that already hold batches would
    overwrite the old outputs: it raises at start and changes no
    file."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    os.makedirs(in_dir)
    for b in range(4):
        spark.createDataFrame([
            Row(doc_id=10 * b + i, text=f"batch {b} text {i}")
            for i in range(2)
        ]).coalesce(1).write.mode("append").parquet(in_dir)
        _run_available(spark, in_dir, out, idx, str(tmp_path / "ckpt"),
                       compact_every=2)

    def files():
        return sorted(
            (os.path.relpath(os.path.join(d, f), str(tmp_path)),
             os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for root in (out, idx)
            for d, _, fs in os.walk(root) for f in fs
        )

    before = files()
    assert len({f.split(os.sep)[1] for f, _, _ in before
                if f.startswith("corpus" + os.sep + "batch_id=")}) == 4
    with pytest.raises(ValueError, match="has no offsets"):
        _run_available(spark, in_dir, out, idx, str(tmp_path / "ckpt_new"),
                       compact_every=2)
    assert files() == before


def test_fs_nonempty_probes_through_hadoop(spark, tmp_path):
    """The index probe must go through Hadoop's FileSystem, not
    os.path: scheme-qualified paths (file://) and hidden-only
    directories (_SUCCESS, .crc) must answer like the local check did,
    and non-local schemes get a real probe instead of a silent False."""
    from my_feast_spark.streaming.ingest import _fs_nonempty

    missing = str(tmp_path / "nope")
    assert _fs_nonempty(spark, missing) is False

    hidden_only = tmp_path / "hidden"
    hidden_only.mkdir()
    (hidden_only / "_SUCCESS").write_text("")
    (hidden_only / ".part.crc").write_text("")
    assert _fs_nonempty(spark, str(hidden_only)) is False

    real = tmp_path / "real"
    real.mkdir()
    (real / "batch_id=0").mkdir()
    assert _fs_nonempty(spark, str(real)) is True
    # scheme-qualified path resolves through the same FileSystem API
    assert _fs_nonempty(spark, f"file://{real}") is True


def test_index_meta_lost_rename_validates_the_winner(spark, tmp_path):
    """A starter whose marker write loses the rename to a concurrent
    starter's marker validates against the winner's: the same layout
    starts, a different one raises, and no temp file is left."""
    import json

    from my_feast_spark.streaming.ingest import _INDEX_META, _ensure_index_meta

    mine = {"kind": "exact_fingerprint", "index_buckets": None}

    def race(idx, theirs):
        def plant():  # the winner stamps between the probe and the rename
            os.makedirs(idx)
            with open(os.path.join(idx, _INDEX_META), "w") as f:
                json.dump(theirs, f)

        _ensure_index_meta(spark, idx, mine, plant)

    same = str(tmp_path / "same")
    race(same, mine)
    assert os.listdir(same) == [_INDEX_META]
    other = str(tmp_path / "other")
    with pytest.raises(ValueError, match="different layout"):
        race(other, {**mine, "index_buckets": 4})
    assert os.listdir(other) == [_INDEX_META]


@pytest.mark.slow  # flat-vs-bucketed twin-run equivalence probe (26s) — slow tier, see pytest.ini
def test_bucketed_index_matches_flat_and_prunes(spark, tmp_path):
    """index_buckets changes the fingerprint-index LAYOUT only: the
    bucketed stream accepts exactly what the flat stream accepts, the
    index lands under pbucket=K partition directories, and a
    probe-style partition filter reads a strict subset of the index
    files — per-batch index scan cost stays bounded by the batch's own
    bucket set instead of the whole corpus."""
    from pyspark.sql import functions as F

    flat_in = str(tmp_path / "in_flat")
    buck_in = str(tmp_path / "in_buck")
    os.makedirs(flat_in)
    os.makedirs(buck_in)
    batches = [
        [Row(doc_id=1, text="alpha beta gamma"),
         Row(doc_id=2, text="alpha beta gamma"),
         Row(doc_id=3, text="delta epsilon")],
    ] + [
        [Row(doc_id=10 * b + 1, text="alpha beta gamma"),  # re-crawl
         Row(doc_id=10 * b + 2, text=f"fresh content number {b}")]
        for b in range(1, 6)
    ]
    results = {}
    for key, in_dir, nb in (("flat", flat_in, None), ("buck", buck_in, 8)):
        out = str(tmp_path / f"out_{key}")
        idx = str(tmp_path / f"idx_{key}")
        for bi, rows in enumerate(batches):
            spark.createDataFrame(rows).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            sdf = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(in_dir)
            q = dedup_ingest_stream(
                sdf, out_path=out, index_path=idx,
                checkpoint=str(tmp_path / f"ck_{key}"),
                index_buckets=nb, available_now=True,
            )
            assert q.awaitTermination(120)
        results[key] = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert results["flat"] == results["buck"]
    assert results["flat"] == {1, 3, 12, 22, 32, 42, 52}

    idx = str(tmp_path / "idx_buck")

    def files_read(df):
        # post-pruning file set: inputFiles() reflects the UNFILTERED
        # relation, so probe what the executed scan actually touches
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


@pytest.mark.parametrize("index_buckets", [None, 4], ids=["flat", "buckets4"])
def test_index_without_marker_fails_at_start(spark, tmp_path, index_buckets):
    """The ingest driver writes _mfs_index_meta.json before batch 0, so
    an index root that holds data without it was not laid out by the
    driver and its layout is unknown. A start on it, with either
    layout, raises; it stamps no marker and leaves the data as it
    was."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    os.makedirs(in_dir)
    spark.createDataFrame([
        Row(doc_id=i, text=f"text number {i}") for i in range(1, 9)
    ]).coalesce(1).write.mode("append").parquet(in_dir)

    sdf = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )
    q = dedup_ingest_stream(
        sdf, out_path=out, index_path=idx,
        checkpoint=str(tmp_path / "ck1"),
        index_buckets=index_buckets, available_now=True,
    )
    assert q.awaitTermination(120)
    marker = os.path.join(idx, "_mfs_index_meta.json")
    os.remove(marker)

    def files():
        return sorted(
            (os.path.relpath(os.path.join(d, f), idx),
             os.path.getsize(os.path.join(d, f)))
            for d, _, fs in os.walk(idx) for f in fs
        )

    before = files()
    assert any(f.endswith(".parquet") for f, _ in before)
    for restart in (index_buckets, 8 if index_buckets is None else None):
        with pytest.raises(ValueError, match="no _mfs_index_meta.json"):
            dedup_ingest_stream(
                sdf, out_path=out, index_path=idx,
                checkpoint=str(tmp_path / "ck2"),
                index_buckets=restart, available_now=True,
            )
        assert not os.path.exists(marker), "failed start must not stamp"
        assert files() == before, "failed start touched the index"
