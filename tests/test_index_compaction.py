"""Streaming-ingest index compaction (streaming/ingest.compact_index):
the maintenance op that keeps per-batch directory count — the one cost
that grows with stream LIFETIME rather than corpus size — bounded."""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from my_feast_spark.sources.generations import committed, fold, publish
from my_feast_spark.streaming.ingest import (
    compact_index,
    compact_ingest_indexes,
    dedup_ingest_stream,
)


def _rows(spark, fps, pbuckets=4):
    df = spark.createDataFrame([(f,) for f in fps], "fingerprint string")
    return df.withColumn(
        "pbucket", F.pmod(F.xxhash64("fingerprint"), F.lit(pbuckets))
    ).repartition("pbucket")


def _write_batch(spark, idx, batch_id, fps, pbuckets=4):
    publish(
        idx, "batch_id", batch_id,
        _rows(spark, fps, pbuckets).write.mode("overwrite")
        .partitionBy("pbucket").parquet,
    )


def _gens(idx):
    return sorted(
        n for n in os.listdir(idx) if n.startswith("batch_id=")
    )


def _read(spark, idx):
    """The fingerprints of every committed generation."""
    return {
        r.fingerprint
        for r in spark.read.option("basePath", idx).parquet(
            *[p for _, p in committed(idx, "batch_id")]
        ).collect()
    }


def _file_count(idx):
    n = 0
    for root, _dirs, files in os.walk(idx):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def test_compaction_bounds_generations_over_twenty_batches(spark, tmp_path):
    """One batch_id=N generation per micro-batch would grow forever.
    Compacting every 5 batches keeps the
    generation count (directory-listing cost) and file count FLAT
    instead of linear in batches."""
    idx = str(tmp_path / "idx")
    all_fps = set()
    gen_counts, file_counts = [], []
    for b in range(20):
        fps = {f"fp-{b}-{i}" for i in range(10)}
        all_fps |= fps
        _write_batch(spark, idx, b, fps)
        if b % 5 == 4:
            stats = compact_index(spark, idx)
            assert stats["generation"] is not None
            assert stats["files_after"] < stats["files_before"]
        gen_counts.append(len(_gens(idx)))
        file_counts.append(_file_count(idx))
    # flat, not linear: never more generations than one compacted gen +
    # the batches since the last compaction
    assert max(gen_counts) <= 6
    assert len(_gens(idx)) == 1
    assert max(file_counts[-5:]) <= max(file_counts[:5]) + 16
    # zero data loss, exact set semantics
    got = {r.fingerprint for r in spark.read.parquet(idx).collect()}
    assert got == all_fps
    # pbucket pruning still works after compaction: a filtered read
    # touches only the matching partition directories
    one = spark.read.parquet(idx).where(F.col("pbucket") == 1)
    assert {r.fingerprint for r in one.collect()} <= all_fps
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "pbucket" in plan


def test_compaction_is_idempotent_and_noop_safe(spark, tmp_path):
    idx = str(tmp_path / "idx")
    # empty / missing dir: graceful no-op
    stats = compact_index(spark, idx)
    assert stats["generation"] is None and stats["generations_before"] == 0
    _write_batch(spark, idx, 0, {"a", "b"})
    # single generation: no-op
    stats = compact_index(spark, idx)
    assert stats["generation"] is None and stats["generations_before"] == 1
    _write_batch(spark, idx, 1, {"b", "c"})
    first = compact_index(spark, idx)
    assert first["generation"] == -1
    # same high-water again: nothing to merge (one generation)
    again = compact_index(spark, idx)
    assert again["generation"] is None
    got = {r.fingerprint for r in spark.read.parquet(idx).collect()}
    assert got == {"a", "b", "c"}


def test_compaction_heals_interrupted_cycle(
    spark, tmp_path, generation_crash
):
    """A crash after the fold's commit marker, before its source
    deletes, leaves the absorbed sources on disk: reads skip them (no
    row counted twice), and a re-run deletes them, leaving the one
    folded generation."""
    idx = str(tmp_path / "idx")
    _write_batch(spark, idx, 0, {"a", "b"})
    _write_batch(spark, idx, 1, {"b", "c"})
    with generation_crash("_remove", 0):
        compact_index(spark, idx)
    assert len(_gens(idx)) == 3
    assert [n for n, _ in committed(idx, "batch_id")] == [-1]
    healed = compact_index(spark, idx)
    assert healed["generation"] is None  # one generation: nothing to fold
    assert _gens(idx) == ["batch_id=-1"]
    rows = spark.read.parquet(os.path.join(idx, "batch_id=-1")).collect()
    assert len(rows) == len({r.fingerprint for r in rows}) == 3


def test_compaction_heals_crash_after_partial_source_deletes(
    spark, tmp_path, generation_crash
):
    """A crash mid-delete leaves the folded superset generation plus
    only SOME of its sources. Rows whose only other home was an
    already-deleted source survive in the fold, before and after the
    healing re-run."""
    idx = str(tmp_path / "idx")
    _write_batch(spark, idx, 0, {"a"})
    _write_batch(spark, idx, 1, {"b"})
    _write_batch(spark, idx, 2, {"only-in-2"})
    # the fold deletes its sources highest id first: batch 2 goes, then
    # the crash
    with generation_crash("_remove", 1) as deleted:
        compact_index(spark, idx)
    assert deleted == ["batch_id=2"]
    assert _gens(idx) == ["batch_id=-1", "batch_id=0", "batch_id=1"]
    assert _read(spark, idx) == {"a", "b", "only-in-2"}
    healed = compact_index(spark, idx)
    assert healed["generation"] is None
    assert _gens(idx) == ["batch_id=-1"]
    assert _read(spark, idx) == {"a", "b", "only-in-2"}


def test_compaction_all_negative_generations_lossless(spark, tmp_path):
    """When only negative (folded) generations remain, the next fold's
    target is fresh — below every id present — and takes the union:
    a target that reused an existing id would replace the newest
    superset with an older subset."""
    idx = str(tmp_path / "idx")

    def merge(out, sources):
        spark.read.option("basePath", idx).parquet(*sources).drop(
            "batch_id"
        ).dropDuplicates().write.partitionBy("pbucket").parquet(out)

    _write_batch(spark, idx, 0, {"a"})
    _write_batch(spark, idx, 1, {"a"})
    assert fold(idx, "batch_id", [0, 1], merge) == -1  # older subset
    _write_batch(spark, idx, 2, {"a", "b"})
    _write_batch(spark, idx, 3, {"newest-superset-only"})
    assert fold(idx, "batch_id", [2, 3], merge) == -2  # newest superset
    healed = compact_index(spark, idx)
    assert healed["generation"] == -3
    assert _gens(idx) == ["batch_id=-3"]
    assert _read(spark, idx) == {"a", "b", "newest-superset-only"}


def test_compacted_index_keeps_ingest_correct(spark, tmp_path):
    """End-to-end: ingest -> compact -> ingest more; the compacted
    generation still anti-joins re-crawled content away (the negative
    generation id can never collide with a replaying batch's id)."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    os.makedirs(in_dir)

    ckpt = str(tmp_path / "ck")

    def run():
        # one shared checkpoint: batch ids keep increasing across runs
        # (a fresh checkpoint would restart at 0 and overwrite)
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        )
        q = dedup_ingest_stream(
            sdf, out_path=out, index_path=idx,
            checkpoint=ckpt, available_now=True,
            index_buckets=4,
        )
        assert q.awaitTermination(120)

    spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta"), Row(doc_id=2, text="gamma")]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    spark.createDataFrame(
        [Row(doc_id=3, text="delta"), Row(doc_id=4, text="epsilon")]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    stats = compact_ingest_indexes(spark, idx)
    assert stats["."]["generation"] is not None

    spark.createDataFrame(
        [
            Row(doc_id=10, text="alpha beta"),   # re-crawl: must drop
            Row(doc_id=11, text="zeta"),          # new: must keep
        ]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3, 4, 11}


def test_exclude_from_leaves_current_batch_alone(spark, tmp_path):
    """The in-stream auto-compaction path: generations >= exclude_from
    must survive untouched (folding the current batch into a negative
    generation would defeat the crash-replay guard)."""
    idx = str(tmp_path / "idx")
    for b in range(4):
        _write_batch(spark, idx, b, {f"x{b}"})
    stats = compact_index(spark, idx, exclude_from=3)
    assert stats["generation"] == -1  # merged batches 0..2
    assert sorted(_gens(idx)) == ["batch_id=-1", "batch_id=3"]
    got = {r.fingerprint for r in spark.read.parquet(idx).collect()}
    assert got == {"x0", "x1", "x2", "x3"}
    # nothing mergeable below exclude_from=0 -> no-op
    stats = compact_index(spark, idx, exclude_from=0)
    assert stats["generation"] is None


def test_ingest_with_auto_compaction_matches_plain_ingest(spark, tmp_path):
    """compact_every must be output-invariant: the accepted corpus from
    an auto-compacting stream equals the plain stream's, while the
    index generation count stays bounded."""
    import pyspark.sql.functions as F

    crawls = [
        [Row(doc_id=1, text="alpha"), Row(doc_id=2, text="beta")],
        [Row(doc_id=3, text="alpha"), Row(doc_id=4, text="gamma")],
        [Row(doc_id=5, text="gamma"), Row(doc_id=6, text="delta")],
        [Row(doc_id=7, text="beta"), Row(doc_id=8, text="epsilon")],
    ]

    def drive(tag, **kw):
        in_dir = str(tmp_path / f"in_{tag}")
        out = str(tmp_path / f"out_{tag}")
        idx = str(tmp_path / f"idx_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        os.makedirs(in_dir)
        for batch in crawls:
            spark.createDataFrame(batch).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            sdf = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(in_dir)
            q = dedup_ingest_stream(
                sdf, out_path=out, index_path=idx, checkpoint=ckpt,
                available_now=True, index_buckets=4, **kw,
            )
            assert q.awaitTermination(120)
        return out, idx

    out_plain, _ = drive("plain")
    out_auto, idx_auto = drive("auto", compact_every=2)
    plain = {r.doc_id for r in spark.read.parquet(out_plain).collect()}
    auto = {r.doc_id for r in spark.read.parquet(out_auto).collect()}
    assert auto == plain == {1, 2, 4, 6, 8}
    # 4 batches, compaction after batches 1 and 3 (each excludes the
    # running batch): one consolidated gen + at most the batches since
    assert len(_gens(idx_auto)) <= 2
    # the pruned layout survived auto-compaction
    one = spark.read.parquet(idx_auto).where(F.col("pbucket") == 1)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "pbucket" in plan
