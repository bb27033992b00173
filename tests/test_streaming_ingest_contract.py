"""The contract all three dedup ingests (exact, MinHash, embedding) share
through one per-batch driver: start-time checks of ``index_buckets`` and
``compact_every``, and exactly-once replay of a LATER batch while an
older index generation exists."""

from __future__ import annotations

import os

import pytest

from my_feast_spark.streaming import (
    dedup_ingest_stream,
    embedding_dedup_ingest_stream,
    near_dedup_ingest_stream,
)

TEXT_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "doc_id long, embedding array<double>"

BASE = ("the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green valley below tonight")
NEAR = BASE.replace("tonight", "today")
OTHER = ("completely different content about spark shuffles partitions "
         "exchanges codegen broadcast joins and adaptive execution plans")
NOVEL = ("entirely novel words about feature stores materialization and "
         "online serving layers")

BASE_V = [1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, -0.1]
NEAR_V = [1.02, 0.21, -0.49, 0.79, 0.12, -0.31, 0.61, -0.09]  # cos ~ 1
OTHER_V = [-0.9, 0.8, 0.7, -0.6, 0.5, 0.9, -0.4, 0.3]
NOVEL_V = [0.1, -0.9, 0.2, 0.3, -0.8, 0.1, 0.5, 0.7]

#: kind -> (ingest, input schema, extra kwargs, two input batches, the
#: index dataset holding one row per accepted doc). Batch 1 holds a
#: cross-batch duplicate of batch-0 doc 1 (id 10) and a new doc (id 11).
KINDS = {
    "exact": (
        dedup_ingest_stream, TEXT_SCHEMA, {},
        [[(1, BASE), (2, OTHER)], [(10, BASE), (11, NOVEL)]],
        "",
    ),
    "minhash": (
        near_dedup_ingest_stream, TEXT_SCHEMA, {"threshold": 0.5},
        [[(1, BASE), (2, OTHER)], [(10, NEAR), (11, NOVEL)]],
        "sigs",
    ),
    "embedding": (
        embedding_dedup_ingest_stream, VEC_SCHEMA,
        {"threshold": 0.95, "dim": len(BASE_V)},
        [[(1, BASE_V), (2, OTHER_V)], [(10, NEAR_V), (11, NOVEL_V)]],
        "vecs",
    ),
}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_bad_index_buckets_and_compact_every_fail_at_start(
    spark, tmp_path, kind
):
    """Each must be None or >= 1. ``index_buckets=0`` used to run flat
    yet pin 0 (a later resume with None then failed on "different
    layout"), a negative one wrote negative pbucket= directories, and a
    negative ``compact_every`` never compacted."""
    ingest, schema, kwargs, _, _ = KINDS[kind]
    in_dir = str(tmp_path / "incoming")
    idx = str(tmp_path / "index")
    os.makedirs(in_dir)
    sdf = spark.readStream.schema(schema).parquet(in_dir)
    for arg, value in (
        ("index_buckets", 0), ("index_buckets", -4),
        ("compact_every", 0), ("compact_every", -1),
    ):
        with pytest.raises(ValueError, match=arg):
            ingest(
                sdf, out_path=str(tmp_path / "out"), index_path=idx,
                checkpoint=str(tmp_path / "ck"), available_now=True,
                **kwargs, **{arg: value},
            )
        assert not os.path.exists(idx), "a rejected start pinned the index"


@pytest.mark.parametrize("index_buckets", [None, 8])
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_replay_of_later_batch_next_to_older_generation(
    spark, tmp_path, kind, index_buckets
):
    """A crash after batch 1's sink writes but before its streaming
    commit replays batch 1 while generation 0 exists. The replay must
    keep its accepted rows (the guard excludes its own generation),
    still drop its cross-batch duplicate (the guard keeps generation 0)
    and write no row twice."""
    ingest, schema, kwargs, batches, payload = KINDS[kind]
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def run():
        sdf = spark.readStream.schema(schema).parquet(in_dir)
        q = ingest(
            sdf, out_path=out, index_path=idx, checkpoint=ckpt,
            index_buckets=index_buckets, available_now=True, **kwargs,
        )
        assert q.awaitTermination(300)
        return q

    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        run()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [
        1, 2, 11
    ]

    # lose batch 1's commit: the restart replays batch 1
    for name in ("1", ".1.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    q = run()
    assert q.lastProgress is not None and q.lastProgress["batchId"] == 1

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 11], f"replay lost or doubled rows: {got}"
    index = spark.read.parquet(os.path.join(idx, payload))
    if kind == "exact":
        assert index.count() == 3
        assert index.select("fingerprint").distinct().count() == 3
    else:
        assert sorted(r.doc for r in index.collect()) == [1, 2, 11]
