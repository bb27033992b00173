"""Small-file compaction for batch parquet tables
(sources/maintenance.compact_table): fragmented partitions rewrite into
size-targeted files, content and pruning stay intact, and every crash
window of the commit protocol heals deterministically."""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import Row, functions as F

from my_feast_spark.sources.maintenance import _STAGING, compact_table


def _fragmented_table(spark, path, *, days=2, appends=6, rows=10):
    """Simulate repeated append-mode ingest runs: one small file per
    run per day-partition."""
    n = 0
    for a in range(appends):
        rows_ = [
            Row(day=f"2024-01-0{d + 1}", v=a * 1000 + d * 100 + i)
            for d in range(days) for i in range(rows)
        ]
        (
            spark.createDataFrame(rows_)
            .repartition(1)
            .write.mode("append").partitionBy("day").parquet(path)
        )
        n += len(rows_)
    return n


def _data_files(path):
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        fs = [f for f in files if not f.startswith((".", "_"))]
        if fs:
            out[os.path.relpath(root, path)] = sorted(fs)
    return out


def _content(spark, path):
    return sorted(
        (r.day, r.v) for r in spark.read.parquet(path).collect()
    )


def test_compaction_reduces_files_preserves_content_and_pruning(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path)
    before_content = _content(spark, path)
    before_files = _data_files(path)
    assert all(len(v) == 6 for v in before_files.values())

    stats = compact_table(spark, path, min_files=2)
    assert stats["leaves"] == 2 and stats["leaves_compacted"] == 2
    assert stats["files_before"] == 12
    after_files = _data_files(path)
    assert stats["files_after"] == sum(len(v) for v in after_files.values())
    assert all(len(v) == 1 for v in after_files.values())
    assert _content(spark, path) == before_content
    # hive layout intact -> partition pruning still works
    one = spark.read.parquet(path).where(F.col("day") == "2024-01-01")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "day" in plan
    assert len({r.day for r in one.collect()}) == 1

    # idempotent: nothing left over the threshold
    again = compact_table(spark, path, min_files=2)
    assert again["leaves_compacted"] == 0


def test_under_threshold_leaves_untouched(spark, tmp_path):
    path = str(tmp_path / "t2")
    _fragmented_table(spark, path, appends=2)
    before = _data_files(path)
    stats = compact_table(spark, path, min_files=4)
    assert stats["leaves_compacted"] == 0
    assert _data_files(path) == before


def _heal_logs(caplog):
    return [
        r.getMessage() for r in caplog.records
        if r.name == "my_feast_spark" and r.levelno == logging.WARNING
    ]


def test_heal_aborts_uncommitted_staging(spark, tmp_path, caplog):
    """Crash BEFORE the commit marker: originals are authoritative —
    staging is dropped, nothing lost, nothing duplicated. The abort is
    one WARNING record naming the leaf."""
    path = str(tmp_path / "t3")
    _fragmented_table(spark, path)
    want = _content(spark, path)
    leaf = os.path.join(path, "day=2024-01-01")
    staging = os.path.join(leaf, _STAGING)
    os.makedirs(staging)
    # half-written replacement data, no marker
    spark.createDataFrame([Row(v=-1)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(staging, "job-dead"))
    with caplog.at_level(logging.WARNING, logger="my_feast_spark"):
        stats = compact_table(spark, path, min_files=2)
    assert stats["healed_aborted"] == 1
    (msg,) = _heal_logs(caplog)
    assert leaf in msg and "aborting a compaction" in msg
    assert not os.path.exists(staging)
    assert _content(spark, path) == want


def test_heal_finishes_committed_staging(spark, tmp_path, caplog):
    """Crash AFTER the commit marker, mid-delete: the staged files are
    authoritative — remaining originals named in the marker are
    deleted, staged files surface, content is exactly the rewrite. The
    finish is one WARNING record naming the leaf."""
    path = str(tmp_path / "t4")
    _fragmented_table(spark, path)
    want = _content(spark, path)
    leaf = os.path.join(path, "day=2024-01-02")
    originals = _data_files(path)["day=2024-01-02"]
    staging = os.path.join(leaf, _STAGING)
    # build the committed staging state by hand: full rewrite + marker
    rewrite = spark.read.parquet(leaf).coalesce(1)
    work = os.path.join(staging, "job-x")
    rewrite.write.mode("overwrite").parquet(work)
    staged = [
        f for f in os.listdir(work) if not f.startswith(("_", "."))
    ]
    for f in staged:
        os.rename(os.path.join(work, f), os.path.join(staging, f))
    import shutil

    shutil.rmtree(work)
    with open(os.path.join(staging, "_COMMIT.json"), "w") as fh:
        json.dump({"originals": originals}, fh)
    # simulate the mid-delete crash: one original already gone
    os.remove(os.path.join(leaf, originals[0]))

    with caplog.at_level(logging.WARNING, logger="my_feast_spark"):
        stats = compact_table(spark, path, min_files=2)
    assert stats["healed_finished"] == 1
    (msg,) = _heal_logs(caplog)
    assert leaf in msg and "finishing a committed compaction" in msg
    assert not os.path.exists(staging)
    assert _content(spark, path) == want
    assert len(_data_files(path)["day=2024-01-02"]) == 1


def test_heal_aborts_truncated_marker(spark, tmp_path):
    """Crash mid-marker-write (pre-atomic-rename protocol): an
    unparsable _COMMIT.json means the commit point was never reached —
    originals are intact and authoritative, so the heal must ABORT the
    staging dir instead of wedging the leaf on JSONDecodeError."""
    path = str(tmp_path / "t5")
    _fragmented_table(spark, path)
    want = _content(spark, path)
    leaf = os.path.join(path, "day=2024-01-01")
    staging = os.path.join(leaf, _STAGING)
    os.makedirs(staging)
    spark.createDataFrame([Row(v=-1)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(staging, "job-dead"))
    # a torn, truncated marker
    with open(os.path.join(staging, "_COMMIT.json"), "w") as fh:
        fh.write('{"originals": ["part-0')

    stats = compact_table(spark, path, min_files=2)
    assert stats["healed_aborted"] == 1
    assert not os.path.exists(staging)
    assert _content(spark, path) == want
    # the heal also re-ran the compaction on the healed leaf this pass
    assert stats["leaves_compacted"] == 2
