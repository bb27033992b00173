"""Versioned parquet tables (sources/versioned.py): atomic manifest
commits, time travel, torn-commit invisibility, rename-arbitrated
concurrency, vacuum safety."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from my_feast_spark.sources.versioned import (
    list_versions,
    read_version,
    vacuum,
    write_version,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = write_version(_df(spark, 0, 100, "a"), path)
    v1 = write_version(_df(spark, 100, 150, "b"), path, mode="append")
    v2 = write_version(_df(spark, 500, 510, "c"), path, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert list_versions(spark, path) == [0, 1, 2]

    assert read_version(spark, path, 0).count() == 100
    assert read_version(spark, path, 1).count() == 150
    assert _rows(read_version(spark, path, 2)) == _rows(
        _df(spark, 500, 510, "c")
    )
    # latest by default; v1 content is v0 ∪ the append
    assert _rows(read_version(spark, path)) == _rows(
        _df(spark, 500, 510, "c")
    )
    assert _rows(read_version(spark, path, 1)) == _rows(
        _df(spark, 0, 100, "a").unionByName(_df(spark, 100, 150, "b"))
    )


def test_torn_commit_is_invisible_and_vacuumed(spark, tmp_path):
    """Data directory written, manifest never published (the crash
    window): readers never see it; vacuum removes the orphan."""
    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 10, "a"), path)
    # plant a torn commit: data dir without a manifest
    _df(spark, 900, 950, "torn").write.parquet(f"{path}/data/vdeadbeef0000")
    assert read_version(spark, path).count() == 10
    rep = vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert rep["removed_dirs"] == 1
    assert read_version(spark, path).count() == 10
    assert not os.path.exists(f"{path}/data/vdeadbeef0000")


def test_vacuum_logs_each_stale_temp_manifest(spark, tmp_path, caplog):
    """A crashed commit's unpublished ``.tmp-`` manifest is deleted by
    vacuum once past the grace window, with one WARNING record on the
    ``my_feast_spark`` logger naming the table and the file."""
    import logging

    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 10, "a"), path)
    stale = os.path.join(path, "_vlog", ".tmp-1-deadbeef")
    with open(stale, "w") as fh:
        json.dump({"version": 1}, fh)
    old = os.path.getmtime(stale) - 3600
    os.utime(stale, (old, old))
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="my_feast_spark"):
        vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert not os.path.exists(stale)
    (rec,) = [r for r in caplog.records if r.name == "my_feast_spark"]
    assert rec.levelno == logging.WARNING
    msg = rec.getMessage()
    assert path in msg and ".tmp-1-deadbeef" in msg
    assert read_version(spark, path).count() == 10


def test_version_number_race_is_rename_arbitrated(spark, tmp_path):
    """If another writer publishes N first, the loser's rename fails
    and it retries at N+1 with the winner as parent — simulate by
    pre-claiming the next version id mid-protocol."""
    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 10, "a"), path)  # v0
    # another writer claims v1 out from under us (a same-format
    # manifest: v0's, re-stamped as an append on top of it)
    winner = {
        **json.load(open(f"{path}/_vlog/0.json")),
        "version": 1, "parent": 0, "mode": "append",
    }
    with open(f"{path}/_vlog/1.json", "w") as fh:
        json.dump(winner, fh)
    v = write_version(_df(spark, 10, 20, "b"), path, mode="append")
    assert v == 2
    # the append chained off the WINNER as parent (sees v0's rows too)
    assert read_version(spark, path, 2).count() == 20
    m2 = json.load(open(f"{path}/_vlog/2.json"))
    assert m2["parent"] == 1
    # no stale temp manifests left behind
    assert not [
        f for f in os.listdir(f"{path}/_vlog") if f.startswith(".tmp-")
    ]


def test_vacuum_keeps_retained_versions_working(spark, tmp_path):
    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 10, "a"), path)                  # v0
    write_version(_df(spark, 10, 20, "b"), path, mode="append")  # v1
    write_version(_df(spark, 90, 95, "c"), path, mode="overwrite")  # v2
    write_version(_df(spark, 20, 30, "d"), path, mode="append")  # v3
    rep = vacuum(spark, path, keep_last=2, grace_seconds=0)
    assert rep["retained_versions"] == [2, 3]
    # v2's and v3's dirs survive; v0/v1's two dirs are gone (they are
    # referenced by no retained manifest)
    assert rep["dropped_manifests"] == 2
    assert rep["removed_dirs"] == 2
    assert read_version(spark, path, 2).count() == 5
    assert read_version(spark, path, 3).count() == 15
    with pytest.raises(ValueError, match="not in committed set"):
        read_version(spark, path, 0)
    # idempotent
    rep2 = vacuum(spark, path, keep_last=2, grace_seconds=0)
    assert rep2["removed_dirs"] == 0 and rep2["dropped_manifests"] == 0


def test_missing_table_and_bad_args_are_loud(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed versions"):
        read_version(spark, str(tmp_path / "absent"))
    with pytest.raises(ValueError, match="unknown mode"):
        write_version(_df(spark, 0, 1, "a"), str(tmp_path / "t"), mode="merge")
    path = str(tmp_path / "t2")
    write_version(_df(spark, 0, 1, "a"), path)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(spark, path, keep_last=0)


def test_composes_with_skipping_sidecar(spark, tmp_path):
    """The manifest lists directories, so per-directory layout
    artifacts (the skipping sidecar) compose: stats written against a
    version's data dir keep pruning when read through the log."""
    from my_feast_spark.sources.skipping import (
        scan_with_skipping,
        write_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(40_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartitionByRange(8, "id")  # disjoint id ranges -> prunable files
    write_version(df, path, mode="overwrite")
    m = json.load(open(f"{path}/_vlog/0.json"))
    ddir = f"{path}/{m['dirs'][0]}"
    write_file_stats(ddir, ["id"], spark=spark)
    pruned, rep = scan_with_skipping(spark, ddir, {"id": (0, 100)})
    assert rep["files_read"] < rep["files_total"]
    assert pruned.count() == 101


def test_upsert_updates_and_inserts_in_one_version(spark, tmp_path):
    from my_feast_spark.sources.versioned import upsert_version

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "tag", "v"]
    )
    write_version(base, path)
    incoming = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], ["k", "tag", "v"]
    )
    v = upsert_version(incoming, path, ["k"])
    assert v == 1
    got = {r["k"]: (r["tag"], r["v"]) for r in read_version(spark, path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}
    # pre-merge state still time-travels
    old = {r["k"]: r["v"] for r in read_version(spark, path, 0).collect()}
    assert old == {1: 10, 2: 20, 3: 30}


def test_checkpoint_collapses_append_chain(spark, tmp_path):
    from my_feast_spark.sources.versioned import checkpoint_version

    path = str(tmp_path / "t")
    for i in range(5):
        write_version(
            _df(spark, i * 10, (i + 1) * 10, f"b{i}"), path,
            mode="append" if i else "overwrite",
        )
    before = _rows(read_version(spark, path))
    m4 = json.load(open(f"{path}/_vlog/4.json"))
    assert len(m4["dirs"]) == 5  # the append chain
    v = checkpoint_version(spark, path)
    m5 = json.load(open(f"{path}/_vlog/{v}.json"))
    assert len(m5["dirs"]) == 1  # collapsed
    assert _rows(read_version(spark, path)) == before
    rep = vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert rep["removed_dirs"] == 5
    assert _rows(read_version(spark, path)) == before


def test_naive_root_read_fails_loudly(spark, tmp_path):
    """Reading the table ROOT directly (bypassing the log) must never
    silently union every version's files: the layout keeps data inside
    non-hive subdirectories, so a naive spark.read.parquet(root) finds
    no leaf files and errors — go through read_version."""
    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 5, "a"), path)
    write_version(_df(spark, 5, 9, "b"), path, mode="append")
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(path).count()


def test_read_version_with_skipping_prunes_across_commits(spark, tmp_path):
    """Commits written with stats_cols carry per-directory sidecars;
    the pruned time-travel read sums the per-directory reports and
    returns exactly the predicate rows — log picks directories,
    sidecars pick files."""
    from my_feast_spark.sources.versioned import read_version_with_skipping

    path = str(tmp_path / "t")
    a = spark.range(0, 20_000).select(F.col("id")).repartitionByRange(4, "id")
    b = spark.range(20_000, 40_000).select(F.col("id")).repartitionByRange(
        4, "id"
    )
    write_version(a, path, mode="overwrite", stats_cols=["id"])
    write_version(b, path, mode="append", stats_cols=["id"])

    df, rep = read_version_with_skipping(spark, path, {"id": (100, 300)})
    assert rep["files_total"] == 8
    assert rep["files_read"] < rep["files_total"]
    assert df.count() == 201

    # version 0 alone: half the files, same pruning contract
    df0, rep0 = read_version_with_skipping(
        spark, path, {"id": (100, 300)}, version=0
    )
    assert rep0["files_total"] == 4 and df0.count() == 201

    # a commit WITHOUT stats makes the pruned read loud, not silent
    write_version(
        spark.range(50_000, 50_100).select("id"), path, mode="append"
    )
    with pytest.raises(RuntimeError, match="run write_file_stats"):
        read_version_with_skipping(spark, path, {"id": (100, 300)})


def test_checkpoint_with_zorder_and_stats_is_delta_optimize(spark, tmp_path):
    """checkpoint_version(zorder_by=..., stats_cols=...) = compact +
    cluster + sweep in one commit: contents identical, the new
    directory carries a sidecar, and a pruned read on the z-ordered
    column skips files."""
    from my_feast_spark.sources.versioned import (
        checkpoint_version,
        read_version_with_skipping,
    )

    path = str(tmp_path / "t")
    for i in range(4):
        write_version(
            spark.range(i * 10_000, (i + 1) * 10_000).select(
                F.col("id"), (F.col("id") % 1000).alias("a")
            ),
            path,
            mode="append" if i else "overwrite",
        )
    before = _rows(read_version(spark, path))
    v = checkpoint_version(
        spark, path, zorder_by=["id", "a"], stats_cols=["id", "a"],
        num_files=8,
    )
    assert _rows(read_version(spark, path, v)) == before
    df, rep = read_version_with_skipping(
        spark, path, {"id": (0, 500)}, version=v
    )
    assert rep["files_total"] == 8
    assert rep["files_read"] < rep["files_total"]
    assert df.count() == 501


def test_vacuum_grace_protects_inflight_commits(spark, tmp_path):
    """Review-caught race: a data directory written but not yet
    published (a commit in flight) must survive a concurrent vacuum —
    the grace window treats young unreferenced directories as
    in-flight, not garbage; old ones still collect."""
    path = str(tmp_path / "t")
    write_version(_df(spark, 0, 10, "a"), path)
    # an in-flight commit: data written, manifest not yet renamed
    _df(spark, 100, 110, "inflight").write.parquet(
        f"{path}/data/vinflight00001"
    )
    rep = vacuum(spark, path, keep_last=1, grace_seconds=3600)
    assert rep["removed_dirs"] == 0  # young + unreferenced -> protected
    assert os.path.exists(f"{path}/data/vinflight00001")
    # with the guard off (single-writer maintenance) it is garbage
    rep = vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert rep["removed_dirs"] == 1
    assert not os.path.exists(f"{path}/data/vinflight00001")


def test_upsert_conflicts_instead_of_losing_concurrent_commit(
    spark, tmp_path
):
    """Review-caught lost update: an upsert computed from version P
    must refuse to publish once the table moved past P — simulate the
    concurrent append by committing between the upsert's read and its
    publish via a monkeypatched write."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 10)], ["k", "v"]), path
    )

    real_write = V.write_version
    fired = {"done": False}

    def racing_write(df, p, **kw):
        # first entry from upsert: sneak a concurrent append in first
        if kw.get("expected_parent") is not None and not fired["done"]:
            fired["done"] = True
            real_write(
                spark.createDataFrame([(9, 90)], ["k", "v"]), p,
                mode="append",
            )
        return real_write(df, p, **kw)

    V.write_version, orig = racing_write, V.write_version
    try:
        with pytest.raises(V.VersionConflictError, match="expected parent"):
            V.upsert_version(
                spark.createDataFrame([(1, 11)], ["k", "v"]), path, ["k"]
            )
    finally:
        V.write_version = orig
    # the concurrent append's row is intact; retrying the merge now
    # sees it and succeeds
    V.upsert_version(
        spark.createDataFrame([(1, 11)], ["k", "v"]), path, ["k"]
    )
    got = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert got == {1: 11, 9: 90}


def test_stray_vlog_json_is_ignored(spark, tmp_path):
    """Advisor-caught: a stray non-numeric json under _vlog (editor
    backup, tooling artifact) must not poison every read/write/vacuum
    with a ValueError from int()."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    v0 = V.write_version(
        spark.createDataFrame([(1, 10)], ["k", "v"]), path, mode="append"
    )
    (tmp_path / "t" / "_vlog" / "notes.json").write_text("{}")
    (tmp_path / "t" / "_vlog" / "3.json.bak").write_text("{}")
    assert V.list_versions(spark, path) == [v0]
    assert V.read_version(spark, path).count() == 1
    v1 = V.write_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, mode="append"
    )
    assert v1 == v0 + 1
    V.vacuum(spark, path, keep_last=2, grace_seconds=0.0)
    assert V.read_version(spark, path).count() == 2


def test_upsert_and_checkpoint_on_empty_table_are_loud(spark, tmp_path):
    """Advisor-caught: upsert/checkpoint on a path with no committed
    versions raise the read path's FileNotFoundError, not a bare
    IndexError."""
    import pytest as _pytest

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "nothing")
    with _pytest.raises(FileNotFoundError, match="no committed versions"):
        V.upsert_version(
            spark.createDataFrame([(1, 1)], ["k", "v"]), path, ["k"]
        )
    with _pytest.raises(FileNotFoundError, match="no committed versions"):
        V.checkpoint_version(spark, path)


def test_checkpoint_if_due_bounds_reader_chain(spark, tmp_path):
    """The incremental checkpoint hook: appends grow the directory
    chain until max_dirs, then one checkpoint collapses it to a single
    directory — content identical throughout, old versions still
    time-travel until vacuumed."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")

    def chain_len():
        vs = V.list_versions(spark, path)
        jvm, fs = V._fs(spark, path)
        return len(V._read_manifest(jvm, fs, path, vs[-1])["dirs"])

    total = 0
    checkpoints = 0
    for i in range(9):
        V.write_version(
            spark.createDataFrame([(i, i * 10)], ["k", "v"]), path,
            mode="append",
        )
        total += 1
        if V.checkpoint_if_due(spark, path, max_dirs=4) is not None:
            checkpoints += 1
        assert chain_len() < 4 or chain_len() == 1
        assert V.read_version(spark, path).count() == total
    assert checkpoints == 2  # chains of 4 collapsed twice in 9 appends
    assert V.checkpoint_if_due(spark, path, max_dirs=4) is None  # not due
    # empty table: no-op, not an error
    assert V.checkpoint_if_due(spark, str(tmp_path / "none")) is None


def test_schema_evolution_is_gated_and_reads_plan_with_log_schema(
    spark, tmp_path
):
    """Delta's fourth lever: appends adding columns need
    merge_schema=True, type changes always raise, reads plan with the
    manifest's recorded schema (old directories serve NULLs for newer
    columns, each version time-travels with its own shape)."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path)
    wide = spark.createDataFrame([(2, 20, "x")], ["k", "v", "w"])

    with pytest.raises(V.SchemaEvolutionError, match="merge_schema=True"):
        V.write_version(wide, path, mode="append")
    assert V.list_versions(spark, path) == [0]  # nothing committed

    v1 = V.write_version(wide, path, mode="append", merge_schema=True)
    latest = V.read_version(spark, path)
    assert latest.columns == ["k", "v", "w"]
    got = {r["k"]: (r["v"], r["w"]) for r in latest.collect()}
    assert got == {1: (10, None), 2: (20, "x")}  # old dir serves NULL w
    # each version keeps its own shape
    assert V.read_version(spark, path, 0).columns == ["k", "v"]

    # a type change is never allowed, merge_schema or not
    retyped = spark.createDataFrame([("no", 1, "y")], ["k", "v", "w"])
    with pytest.raises(V.SchemaEvolutionError, match="type changes"):
        V.write_version(retyped, path, mode="append", merge_schema=True)

    # appends MISSING a table column are fine: the scan fills NULLs
    v2 = V.write_version(
        spark.createDataFrame([(3, 30)], ["k", "v"]), path, mode="append"
    )
    assert v2 == v1 + 1
    got = {r["k"]: r["w"] for r in V.read_version(spark, path).collect()}
    assert got == {1: None, 2: "x", 3: None}

    # checkpoint + upsert keep working over the evolved table
    V.checkpoint_version(spark, path, num_files=1)
    assert V.read_version(spark, path).count() == 3
    jvm, fs = V._fs(spark, path)
    m = V._read_manifest(jvm, fs, path, V.list_versions(spark, path)[-1])
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", "v", "w"]

    # an overwrite RESETS the schema contract
    V.write_version(
        spark.createDataFrame([(9,)], ["z"]), path, mode="overwrite"
    )
    assert V.read_version(spark, path).columns == ["z"]


def test_skipping_read_spans_evolved_commits(spark, tmp_path):
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10)], ["k", "v"]), path,
        stats_cols=["k"],
    )
    V.write_version(
        spark.createDataFrame([(5, 50, "x")], ["k", "v", "w"]), path,
        mode="append", stats_cols=["k"], merge_schema=True,
    )
    df, rep = V.read_version_with_skipping(spark, path, {"k": (5, 9)})
    rows = df.collect()
    assert [(r["k"], r["w"]) for r in rows] == [(5, "x")]
    assert rep["files_skipped"] >= 1  # the k=1 commit pruned


def test_delete_version_sql_semantics(spark, tmp_path):
    """DELETE WHERE: matching rows go, NULL-predicate rows STAY, old
    versions time-travel, the txn history survives the rewrite."""
    from pyspark.sql import Row

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame(
            [Row(k=1, v=5), Row(k=2, v=15), Row(k=3, v=None)]
        ),
        path, txn=("app", 0),
    )
    v_del = V.delete_version(spark, path, "v > 10")
    got = {r["k"] for r in V.read_version(spark, path).collect()}
    assert got == {1, 3}  # k=2 deleted; k=3 (NULL predicate) kept
    assert V.read_version(spark, path, v_del - 1).count() == 3

    # txn record carried: the replay of batch 0 after the delete is a
    # no-op
    latest = V.list_versions(spark, path)[-1]
    assert V.write_version(
        spark.createDataFrame([Row(k=1, v=5)]), path, txn=("app", 0)
    ) == latest

    # Column condition + conflict pinning
    from pyspark.sql import functions as F

    V.delete_version(spark, path, F.col("k") == 3)
    assert {r["k"] for r in V.read_version(spark, path).collect()} == {1}

    with pytest.raises(FileNotFoundError):
        V.delete_version(spark, str(tmp_path / "none"), "k = 1")
    with pytest.raises(TypeError):
        V.delete_version(spark, path, 42)


def test_skipping_predicate_on_evolved_column(spark, tmp_path):
    """Review-caught: a predicate on a merge_schema-added column must
    resolve against pre-evolution directories (as all-NULL, matching
    nothing) instead of failing analysis."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10)], ["k", "v"]), path,
        stats_cols=["k"],
    )
    V.write_version(
        spark.createDataFrame([(2, 20, 7)], ["k", "v", "score"]), path,
        mode="append", stats_cols=["k"], merge_schema=True,
    )
    df, rep = V.read_version_with_skipping(spark, path, {"score": (0, 10)})
    assert [(r["k"], r["score"]) for r in df.collect()] == [(2, 7)]
    assert rep["files_total"] == rep["files_read"] + rep["files_skipped"]


def test_restore_version_is_manifest_only(spark, tmp_path):
    """RESTORE TO VERSION: one manifest write, no data rewrite — the
    restored manifest references the old version's directories; history
    keeps time-traveling; vacuum protects the restored dirs again; the
    txn record survives the restore."""
    import os

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path,
                    txn=("app", 0))
    V.write_version(spark.createDataFrame([(2, 20)], ["k", "v"]), path,
                    mode="append", txn=("app", 1))
    V.write_version(spark.createDataFrame([(9, 90)], ["k", "v"]), path,
                    mode="overwrite")  # bad deploy

    def data_dirs():
        return sorted(os.listdir(os.path.join(path, "data")))

    before = data_dirs()
    v3 = V.restore_version(spark, path, 1)
    assert data_dirs() == before  # no data written
    got = {r["k"] for r in V.read_version(spark, path).collect()}
    assert got == {1, 2}
    # the rolled-back version still time-travels
    assert {r["k"] for r in V.read_version(spark, path, 2).collect()} == {9}
    # restoring the latest is a no-op
    assert V.restore_version(spark, path, v3) == v3
    # vacuum keeps the restored dirs (referenced by the latest manifest)
    V.vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert {r["k"] for r in V.read_version(spark, path).collect()} == {1, 2}
    with pytest.raises(ValueError, match="cannot be restored"):
        V.restore_version(spark, path, 0)  # vacuumed away

    # note: the plain overwrite at v2 reset the txn history, and the
    # restore carries the CURRENT (post-reset) history — batch 1
    # reapplies, which matches "overwrite starts a new table history"
    jvm, fs = V._fs(spark, path)
    m = V._read_manifest(jvm, fs, path, V.list_versions(spark, path)[-1])
    assert m.get("restored_from") == 1


def test_diff_versions_reports_added_removed_changed(spark, tmp_path):
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], ["k", "v"]
        ), path,
    )
    # v1: k=2 changed, k=3 removed, k=4 added (one keyed upsert-ish
    # overwrite), plus a schema-evolved column on the new side
    V.write_version(
        spark.createDataFrame(
            [(1, 10, None), (2, 99, "x"), (4, 40, None)],
            "k long, v long, w string",
        ), path, mode="overwrite",
    )
    got = {
        r["k"]: r["change"]
        for r in V.diff_versions(spark, path, 0, 1, ["k"]).collect()
    }
    # k=1 gains only a NULL w -> still "changed"? No: NULL w vs absent w
    # compare equal through the typed-NULL alignment -> unchanged.
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_timestamp_as_of_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: versions resolve by the manifest's committed_at
    stamp — between two commits the earlier one wins, before all
    retained commits raises, and the stamp lives in the log (not file
    mtimes)."""
    import time

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    t_before = time.time() - 1.0
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path)
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    V.write_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, mode="append"
    )

    assert V.version_at_timestamp(spark, path, t_mid) == 0
    assert V.version_at_timestamp(spark, path, time.time() + 1) == 1
    assert V.read_version(spark, path, as_of_timestamp=t_mid).count() == 1
    assert V.read_version(
        spark, path, as_of_timestamp=time.time() + 1
    ).count() == 2

    import datetime as dt_

    # datetime input works too
    assert V.read_version(
        spark, path,
        as_of_timestamp=dt_.datetime.now() + dt_.timedelta(seconds=1),
    ).count() == 2

    with pytest.raises(ValueError, match="oldest retained commit"):
        V.version_at_timestamp(spark, path, t_before)
    with pytest.raises(ValueError, match="not both"):
        V.read_version(spark, path, 0, as_of_timestamp=t_mid)


def _strip_manifest_field(path, version, field):
    """Rewrite a committed manifest out-of-band without ``field``; drop
    Hadoop LocalFS's checksum sidecar, stale after the edit."""
    mpath = os.path.join(path, "_vlog", f"{version}.json")
    with open(mpath) as f:
        m = json.load(f)
    del m[field]
    with open(mpath, "w") as f:
        json.dump(m, f)
    crc = os.path.join(path, "_vlog", f".{version}.json.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_timestamp_as_of_stamp_stripped_manifest_raises(spark, tmp_path):
    """A manifest WITHOUT committed_at has no publish time to resolve
    TIMESTAMP AS OF against: the log has one format, so resolution
    raises a ValueError naming the manifest and the field instead of
    sorting the commit at an invented time."""
    import time

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    t_before = time.time() - 1.0
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path)
    V.write_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, mode="append"
    )
    _strip_manifest_field(path, 1, "committed_at")

    for ts in (t_before, time.time() + 1):
        with pytest.raises(ValueError, match="committed_at") as exc:
            V.version_at_timestamp(spark, path, ts)
        assert os.path.join("_vlog", "1.json") in str(exc.value)


def test_read_version_schema_stripped_manifest_raises(spark, tmp_path):
    """A manifest WITHOUT a recorded schema is never read by footer
    inference: read_version raises a ValueError naming the manifest and
    the field, and the untouched version still reads."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path)
    V.write_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, mode="append"
    )
    _strip_manifest_field(path, 1, "schema")

    with pytest.raises(ValueError, match="'schema'") as exc:
        V.read_version(spark, path)
    assert os.path.join("_vlog", "1.json") in str(exc.value)
    assert V.read_version(spark, path, 0).count() == 1


def test_diff_versions_append_chain_is_manifest_arithmetic(
    spark, tmp_path
):
    """CDF-lite: a diff across an append-only chain must read ONLY the
    directories the appends added — never the two snapshots — and
    produce exactly what the snapshot join produces. Across a
    non-append boundary it must fall back to the join."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]), path
    )
    V.write_version(
        spark.createDataFrame([(3, 30)], ["k", "v"]), path, mode="append"
    )
    V.write_version(
        spark.createDataFrame([(4, 40), (5, 50)], ["k", "v"]),
        path, mode="append",
    )

    fast = V.diff_versions(spark, path, 0, 2, ["k"])
    join = V.diff_versions(
        spark, path, 0, 2, ["k"], prefer_manifest_delta=False
    )
    rows = sorted(tuple(r) for r in fast.collect())
    assert rows == sorted(tuple(r) for r in join.collect())
    assert rows == [(3, "added"), (4, "added"), (5, "added")]

    # the fast path's relation IS the added-dirs scan: its input files
    # all live under the two appended commit dirs, none under v0's
    with open(os.path.join(path, "_vlog", "0.json")) as f:
        v0_dirs = set(json.load(f)["dirs"])
    with open(os.path.join(path, "_vlog", "2.json")) as f:
        v2_dirs = set(json.load(f)["dirs"])
    added = v2_dirs - v0_dirs
    files = fast.inputFiles()
    assert files and all(
        any(f"/{d}/" in f for d in added) for f in files
    ), files
    assert not any(
        any(f"/{d}/" in f for d in v0_dirs) for f in files
    ), files
    # the snapshot join scans BOTH snapshots (v0's dirs included)
    assert any(
        any(f"/{d}/" in f for d in v0_dirs) for f in join.inputFiles()
    )

    # same-version diff: empty, still no snapshot scan needed
    assert V.diff_versions(spark, path, 1, 1, ["k"]).count() == 0

    # a keyed upsert touching k=3 ends the PURE-append arithmetic;
    # since round 16 the diff composes its change sidecar instead of
    # joining snapshots (pinned by
    # test_diff_versions_composes_across_keyed_rewrites) — either
    # path must see the CHANGE
    V.upsert_version(
        spark.createDataFrame([(3, 99)], ["k", "v"]), path, ["k"]
    )
    got = {
        r["k"]: r["change"]
        for r in V.diff_versions(spark, path, 0, 3, ["k"]).collect()
    }
    assert got == {3: "added", 4: "added", 5: "added"}
    got2 = {
        r["k"]: r["change"]
        for r in V.diff_versions(spark, path, 2, 3, ["k"]).collect()
    }
    assert got2 == {3: "changed"}


def test_partition_by_passthrough_prunes_reads(spark, tmp_path):
    """partition_by= writes hive-partitioned commit directories (the
    reference's created= date layout) — a partition predicate through
    read_version then reads ONLY the matching leaf directories of
    every commit, the layout is manifest-recorded and enforced across
    appends, and content-preserving rewrites inherit it."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    days = [f"2024-01-{d:02d}" for d in (1, 2, 3)]
    df = spark.createDataFrame(
        [(i, days[i % 3]) for i in range(30)], ["id", "created"]
    )
    V.write_version(df, path, partition_by=["created"])
    df2 = spark.createDataFrame(
        [(100 + i, days[i % 3]) for i in range(30)], ["id", "created"]
    )
    V.write_version(df2, path, mode="append", partition_by=["created"])

    cur = V.read_version(spark, path)
    assert cur.count() == 60
    # the recorded schema keeps the partition column's declared type
    # (hive inference alone would type a yyyy-MM-dd value as DATE)
    assert dict(cur.dtypes)["created"] == "string"

    def files_read(df_):
        return {
            r.f for r in df_.select(F.input_file_name().alias("f"))
            .distinct().collect()
        }

    pred = cur.where(F.col("created") == "2024-01-02")
    assert pred.count() == 20
    got = files_read(pred)
    assert got and all("created=2024-01-02" in f for f in got)
    # optimized write: ONE file per partition value per commit (the
    # unshuffled input spans many partitions — without the pre-write
    # shuffle each commit would spray input_partitions x values tiny
    # files, probe 10b)
    assert len(got) == 2  # 2 commits x 1 file for this date
    assert len(files_read(cur)) == 6  # 2 commits x 3 dates
    # ... and it is a strict subset of the full scan (both commits
    # contribute, each pruned to one of its three leaf dirs)
    assert got < files_read(cur)

    # an append naming NO layout ADOPTS the table's (review-caught: a
    # plain append — a stream's batch — must not wedge after an
    # operator partitions the table)...
    v_adopt = V.write_version(
        spark.createDataFrame([(900, days[0])], ["id", "created"]),
        path, mode="append",
    )
    with open(f"{path}/_vlog/{v_adopt}.json") as fh:
        assert json.load(fh)["partition_by"] == ["created"]
    assert V.read_version(spark, path).count() == 61
    # ...but an append naming a DIFFERENT layout is loud, never a
    # broken directory list
    with pytest.raises(V.SchemaEvolutionError, match="partition_by"):
        V.write_version(df, path, mode="append", partition_by=["id"])

    # checkpoint inherits the table layout (manifest-recorded), and the
    # collapsed single-directory version still partition-prunes
    v = V.checkpoint_version(spark, path)
    with open(f"{path}/_vlog/{v}.json") as fh:
        assert json.load(fh)["partition_by"] == ["created"]
    pred2 = V.read_version(spark, path, v).where(
        F.col("created") == "2024-01-03"
    )
    assert pred2.count() == 20
    got2 = files_read(pred2)
    assert got2 and all("created=2024-01-03" in f for f in got2)

    # delete_version keeps the layout too
    v3 = V.delete_version(spark, path, F.col("created") == "2024-01-01")
    with open(f"{path}/_vlog/{v3}.json") as fh:
        assert json.load(fh)["partition_by"] == ["created"]
    assert V.read_version(spark, path).count() == 40


def test_zorder_checkpoint_of_partitioned_table(spark, tmp_path):
    """Interplay pin: a z-ordered checkpoint of a hive-partitioned
    table keeps the table's partition layout (manifest-recorded,
    pruned reads still work), keeps content bit-identical, and the
    z-order path skips the optimized-write shuffle (the z layout owns
    the task shape)."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    days = [f"2024-02-{d:02d}" for d in (1, 2)]
    df = spark.createDataFrame(
        [(i, (i * 37) % 100, days[i % 2]) for i in range(400)],
        ["id", "x", "created"],
    )
    V.write_version(df, path, partition_by=["created"])
    V.write_version(
        df.select((F.col("id") + 1000).alias("id"), "x", "created"),
        path, mode="append", partition_by=["created"],
    )
    before = _rows(V.read_version(spark, path))

    v = V.checkpoint_version(
        spark, path, zorder_by=["id", "x"], num_files=4
    )
    with open(f"{path}/_vlog/{v}.json") as fh:
        m = json.load(fh)
    assert m["partition_by"] == ["created"]
    assert len(m["dirs"]) == 1
    after = V.read_version(spark, path, v)
    assert _rows(after) == before
    # pruned read over the checkpointed layout
    pred = after.where(F.col("created") == days[0])
    files = {
        r.f for r in pred.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert files and all(f"created={days[0]}" in f for f in files)


def test_stats_sidecar_composes_with_partitioned_commits(
    spark, tmp_path
):
    """stats_cols + partition_by on one commit: the sidecar sweep walks
    the hive layout (partition values recorded as exact point stats),
    so read_version_with_skipping prunes BOTH on the data column range
    and on the partition value."""
    from my_feast_spark.sources.versioned import (
        read_version_with_skipping,
    )

    path = str(tmp_path / "t")
    days = [f"2024-03-{d:02d}" for d in (1, 2, 3, 4)]
    df = spark.createDataFrame(
        [(i, days[i % 4]) for i in range(4000)], ["id", "created"]
    ).repartitionByRange(4, "id")  # disjoint id ranges -> prunable
    write_version(
        df, path, partition_by=["created"], stats_cols=["id"],
        optimized_write=False,  # keep the ranged layout: 4 ranges x 4 days
    )
    # partition-value predicate alone prunes 3/4 of the files
    got, rep = read_version_with_skipping(
        spark, path, {"created": ("2024-03-02", "2024-03-02")}
    )
    assert rep["files_total"] == 16
    assert rep["files_read"] == 4
    assert got.count() == 1000
    # combined with the data-column range: one file survives
    got2, rep2 = read_version_with_skipping(
        spark, path,
        {"created": ("2024-03-02", "2024-03-02"), "id": (0, 100)},
    )
    assert rep2["files_read"] == 1
    assert got2.count() == 25  # ids 1, 5, ..., 97 land on day 2


def test_diff_versions_composes_across_keyed_rewrites(spark, tmp_path):
    """Round-16 CDF lever: upsert/delete commits persist increment-
    sized change sidecars (op + full pre/post images) and checkpoints
    are marked content-preserving, so a diff across a mixed
    append/upsert/delete/checkpoint chain reads ONLY the appended
    directories and the sidecars — inputFiles-pinned, never a snapshot
    — and matches the snapshot join exactly, including a key whose
    update chain restores its original row (drops out of the diff)."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "v"]),
        path,
    )                                                             # v0
    V.write_version(
        spark.createDataFrame([(4, 40)], ["k", "v"]), path, mode="append"
    )                                                             # v1
    V.upsert_version(
        spark.createDataFrame([(2, 99), (5, 50)], ["k", "v"]), path, ["k"]
    )                                                             # v2
    V.checkpoint_version(spark, path)                             # v3
    V.delete_version(spark, path, "k = 3")                        # v4
    V.upsert_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, ["k"]
    )                                                             # v5: revert

    fast = V.diff_versions(spark, path, 0, 5, ["k"])
    join = V.diff_versions(
        spark, path, 0, 5, ["k"], prefer_manifest_delta=False
    )
    rows = sorted(tuple(r) for r in fast.collect())
    assert rows == sorted(tuple(r) for r in join.collect())
    assert rows == [(3, "removed"), (4, "added"), (5, "added")]

    # read-set pin: ONLY v1's added dir + the three sidecars; never a
    # v0 snapshot dir, never the checkpoint's rewritten directory
    ms = {}
    for i in range(6):
        with open(os.path.join(path, "_vlog", f"{i}.json")) as f:
            ms[i] = json.load(f)
    assert ms[3].get("op") == "checkpoint"
    sidecars = {ms[i]["changes"] for i in (2, 4, 5)}
    added_v1 = set(ms[1]["dirs"]) - set(ms[0]["dirs"])
    allowed = sidecars | added_v1
    files = fast.inputFiles()
    assert files and all(
        any(f"/{d}/" in f for d in allowed) for f in files
    ), files
    for banned in (
        set(ms[0]["dirs"]) | (set(ms[3]["dirs"]) - set(ms[2]["dirs"]))
    ):
        assert not any(f"/{banned}/" in f for f in files), banned
    # the snapshot join, by contrast, scans the v0 snapshot
    assert any(
        any(f"/{d}/" in f for d in ms[0]["dirs"])
        for f in join.inputFiles()
    )

    # a mid-chain window crossing only the upsert+checkpoint+delete
    got = {
        r["k"]: r["change"]
        for r in V.diff_versions(spark, path, 1, 4, ["k"]).collect()
    }
    exp = {
        r["k"]: r["change"]
        for r in V.diff_versions(
            spark, path, 1, 4, ["k"], prefer_manifest_delta=False
        ).collect()
    }
    assert got == exp == {2: "changed", 3: "removed", 5: "added"}

    # a checkpoint-only window is an empty diff with zero data reads
    ck_only = V.diff_versions(spark, path, 2, 3, ["k"])
    assert ck_only.count() == 0

    # change_feed=False commits don't describe their increment: the
    # diff over them falls back to the snapshot join (v0 dirs read)
    V.upsert_version(
        spark.createDataFrame([(6, 60)], ["k", "v"]), path, ["k"],
        change_feed=False,
    )                                                             # v6
    assert "changes" not in json.load(
        open(os.path.join(path, "_vlog", "6.json"))
    )
    fb = V.diff_versions(spark, path, 0, 6, ["k"])
    assert any(
        any(f"/{d}/" in f for d in ms[0]["dirs"])
        for f in fb.inputFiles()
    )
    got = {r["k"]: r["change"] for r in fb.collect()}
    assert got == {
        3: "removed", 4: "added", 5: "added", 6: "added"
    }


def test_change_sidecar_vacuum_and_conflict_lifecycle(spark, tmp_path):
    """Change sidecars follow the commit lifecycle: vacuum keeps a
    retained manifest's sidecar and reclaims a dropped one; a publish
    that loses its expected_parent race cleans its sidecar up."""
    import pytest as _pytest

    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]), path
    )                                                             # v0
    V.upsert_version(
        spark.createDataFrame([(1, 11)], ["k", "v"]), path, ["k"]
    )                                                             # v1
    V.upsert_version(
        spark.createDataFrame([(2, 22)], ["k", "v"]), path, ["k"]
    )                                                             # v2
    ch = {}
    for i in (1, 2):
        with open(os.path.join(path, "_vlog", f"{i}.json")) as f:
            ch[i] = json.load(f)["changes"]
    assert os.path.isdir(os.path.join(path, ch[1]))
    V.vacuum(spark, path, keep_last=1, grace_seconds=0)
    assert not os.path.exists(os.path.join(path, ch[1])), (
        "dropped manifest's sidecar must be reclaimed"
    )
    assert os.path.isdir(os.path.join(path, ch[2])), (
        "retained manifest's sidecar must survive vacuum"
    )

    # losing the expected_parent race cleans up the staged sidecar:
    # emulate the upsert-that-read-a-stale-parent with a direct
    # write_version carrying expected_parent=0 (the table is at v2)
    # plus a staged sidecar, mirroring upsert_version's cleanup path
    before = {
        d for d in os.listdir(os.path.join(path, "data"))
        if d.startswith("c")
    }
    ev = spark.createDataFrame([(9, 90)], ["k", "v"])
    with _pytest.raises(V.VersionConflictError):
        chdir = V._write_change_sidecar(spark, path, ev.selectExpr(
            "'insert' as _change_op",
            "CAST(NULL AS STRUCT<k BIGINT, v BIGINT>) as _change_pre",
            "struct(k, v) as _change_post",
        ))
        try:
            V.write_version(
                ev, path, mode="overwrite", expected_parent=0,
                _manifest_extra={"op": "upsert", "changes": chdir},
            )
        except Exception:
            # mirror upsert_version's cleanup contract
            jvm, fs = V._fs(spark, path)
            fs.delete(V._hpath(jvm, path, chdir), True)
            raise
    after = {
        d for d in os.listdir(os.path.join(path, "data"))
        if d.startswith("c")
    }
    assert after == before, "conflicted publish leaked its sidecar"


def test_optimized_write_auto_splits_hot_partition_values(spark, tmp_path):
    """optimized_write="auto" (the skew escape hatch, r15 verdict #7):
    a partition value whose row count exceeds the split target fans out
    across ceil(rows / target) writer tasks instead of serializing into
    one, cold values keep the one-file-per-value optimizeWrite shape,
    and the written rows are exactly the input (the salt lives only in
    the shuffle key)."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    # 9000 rows on the hot date, 50 on each of two cold dates
    df = spark.range(9100).select(
        F.col("id"),
        F.when(F.col("id") < 9000, F.lit("2024-01-01"))
        .when(F.col("id") < 9050, F.lit("2024-01-02"))
        .otherwise(F.lit("2024-01-03"))
        .alias("d"),
    )
    V.write_version(
        df, path, partition_by=["d"],
        optimized_write="auto", optimized_write_split_rows=2000,
    )

    def leaf_files(day):
        got = {
            r.f
            for r in V.read_version(spark, path)
            .where(F.col("d") == day)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert all(f"d={day}" in f for f in got)
        return got

    hot, cold2, cold3 = (
        leaf_files("2024-01-01"), leaf_files("2024-01-02"),
        leaf_files("2024-01-03"),
    )
    # ceil(9000/2000)=5 salt keys; hash-collisions in the shuffle may
    # merge some into one task, but the hot value must fan out and is
    # bounded by the salt modulus
    assert 2 <= len(hot) <= 5, hot
    assert len(cold2) == 1 and len(cold3) == 1
    # content identical to the input — the salt never reaches the rows
    got = sorted(
        tuple(r) for r in V.read_version(spark, path).collect()
    )
    assert got == sorted(tuple(r) for r in df.collect())
    assert V.read_version(spark, path).columns == ["id", "d"]

    # no skew -> auto degenerates to the plain optimizeWrite shape
    # (one file per value), byte-for-byte the same decision as True
    path2 = str(tmp_path / "t2")
    V.write_version(
        df.where(F.col("id") >= 9000), path2, partition_by=["d"],
        optimized_write="auto", optimized_write_split_rows=2000,
    )
    for day in ("2024-01-02", "2024-01-03"):
        got = {
            r.f
            for r in V.read_version(spark, path2)
            .where(F.col("d") == day)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert len(got) == 1

    # a bogus mode is loud
    with pytest.raises(ValueError, match="optimized_write"):
        V.write_version(
            df, str(tmp_path / "t3"), partition_by=["d"],
            optimized_write="fastest",
        )


def test_optimized_write_auto_threads_through_rewrites(spark, tmp_path):
    """upsert/delete/checkpoint rewrite the FULL table content, so the
    auto skew fan-out matters most there: the passthrough must reach
    write_version, fan the hot value out, and keep the rewrite's
    content exact."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    df = spark.range(5000).select(
        F.col("id"),
        F.when(F.col("id") < 4500, F.lit("h")).otherwise(F.lit("c"))
        .alias("d"),
    )
    V.write_version(df, path, partition_by=["d"])

    up = spark.createDataFrame(
        [(1, "h"), (6000, "h")], ["id", "d"]
    )
    V.upsert_version(
        up, path, ["id"],
        optimized_write="auto", optimized_write_split_rows=1000,
    )

    def hot_files():
        return {
            r.f
            for r in V.read_version(spark, path)
            .where(F.col("d") == "h")
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }

    assert len(hot_files()) >= 2  # 4501 hot rows / 1000 target
    assert V.read_version(spark, path).count() == 5001
    # delete + checkpoint keep the passthrough and the content
    V.delete_version(
        spark, path, F.col("id") == 6000,
        optimized_write="auto", optimized_write_split_rows=1000,
    )
    assert V.read_version(spark, path).count() == 5000
    V.checkpoint_version(
        spark, path,
        optimized_write="auto", optimized_write_split_rows=1000,
    )
    assert len(hot_files()) >= 2
    assert V.read_version(spark, path).count() == 5000
    got = sorted(r.id for r in V.read_version(spark, path).collect())
    assert got == sorted(range(5000))


def test_read_changes_per_commit_event_feed(spark, tmp_path):
    """read_changes (Delta's table_changes / CDF read): the raw
    per-commit event stream over a mixed append/upsert/delete/
    checkpoint chain — both update images, _commit_version attribution,
    checkpoint silence — and its per-key netting must reproduce
    diff_versions exactly."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    # v0: k=1..4  v1: +k=5,6  v2: upsert (update k=1, insert k=7)
    # v3: delete k=2  v4: checkpoint  v5: upsert (update k=1 again)
    V.write_version(
        spark.createDataFrame([(k, k * 10) for k in (1, 2, 3, 4)],
                              ["k", "v"]), path)
    V.write_version(
        spark.createDataFrame([(5, 50), (6, 60)], ["k", "v"]),
        path, mode="append")
    V.upsert_version(
        spark.createDataFrame([(1, 11), (7, 70)], ["k", "v"]), path, ["k"])
    V.delete_version(spark, path, F.col("k") == 2)
    V.checkpoint_version(spark, path)
    V.upsert_version(
        spark.createDataFrame([(1, 12)], ["k", "v"]), path, ["k"])

    ch = V.read_changes(spark, path, 0)
    assert ch.columns == ["k", "v", "_change_type", "_commit_version"]
    got = sorted(tuple(r) for r in ch.collect())
    assert got == sorted([
        (5, 50, "insert", 1), (6, 60, "insert", 1),
        (1, 10, "update_preimage", 2), (1, 11, "update_postimage", 2),
        (7, 70, "insert", 2),
        (2, 20, "delete", 3),
        (1, 11, "update_preimage", 5), (1, 12, "update_postimage", 5),
    ])

    # netting the feed per key == diff_versions (which composes the
    # same sidecars): first event's preimage vs last event's postimage
    net = sorted(
        (r.k, r.change)
        for r in V.diff_versions(spark, path, 0, 5, ["k"]).collect()
    )
    assert net == [(1, "changed"), (2, "removed"), (5, "added"),
                   (6, "added"), (7, "added")]

    # sub-ranges honor the (since, until] convention
    sub = sorted(
        tuple(r) for r in V.read_changes(spark, path, 2, 3).collect()
    )
    assert sub == [(2, 20, "delete", 3)]
    assert V.read_changes(spark, path, 3, 3).count() == 0
    # checkpoint-only range: structurally empty, zero events
    assert V.read_changes(spark, path, 3, 4).count() == 0

    # a plain overwrite breaks the feed loudly (Delta's CDC-not-enabled
    # error), while diff_versions still answers via the snapshot join
    V.write_version(
        spark.createDataFrame([(9, 90)], ["k", "v"]), path,
        mode="overwrite")
    with pytest.raises(V.ChangeFeedUnavailableError):
        V.read_changes(spark, path, 0)
    assert V.read_changes(spark, path, 5, 5).count() == 0
    d = {r.k: r.change
         for r in V.diff_versions(spark, path, 5, 6, ["k"]).collect()}
    assert d[9] == "added" and d[1] == "removed"

    # reserved-column clash is loud
    path2 = str(tmp_path / "t2")
    V.write_version(
        spark.createDataFrame([(1, "x")], ["k", "_change_type"]), path2)
    V.write_version(
        spark.createDataFrame([(2, "y")], ["k", "_change_type"]), path2,
        mode="append")
    with pytest.raises(ValueError, match="_change_type"):
        V.read_changes(spark, path2, 0)


def test_read_changes_serves_evolved_schema_with_nulls(spark, tmp_path):
    """Events from commits older than a column serve NULL for it, in
    the head version's schema (the read_version contract, applied to
    the feed)."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], ["k", "v"]), path)
    V.write_version(
        spark.createDataFrame([(2, 20)], ["k", "v"]), path, mode="append")
    V.write_version(
        spark.createDataFrame([(3, 30, "en")], ["k", "v", "lang"]),
        path, mode="append", merge_schema=True)
    ch = V.read_changes(spark, path, 0)
    assert ch.columns == ["k", "v", "lang", "_change_type",
                          "_commit_version"]
    got = {r.k: (r.lang, r._commit_version) for r in ch.collect()}
    assert got == {2: (None, 1), 3: ("en", 2)}


def test_optimized_write_auto_handles_null_partition_values(
    spark, tmp_path
):
    """The auto splits-relation join is NULL-safe (a hive layout holds
    NULL values as __HIVE_DEFAULT_PARTITION__): a hot NULL value fans
    out like any other and reads back as real NULLs."""
    from my_feast_spark.sources import versioned as V

    path = str(tmp_path / "t")
    df = spark.range(3000).select(
        F.col("id"),
        F.when(F.col("id") < 2500, F.lit(None).cast("string"))
        .otherwise(F.lit("a")).alias("d"),
    )
    V.write_version(
        df, path, partition_by=["d"],
        optimized_write="auto", optimized_write_split_rows=1000,
    )
    back = V.read_version(spark, path)
    assert back.where(F.col("d").isNull()).count() == 2500
    assert back.where(F.col("d") == "a").count() == 500
    null_files = {
        r.f for r in back.where(F.col("d").isNull())
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert len(null_files) >= 2  # 2500 rows / 1000 target fans out


def test_apply_changes_preserves_hive_layout(spark, tmp_path):
    """An apply commit inherits a partitioned mirror's layout (the
    content-preserving-rewrite adoption rule), so partition pruning
    keeps working across CDC applies."""
    from my_feast_spark.sources import versioned as V

    src = str(tmp_path / "src")
    V.write_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["k", "d", "v"]), src)
    V.upsert_version(
        spark.createDataFrame([(1, "a", 11), (3, "b", 30)],
                              ["k", "d", "v"]), src, ["k"])

    dst = str(tmp_path / "dst")
    V.write_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["k", "d", "v"]),
        dst, partition_by=["d"])
    V.apply_changes_version(V.read_changes(spark, src, 0), dst, ["k"])

    import json
    head = V.list_versions(spark, dst)[-1]
    with open(f"{dst}/_vlog/{head}.json") as fh:
        assert json.load(fh)["partition_by"] == ["d"]
    pruned = V.read_version(spark, dst).where(F.col("d") == "b")
    files = {
        r.f for r in pruned.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert files and all("d=b" in f for f in files)
    assert sorted((r.k, r.v) for r in pruned.collect()) == [
        (2, 20), (3, 30)]
