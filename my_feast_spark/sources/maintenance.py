"""Table maintenance: small-file compaction for batch parquet tables.

Every append-mode medallion run (sources/writers.py::write_partitioned,
the reference's ingest_taxy.py append idiom) adds one file set per run
per partition; at a 100 TB lake with hourly ingest that is the classic
small-file problem — scan cost becomes dominated by file-open overhead
and the NameNode/listing load grows without bound. ``compact_table`` is
the batch-data sibling of ``streaming/ingest.compact_index``: rewrite
each over-fragmented partition directory into size-targeted files,
preserving the hive layout (and therefore partition pruning) exactly.

Unlike the ingest indexes, data tables do NOT have set semantics — a
crash must never surface duplicates OR lose rows. Compaction therefore
runs per leaf directory with a commit protocol:

  1. the replacement files are written to a HIDDEN staging directory
     inside the leaf (dot-prefixed — parquet scans ignore it), so
     readers see only the original files while the rewrite runs;
  2. a ``_COMMIT.json`` marker naming the original files is written
     into staging — the commit point;
  3. the original files are deleted, the staged files move into the
     leaf, staging is removed.

Every crash window has a deterministic heal (run ``compact_table``
again — it heals before compacting):

  * staging without a marker → the rewrite never committed: staging is
    dropped, originals untouched (no loss, no dups);
  * staging with a marker → committed: any original named in the
    marker is deleted, remaining staged files move in (idempotent —
    re-running after a partial finish completes it).

Scale shape: leaf discovery is one recursive listing; each compacted
leaf is one column-complete read + coalesce(ceil(bytes/target)) +
write — no shuffle (coalesce narrows), no other leaf touched. Schedule
it like any table-maintenance job (per partition-age, per file-count
threshold). Concurrency: one compactor per table — like compact_index,
two racing compactors on one leaf would double-delete; appending
writers are safe (new files are never in the marker list and survive
untouched).
"""

from __future__ import annotations

import logging
import uuid

from pyspark.sql import SparkSession

from my_feast_spark.sources.generations import read_json, write_json

_STAGING = ".mfs_compact"
_MARKER = "_COMMIT.json"

_log = logging.getLogger("my_feast_spark")


def _list_leaves(fs, jvm, root_path) -> dict[str, list]:
    """Map leaf directory -> list of visible data FileStatus."""
    leaves: dict[str, list] = {}
    it = fs.listFiles(root_path, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith((".", "_")):
            continue
        parent = p.getParent().toString()
        if f"/{_STAGING}" in parent:
            continue
        leaves.setdefault(parent, []).append(st)
    return leaves


def _heal_leaf(fs, jvm, leaf: str) -> str | None:
    """Finish or abort an interrupted compaction of one leaf, logging
    the outcome at WARNING on ``my_feast_spark``.

    Returns "finished", "aborted", or None (no staging present)."""
    staging = jvm.org.apache.hadoop.fs.Path(leaf, _STAGING)
    if not fs.exists(staging):
        return None
    marker = jvm.org.apache.hadoop.fs.Path(staging, _MARKER)
    originals = None  # no marker: never committed, originals authoritative
    if fs.exists(marker):
        try:
            (doc,) = read_json([marker.toString()])
            originals = set(doc["originals"])
        except (ValueError, KeyError):
            # Partial/corrupt marker ⇒ the commit point was never
            # reached: markers are written whole (below), so originals
            # are intact and authoritative. Abort instead of wedging
            # the leaf on JSONDecodeError.
            pass
    if originals is None:
        _log.warning("heal %s: aborting a compaction, no valid %s", leaf,
                     _MARKER)
        fs.delete(staging, True)
        return "aborted"
    _log.warning(
        "heal %s: finishing a committed compaction of %d files",
        leaf, len(originals),
    )
    for name in originals:
        fs.delete(jvm.org.apache.hadoop.fs.Path(leaf, name), False)
    for st in fs.listStatus(staging):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        fs.rename(
            st.getPath(), jvm.org.apache.hadoop.fs.Path(leaf, name)
        )
    fs.delete(staging, True)
    return "finished"


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    min_files: int = 4,
) -> dict:
    """Compact every leaf directory of ``path`` holding more than
    ``min_files`` data files into ``ceil(leaf_bytes /
    target_file_bytes)`` files, after healing any interrupted prior
    run. Flat and hive-partitioned layouts both work; partition values
    live in directory names, so the rewritten leaf keeps its pruning
    behavior bit-for-bit.

    Returns ``{"healed_finished", "healed_aborted", "leaves",
    "leaves_compacted", "files_before", "files_after"}``.
    """
    if target_file_bytes < 1:
        raise ValueError("target_file_bytes must be positive")
    if min_files < 1:
        raise ValueError("min_files must be positive")
    sc = spark.sparkContext
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {"healed_finished": 0, "healed_aborted": 0, "leaves": 0,
                "leaves_compacted": 0, "files_before": 0, "files_after": 0}

    healed = {"finished": 0, "aborted": 0}
    # heal pass: staging dirs are invisible to _list_leaves, so walk for
    # them explicitly (they can exist under an otherwise-empty leaf)
    stack = [root]
    while stack:
        d = stack.pop()
        for st in fs.listStatus(d):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name == _STAGING:
                outcome = _heal_leaf(fs, jvm, d.toString())
                if outcome:
                    healed[outcome] += 1
            elif not name.startswith((".", "_")):
                stack.append(st.getPath())

    leaves = _list_leaves(fs, jvm, root)
    files_before = sum(len(v) for v in leaves.values())
    files_after = files_before
    compacted = 0
    for leaf, stats in leaves.items():
        if len(stats) <= min_files:
            continue
        total = sum(st.getLen() for st in stats)
        n_out = max(1, -(-total // target_file_bytes))
        if n_out >= len(stats):
            continue  # already at (or under) the target granularity
        originals = [st.getPath().getName() for st in stats]
        staging = jvm.org.apache.hadoop.fs.Path(leaf, _STAGING)
        work = jvm.org.apache.hadoop.fs.Path(
            staging, f"job-{uuid.uuid4().hex[:12]}"
        )
        # read THIS leaf only (no partition discovery — partition values
        # are directory metadata and stay in the directory name)
        (
            spark.read.parquet(leaf)
            .coalesce(int(n_out))
            .write.mode("overwrite")
            .parquet(work.toString())
        )
        # hoist the job's data files up to staging/ and commit
        staged = []
        for st in fs.listStatus(work):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            fs.rename(st.getPath(), jvm.org.apache.hadoop.fs.Path(staging, name))
            staged.append(name)
        fs.delete(work, True)
        # The marker is the commit point, so it appears whole (a
        # dot-prefixed temp, ignored by the heal scan, then a rename): a
        # crash mid-write leaves only the temp — _heal_leaf sees "no
        # marker" and aborts cleanly.
        write_json(
            jvm.org.apache.hadoop.fs.Path(staging, _MARKER).toString(),
            {"originals": originals},
        )
        # commit point passed: delete originals, surface staged files
        for name in originals:
            fs.delete(jvm.org.apache.hadoop.fs.Path(leaf, name), False)
        for name in staged:
            fs.rename(
                jvm.org.apache.hadoop.fs.Path(staging, name),
                jvm.org.apache.hadoop.fs.Path(leaf, name),
            )
        fs.delete(staging, True)
        compacted += 1
        files_after += len(staged) - len(originals)
    return {
        "healed_finished": healed["finished"],
        "healed_aborted": healed["aborted"],
        "leaves": len(leaves),
        "leaves_compacted": compacted,
        "files_before": files_before,
        "files_after": files_after,
    }
