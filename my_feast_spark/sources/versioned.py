"""Versioned parquet tables: manifest-log commits, time travel, vacuum.

The reference's cloud tier standardizes on Delta
(/root/reference/CASE.MD:107); this container has no Delta jar, so the
engine rebuilds Delta's three load-bearing levers structurally on plain
parquet: OPTIMIZE ZORDER -> ``sources/zorder.py``, data skipping ->
``sources/skipping.py``, and — this module — the transaction log:
atomic snapshot commits, read-as-of-version, and safe vacuum.

Design (a deliberately small Delta-log subset):

* Data files for each commit land in a FRESH directory
  ``data/v{N}-{uuid}/`` — no commit ever writes into a directory a
  reader might be listing, and file names can never collide across
  commits.
* A commit is ONE atomic manifest publish: ``_vlog/{N}.json`` names the
  data directories visible at version N (an append lists its parent's
  directories plus its own; an overwrite lists only its own). The
  manifest is written to a hidden temp name and ``rename``d into place
  — Hadoop-FS rename does not replace an existing destination, so two
  writers racing the same version number produce ONE winner; the loser
  retries at N+1 against the new parent (optimistic concurrency, the
  same protocol as ``core/registry.py``).
* Readers resolve a version by reading exactly one manifest — a torn
  commit (data directory written, manifest missing) is invisible by
  construction, and an interrupted writer leaves only garbage a later
  ``vacuum`` removes.
* ``vacuum`` deletes data directories referenced by NO retained
  manifest, oldest manifests first — time travel keeps working for
  every retained version. (Delta's checkpoint compaction is not
  needed at this manifest granularity: one small JSON per commit,
  and reads touch one of them.)

Reading MUST go through :func:`read_version` — a naive
``spark.read.parquet(table_root)`` cannot silently union every
version's files: data lives in non-hive subdirectories, so the direct
read finds no leaf files and errors loudly (UNABLE_TO_INFER_SCHEMA;
pinned in tests/test_versioned.py).

Scale notes: the manifest lists DIRECTORIES, not files, so manifest
size is O(commits-since-overwrite) regardless of file counts, and the
read path hands Spark the directory list — partition discovery,
skipping sidecars, and z-ordered layouts inside each data directory
all compose (they are per-directory artifacts).
"""

from __future__ import annotations

import json
import logging
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as _T

_log = logging.getLogger("my_feast_spark")

#: committed-manifest file names: {N}.json exactly
_MANIFEST_RE = re.compile(r"^\d+\.json$")

#: manifest directory name
_VLOG = "_vlog"
#: data-root directory name
_DATA = "data"


#: ``optimized_write="auto"``'s default split granularity: a hot
#: partition value splits into ceil(rows / this) writer tasks. Probed
#: at sf0.1 (COVERAGE.md probe 13): the crossover where splitting a hot
#: value beats the single-writer-task serialization is well under 4M
#: rows on local[32]; 4M rows of the events shape is ~128 MB of raw
#: columns (one healthy parquet file), so the default keeps cold values
#: at exactly one file while a 10x-skewed backfill date fans out to
#: ~10 parallel writers instead of one straggler.
_AUTO_SPLIT_ROWS = 4_000_000


def _optimized_write_df(df, partition_by, optimized_write, split_rows):
    """The optimizeWrite shuffle for a hive-partitioned commit.

    ``True`` (the probed default): one shuffle onto the partition
    columns — one writer task and one file per partition value, the
    shape that prevents the probe-10b pathology (input_partitions x
    values tiny files per commit). ``"auto"``: same, except partition
    values whose row count exceeds ``split_rows`` are salted across
    ceil(rows / split_rows) writer tasks — the escape hatch for a
    skewed backfill (one hot date otherwise serializes into a single
    writer while 31 cores idle). Costs ONE extra count aggregation
    over the commit batch (collected per distinct partition value —
    bounded by the same low-cardinality contract as the hive layout
    itself); cache the input first if it is expensive to recompute.
    The salt is a deterministic row hash, so a task retry rebuilds the
    same file contents, and it exists only in the shuffle key — the
    written rows are untouched.
    """
    if not partition_by or not optimized_write:
        return df
    if optimized_write is True:
        return df.repartition(*partition_by)
    if optimized_write != "auto":
        raise ValueError(
            f"optimized_write must be True, False or 'auto', "
            f"got {optimized_write!r}"
        )
    from pyspark.sql import functions as F

    import math

    # alias the count: a commit batch may itself carry a "count" column
    counts = df.groupBy(*partition_by).agg(
        F.count(F.lit(1)).alias("__mfs_ow_n")
    ).collect()
    splits = {
        tuple(r[c] for c in partition_by):
            math.ceil(r["__mfs_ow_n"] / split_rows)
        for r in counts
    }
    if not splits or max(splits.values()) <= 1:
        return df.repartition(*partition_by)
    spark = df.sparkSession
    splits_df = spark.createDataFrame(
        [(*k, int(n)) for k, n in splits.items()],
        schema=df.select(*partition_by).schema.add(
            "__mfs_ow_splits", _T.IntegerType(), False
        ),
    )
    renamed = splits_df.withColumnsRenamed(
        {c: f"__mfs_ow_{c}" for c in partition_by}
    )
    # NULL-safe equality (a hive layout can hold NULL partition values
    # as __HIVE_DEFAULT_PARTITION__): join on eqNullSafe per column
    cond = None
    for c in partition_by:
        this = df[c].eqNullSafe(renamed[f"__mfs_ow_{c}"])
        cond = this if cond is None else (cond & this)
    salted = df.join(F.broadcast(renamed), cond, "left").withColumn(
        "__mfs_ow_salt",
        F.pmod(
            F.xxhash64(*[df[c] for c in df.columns]),
            F.coalesce(F.col("__mfs_ow_splits"), F.lit(1)).cast("long"),
        ),
    )
    # pin the shuffle's partition count: an unpinned repartition(cols)
    # is AQE-coalesce-eligible, and AQE would merge the salt fan-out
    # right back into one writer task at exactly the advisory-size
    # boundary the hot value sits near. 2x the distinct (value, salt)
    # key count keeps hash-bucket collisions (two salt groups sharing
    # a task) rare; empty buckets write nothing.
    n_tasks = 2 * sum(splits.values())
    return salted.repartition(
        n_tasks, *[df[c] for c in partition_by], F.col("__mfs_ow_salt")
    ).select(*[df[c] for c in df.columns])


class VersionConflictError(RuntimeError):
    """A content-dependent commit (``expected_parent``) found a
    different latest version at publish time — the caller must re-read
    and recompute (the registry's optimistic-concurrency contract)."""


class SchemaEvolutionError(ValueError):
    """An append's schema is incompatible with the table's: a column
    type changed (never allowed), or new columns arrived without
    ``merge_schema=True`` (Delta's mergeSchema contract)."""


def _schema_merge(parent_schema, new_schema, merge_schema: bool):
    """Validate an append's schema against the table's and return the
    merged table schema (parent fields first, genuinely-new fields
    appended, everything nullable). Type comparison uses simpleString —
    nullability differences are not conflicts (parquet makes everything
    nullable anyway); a same-name different-type column always is."""
    from pyspark.sql.types import StructField, StructType

    pmap = {f.name: f for f in parent_schema.fields}
    conflicts = [
        f"{f.name}: {pmap[f.name].dataType.simpleString()} -> "
        f"{f.dataType.simpleString()}"
        for f in new_schema.fields
        if f.name in pmap
        and f.dataType.simpleString() != pmap[f.name].dataType.simpleString()
    ]
    if conflicts:
        raise SchemaEvolutionError(
            f"column type changes are not allowed: {conflicts}"
        )
    extra = [f for f in new_schema.fields if f.name not in pmap]
    if extra and not merge_schema:
        raise SchemaEvolutionError(
            f"append adds columns {[f.name for f in extra]} not in the "
            "table schema; pass merge_schema=True to evolve it"
        )
    return StructType(
        [StructField(f.name, f.dataType, True)
         for f in parent_schema.fields]
        + [StructField(f.name, f.dataType, True) for f in extra]
    )


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(sc._jsc.hadoopConfiguration())


def _hpath(jvm, *parts: str):
    return jvm.org.apache.hadoop.fs.Path("/".join(parts))


#: fields every committed manifest carries: the table schema at that
#: version (reads plan with it) and the publish time (TIMESTAMP AS OF)
_REQUIRED_FIELDS = ("schema", "committed_at")


def _check_manifest(m: dict, where: str) -> dict:
    """``m`` if it carries every required field, else a ValueError
    naming the manifest and the missing field: the log has one format,
    and a manifest written without a schema or publish time is never
    read by inference."""
    for field in _REQUIRED_FIELDS:
        if field not in m:
            raise ValueError(
                f"manifest {where} has no {field!r} field — it was not "
                "written by this version of the commit log"
            )
    return m


def _read_manifest(jvm, fs, path: str, version: int) -> dict:
    mp = _hpath(jvm, path, _VLOG, f"{version}.json")
    stream = fs.open(mp)
    try:
        m = json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()
    return _check_manifest(m, f"{path}/{_VLOG}/{version}.json")


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed versions, ascending. Hidden temp manifests and torn
    commits are invisible (a manifest only exists once renamed)."""
    jvm, fs = _fs(spark, path)
    vdir = _hpath(jvm, path, _VLOG)
    if not fs.exists(vdir):
        return []
    out = []
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        # strict {N}.json only: a stray non-numeric json (editor backup,
        # tooling artifact) must not poison every read/write/vacuum with
        # a ValueError from int()
        if _MANIFEST_RE.fullmatch(name):
            out.append(int(name[:-5]))
    return sorted(out)


def write_version(
    df: DataFrame, path: str, *, mode: str = "append",
    stats_cols: list[str] | None = None,
    expected_parent: int | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
    optimized_write: bool | str = True,
    optimized_write_split_rows: int = _AUTO_SPLIT_ROWS,
    _carry_txn: bool = False,
    _manifest_extra: dict | None = None,
) -> int:
    """Commit ``df`` as a new version of the table at ``path``.

    ``mode="append"`` makes the new version the parent's directories
    plus this commit's; ``mode="overwrite"`` replaces the visible set
    (old versions stay readable until vacuumed). Returns the committed
    version number. Safe against concurrent writers (rename-arbitrated;
    the loser re-reads the new parent and retries) and against crashes
    at any point (an unpublished manifest leaves the commit invisible).

    ``expected_parent`` makes the commit CONTENT-DEPENDENT: a df
    computed FROM version P (an upsert, a checkpoint) must not silently
    publish over a table that moved past P — the blind retry would
    commit stale content and erase the concurrent commit's rows. With
    ``expected_parent=P`` the publish succeeds only while P is still
    the latest; otherwise the staged data directory is cleaned up and
    :class:`VersionConflictError` raised for the caller to re-read and
    recompute. Plain appends/overwrites (content not derived from a
    prior read) keep the silent retry.

    ``txn=(app_id, txn_version)`` makes an APPEND idempotent under
    replay (Delta's txnAppId/txnVersion lever, for
    ``streaming/versioned.py``'s foreachBatch sink): each manifest
    carries a ``txn`` map of the highest transaction version committed
    per app, and an append whose ``txn_version`` is <= the recorded one
    returns the current version WITHOUT committing — a retry after
    crash-between-publish-and-ack never lands the same rows twice.
    Requires monotonically increasing ``txn_version`` per app (a
    Structured Streaming ``batch_id`` is). The map survives
    content-preserving rewrites (``upsert_version`` /
    ``checkpoint_version`` carry it through — the compaction-then-crash
    replay is exactly the case a directory-containment check would
    get wrong), and a plain overwrite RESETS it (new table contents,
    new transaction history). A torn earlier attempt's directory is
    invisible (no manifest names it) and reclaimed by vacuum.

    Schema contract (Delta's fourth lever): every manifest records the
    table SCHEMA at that version, and ``read_version`` scans with it —
    no footer inference, and a directory written before a column
    existed serves NULLs for it. An append whose schema adds columns
    needs ``merge_schema=True`` (the new columns join the table schema,
    old versions keep theirs — time travel returns each version's own
    shape); a same-name different-type column is always a loud
    :class:`SchemaEvolutionError`. An overwrite resets the schema to
    the new contents'.

    ``partition_by`` writes this commit's data directory hive-
    partitioned (the reference's dominant ``created=`` date layout,
    ingest_taxy.py:70-76) — a partition predicate through
    ``read_version`` then prunes DIRECTORIES at planning time inside
    every commit of the version, composing with the recorded-schema
    scan and the skipping sidecar (which records partition values as
    exact point stats). Partitioning is a TABLE layout, recorded in
    the manifest: every commit of a version must agree. An append that
    names NO layout adopts the table's automatically (so streams and
    plain appends keep working when an operator partitions the table);
    an append naming a DIFFERENT layout raises (a mixed-layout
    directory list would fail partition discovery); an overwrite may
    change it; content-preserving rewrites (upsert/delete/checkpoint)
    inherit the parent's.

    ``optimized_write`` (default on, Delta's optimizeWrite lever;
    no-op without ``partition_by``) shuffles the commit onto its
    partition values before writing, so a partitioned append lands
    ONE file per partition value instead of (input partitions x
    values) shards — an unshuffled 32-partition batch touching 3
    dates would otherwise write 96 tiny files per commit (probe 10b),
    and a chain of such commits drowns every reader in per-file task
    overhead. ``"auto"`` keeps that shape for cold values but salts any
    partition value above ``optimized_write_split_rows`` rows across
    ceil(rows / split_rows) writer tasks — the skew escape hatch for a
    backfill whose hot date would otherwise serialize into one writer
    task (costs one extra count aggregation over the batch; see
    ``_optimized_write_df``). Pass ``False`` to skip the shuffle
    entirely and take full control via your own pre-repartition."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    partition_by = list(partition_by) if partition_by else None
    if partition_by:
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} not in the DataFrame"
            )
    if partition_by is None and (mode == "append" or _carry_txn):
        # appends and content-preserving rewrites ADOPT the table's
        # layout when the caller names none (Delta's behavior): a
        # checkpoint must not silently flatten a date-partitioned
        # table, and a plain append (e.g. a versioned ingest stream's
        # batch) must not wedge against the layout check below just
        # because an operator partitioned the table mid-stream. An
        # explicit MISMATCHED layout still raises.
        _spark = df.sparkSession
        _versions = list_versions(_spark, path)
        if _versions:
            _jvm, _pfs = _fs(_spark, path)
            parent_pb = _read_manifest(
                _jvm, _pfs, path, _versions[-1]
            ).get("partition_by")
            if parent_pb and all(c in df.columns for c in parent_pb):
                partition_by = list(parent_pb)
    if txn is not None:
        if mode != "append":
            raise ValueError("txn idempotency applies to appends only")
        txn_app, txn_v = str(txn[0]), int(txn[1])
        spark = df.sparkSession
        jvm, fs = _fs(spark, path)
        versions = list_versions(spark, path)
        if versions:
            latest = _read_manifest(jvm, fs, path, versions[-1])
            if latest.get("txn", {}).get(txn_app, -1) >= txn_v:
                return versions[-1]  # replayed commit, already applied
    spark = df.sparkSession
    jvm, fs = _fs(spark, path)
    commit_dir = f"{_DATA}/v{uuid.uuid4().hex[:12]}"
    out_df = _optimized_write_df(
        df, partition_by, optimized_write, optimized_write_split_rows
    )
    writer = out_df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{path}/{commit_dir}")
    if stats_cols:
        # sweep the skipping sidecar for THIS commit's directory before
        # publishing: every directory a manifest references then carries
        # stats, so read_version_with_skipping never hits a stale
        # sidecar (appends only ever add directories, each pre-swept)
        from my_feast_spark.sources.skipping import write_file_stats

        write_file_stats(f"{path}/{commit_dir}", stats_cols, spark=spark)
    vdir = _hpath(jvm, path, _VLOG)
    fs.mkdirs(vdir)
    while True:
        versions = list_versions(spark, path)
        parent = versions[-1] if versions else None
        if expected_parent is not None and parent != expected_parent:
            fs.delete(_hpath(jvm, path, commit_dir), True)
            raise VersionConflictError(
                f"expected parent {expected_parent} but latest is "
                f"{parent}: recompute from the current version"
            )
        next_v = (parent + 1) if parent is not None else 0
        txn_map: dict = {}
        if mode == "append" and parent is not None:
            pm = _read_manifest(jvm, fs, path, parent)
            txn_map = dict(pm.get("txn", {}))
            if txn is not None and txn_map.get(txn_app, -1) >= txn_v:
                # a racing same-app writer published between our check
                # and this retry — the transaction is already applied
                fs.delete(_hpath(jvm, path, commit_dir), True)
                return parent
            # the table layout is per-VERSION: a commit whose
            # partitioning differs from the parent's would hand readers
            # a mixed directory list partition discovery rejects
            parent_pb = pm.get("partition_by") or None
            if parent_pb != partition_by:
                fs.delete(_hpath(jvm, path, commit_dir), True)
                raise SchemaEvolutionError(
                    f"append partition_by={partition_by} does not match "
                    f"the table's {parent_pb} — repartition the table "
                    "with an overwrite/checkpoint to change its layout"
                )
            # schema check against the FINAL parent (it may have moved
            # since the caller's view — the same reason expected_parent
            # lives in this loop)
            try:
                table_schema = _schema_merge(
                    _T.StructType.fromJson(pm["schema"]),
                    df.schema, merge_schema,
                )
            except SchemaEvolutionError:
                fs.delete(_hpath(jvm, path, commit_dir), True)
                raise
            dirs = pm["dirs"] + [commit_dir]
        else:
            # overwrite resets the txn history — UNLESS this is a
            # content-preserving rewrite (upsert/checkpoint), which must
            # carry it or a compacted-away streaming batch would replay
            # as new after a crash
            if _carry_txn and parent is not None:
                txn_map = dict(
                    _read_manifest(jvm, fs, path, parent).get("txn", {})
                )
            dirs = [commit_dir]
            from pyspark.sql.types import StructField, StructType

            table_schema = StructType([
                StructField(f.name, f.dataType, True)
                for f in df.schema.fields
            ])
        if txn is not None:
            txn_map[txn_app] = max(txn_map.get(txn_app, -1), txn_v)
        import time as _time

        manifest = {
            "version": next_v,
            "parent": parent,
            "mode": mode,
            "dirs": dirs,
            "schema": table_schema.jsonValue(),
            "committed_at": _time.time(),
        }
        if _manifest_extra:
            # operator-level facts (op="upsert"/"delete"/"checkpoint",
            # the change-sidecar pointer) — never the core log keys
            manifest.update(_manifest_extra)
        if partition_by:
            manifest["partition_by"] = partition_by
        if txn_map:
            manifest["txn"] = txn_map
        tmp = _hpath(
            jvm, path, _VLOG, f".tmp-{next_v}-{uuid.uuid4().hex[:8]}"
        )
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        final = _hpath(jvm, path, _VLOG, f"{next_v}.json")
        # rename refuses to replace an existing destination: exactly one
        # writer wins a version number; losers clean up and retry with
        # the winner as parent
        if fs.rename(tmp, final):
            return next_v
        fs.delete(tmp, False)


def version_at_timestamp(
    spark: SparkSession, path: str, ts,
) -> int:
    """TIMESTAMP AS OF resolution (Delta's second time-travel axis):
    the highest committed version whose publish time is <= ``ts`` (a
    datetime, or epoch seconds). Publish times live IN the manifests
    (``committed_at``, stamped at the atomic rename) — never file
    mtimes, which copies and restores perturb; a manifest without the
    stamp raises ValueError rather than sorting at an invented time.
    Raises when every retained commit is newer than ``ts`` (the
    asked-for state predates retained history)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    ts = float(ts)
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    best = None
    for v in versions:
        if float(_read_manifest(jvm, fs, path, v)["committed_at"]) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no committed version at or before timestamp {ts} — the "
            f"oldest retained commit is newer"
        )
    return best


def _scan_manifest_dirs(
    spark: SparkSession, path: str, m: dict,
    dirs: list[str] | None = None,
) -> DataFrame:
    """Plan a scan of a manifest's data directories (or an explicit
    subset) with the recorded schema. A hive-partitioned table
    (``partition_by``) cannot hand Spark multiple partitioned roots in
    one relation (CONFLICTING_DIRECTORY_STRUCTURES — each commit dir is
    its own discovery root), so multi-directory partitioned versions
    scan per-directory and union: partition pruning and pushdown apply
    to every branch, and ``checkpoint_if_due`` bounds the branch
    count."""
    dirs = m["dirs"] if dirs is None else dirs
    schema = _T.StructType.fromJson(m["schema"])

    def _one(paths):
        return spark.read.schema(schema).parquet(*paths)

    if m.get("partition_by") and len(dirs) > 1:
        out = None
        for d in dirs:
            df = _one([f"{path}/{d}"])
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        return out
    return _one([f"{path}/{d}" for d in dirs])


def read_version(
    spark: SparkSession, path: str, version: int | None = None,
    *, as_of_timestamp=None,
) -> DataFrame:
    """The table as of ``version`` (default: latest). One manifest read
    resolves the directory list AND the schema — the scan plans with
    the log's recorded schema. The point is CORRECTNESS under schema
    evolution, not speed (measured: plan build is inference-equivalent
    at 200 dirs): default footer inference reads ONE arbitrary file, so
    an evolved table would nondeterministically drop or gain the newer
    columns depending on which file wins; the recorded schema makes
    every read deterministic and serves NULLs from pre-evolution
    directories.

    ``as_of_timestamp`` (datetime or epoch seconds; mutually exclusive
    with ``version``) resolves through :func:`version_at_timestamp` —
    TIMESTAMP AS OF."""
    if as_of_timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass version OR as_of_timestamp, not both"
            )
        version = version_at_timestamp(spark, path, as_of_timestamp)
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in committed set {versions}"
        )
    m = _read_manifest(jvm, fs, path, version)
    return _scan_manifest_dirs(spark, path, m)


def read_version_with_skipping(
    spark: SparkSession,
    path: str,
    predicates: dict,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Time-travel read with planning-time file pruning: every data
    directory of the resolved version is scanned through its skipping
    sidecar (commits must have been written with ``stats_cols``), the
    per-directory prune reports summed. The three layout levers compose
    here: the log picks the directories, the sidecars pick the files,
    and a z-ordered layout inside each directory makes the file ranges
    tight. Returns ``(df, {"files_total", "files_read",
    "files_skipped"})``."""
    from my_feast_spark.sources.skipping import scan_with_skipping

    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in committed set {versions}"
        )
    m = _read_manifest(jvm, fs, path, version)
    # plan every per-directory scan with the version's recorded schema:
    # a predicate on a merge_schema-added column then resolves against
    # pre-evolution directories (as all-NULL, matching nothing) instead
    # of failing analysis
    schema = _T.StructType.fromJson(m["schema"])
    out = None
    report = {"files_total": 0, "files_read": 0, "files_skipped": 0}
    for d in m["dirs"]:
        df, rep = scan_with_skipping(
            spark, f"{path}/{d}", predicates, schema=schema
        )
        for k in report:
            report[k] += rep[k]
        # allowMissingColumns: under schema evolution an older commit's
        # directory lacks the newer columns — serve NULLs, like the
        # schema-planned read_version scan does
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    return out, report


def _write_change_sidecar(spark, path: str, ev: DataFrame) -> str:
    """Persist a commit's change rows (op + full pre/post images) as a
    ``data/c<uuid>`` directory — increment-sized (Delta's CDF shape:
    the changed rows travel with the commit, so a later diff never
    re-derives them from two snapshots). Written BEFORE the manifest
    publish; an unpublished sidecar is invisible (no manifest names
    it) and reclaimed by vacuum like a torn commit's data dir."""
    chdir = f"{_DATA}/c{uuid.uuid4().hex[:12]}"
    ev.write.mode("error").parquet(f"{path}/{chdir}")
    return chdir


def _publish_with_changes(
    spark, df: DataFrame, path: str, base_version: int, *,
    ev: DataFrame | None = None, op: str | None = None, **write_kwargs,
) -> int:
    """The keyed-rewrite commit protocol, shared by upsert / delete /
    apply-changes: stage the change sidecar (when ``ev`` is given),
    publish the overwrite pinned to ``base_version``, and reclaim the
    staged sidecar on ANY publish failure — including a lost
    ``expected_parent`` race. ``ev=None`` (change_feed off) publishes
    with no ``op`` in the manifest, so diff composition falls back to
    the snapshot join for the commit, exactly as documented."""
    extra = None
    if ev is not None:
        chdir = _write_change_sidecar(spark, path, ev)
        extra = {"op": op, "changes": chdir}
    try:
        return write_version(
            df, path, mode="overwrite", expected_parent=base_version,
            _carry_txn=True, _manifest_extra=extra, **write_kwargs,
        )
    except Exception:
        if extra is not None:
            jvm, fs = _fs(spark, path)
            fs.delete(_hpath(jvm, path, extra["changes"]), True)
        raise


def upsert_version(
    df: DataFrame, path: str, keys: list[str], *, change_feed: bool = True,
    optimized_write: bool | str = True,
    optimized_write_split_rows: int = _AUTO_SPLIT_ROWS,
) -> int:
    """Keyed upsert (the MERGE shape): the new version is the latest
    version's rows whose key is absent from ``df``, plus every row of
    ``df`` — updates replace, inserts append, committed as ONE
    overwrite version (pre-merge versions keep time-traveling until
    vacuumed). Plan shape: one left-anti join keyed on ``keys`` — at
    scale the incoming batch side broadcasts under AQE; nothing else
    shuffles. The commit is pinned to the version it merged against
    (``expected_parent``): if the table moves concurrently, the publish
    raises :class:`VersionConflictError` instead of silently erasing
    the concurrent commit's rows — callers retry the whole merge.

    ``change_feed`` (default on — Delta's CDF lever):
    the merge already computes exactly which keys it touches, so the
    commit also persists an increment-sized change sidecar — one row
    per incoming key with ``op`` ('insert' when the key was absent
    from the parent, else 'update') and the full pre/post row images —
    and records it in the manifest (``op``/``changes``).
    :func:`diff_versions` then composes diffs ACROSS upsert commits by
    reading only the sidecars, never joining two snapshots. Costs one
    extra pass over the parent (the preimage lookup: a left-semi
    restriction of the parent to the incoming keys, then a join of the
    batch against that increment-sized relation — both joins keep the
    small side broadcastable); pass ``False`` to skip it, which sends
    diffs over this commit back to the snapshot join. The batch's OWN
    lineage is evaluated exactly once per commit: the sidecar is
    staged first and the overwrite's batch side is read back from its
    post images, so a composed merge plan never runs twice and the
    committed rows are bit-identical to what the change feed records.

    ``optimized_write``/``optimized_write_split_rows`` pass through to
    :func:`write_version`. A merge into a hive-partitioned table is
    where ``"auto"`` matters most: the commit rewrites the FULL table
    content, so every partition value's entire volume — not just the
    batch's — flows through the optimizeWrite shuffle, and the default
    one-task-per-value shape serializes each hot value into a single
    writer."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(
            f"no committed versions under {path}: the initial version "
            "must come from write_version"
        )
    base_version = versions[-1]
    current = read_version(spark, path, base_version)
    incoming = df.select(*current.columns)
    if not change_feed:
        kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
        return _publish_with_changes(
            spark, kept.unionByName(incoming), path, base_version,
            ev=None, op="upsert",
            optimized_write=optimized_write,
            optimized_write_split_rows=optimized_write_split_rows,
        )
    # preimage lookup, staged so BOTH joins keep their small side
    # on the broadcastable right (a left-outer join
    # can only broadcast its right side, and putting the full
    # parent there would shuffle the table per upsert): first
    # restrict the parent to the incoming keys (left-semi, the
    # key set broadcasts), then left-join the batch against that
    # increment-sized preimage relation (it broadcasts too)
    pre = current.join(
        incoming.select(*keys).distinct(), keys, "left_semi"
    ).select(
        *keys,
        F.struct(*current.columns).alias("_change_pre"),
        F.lit(True).alias("__matched"),
    )
    ev = (
        incoming.join(pre, keys, "left")
        .select(
            F.when(
                F.col("__matched").isNotNull(), F.lit("update")
            ).otherwise(F.lit("insert")).alias("_change_op"),
            F.col("_change_pre"),
            F.struct(*[
                incoming[c] for c in current.columns
            ]).alias("_change_post"),
        )
    )
    # Stage the sidecar FIRST, then rebuild the commit's batch side
    # FROM the staged parquet: the sidecar job is the ONLY evaluation
    # of the incoming batch's lineage (the overwrite's union would
    # otherwise re-run it in full — a composed merge plan would pay
    # twice). The post-image read-back is increment-sized,
    # costs no extra job, and guarantees the committed batch rows are
    # bit-identical to the sidecar's recorded post images (the change
    # feed can never drift from the table it describes). The parent is
    # still scanned twice per commit — once for the preimage semi-join,
    # once for the overwrite's anti-join — which is the floor for a
    # two-sink split without a corpus-sized persist; at scale the
    # semi-join side prunes through the skipping sidecar while the
    # rewrite must read everything anyway.
    chdir = _write_change_sidecar(spark, path, ev)
    try:
        ch = spark.read.parquet(f"{path}/{chdir}")
        batch = ch.select("_change_post.*")
        kept = current.join(
            batch.select(*keys).distinct(), keys, "left_anti"
        )
        return write_version(
            kept.unionByName(batch), path, mode="overwrite",
            expected_parent=base_version, _carry_txn=True,
            _manifest_extra={"op": "upsert", "changes": chdir},
            optimized_write=optimized_write,
            optimized_write_split_rows=optimized_write_split_rows,
        )
    except Exception:
        jvm, fs = _fs(spark, path)
        fs.delete(_hpath(jvm, path, chdir), True)
        raise


def restore_version(
    spark: SparkSession, path: str, version: int,
) -> int:
    """Delta's RESTORE TO VERSION: make ``version``'s content the
    LATEST again by publishing ONE new manifest that references the
    restored version's data directories — no data is rewritten or
    copied, the rollback costs one manifest write. The restored-from
    manifest's schema comes along; the txn history carries through
    (a restore is an operator action, not new stream content — a
    replayed streaming batch must still be recognized). History is
    preserved: the rolled-back versions keep time-traveling until
    vacuumed, and vacuum keeps every directory a retained manifest
    references, so restoring an old version protects its directories
    again."""
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version not in versions:
        raise ValueError(
            f"version {version} not in committed set {versions} — a "
            "vacuumed version cannot be restored"
        )
    src = _read_manifest(jvm, fs, path, version)
    while True:
        parent = list_versions(spark, path)[-1]
        if parent == version:
            return version  # restoring the latest is a no-op
        next_v = parent + 1
        import time as _time

        manifest = {
            "version": next_v,
            "parent": parent,
            "mode": "restore",
            "restored_from": version,
            "dirs": list(src["dirs"]),
            "schema": src["schema"],
            "committed_at": _time.time(),
        }
        if "partition_by" in src:
            manifest["partition_by"] = src["partition_by"]
        txn_map = dict(
            _read_manifest(jvm, fs, path, parent).get("txn", {})
        )
        if txn_map:
            manifest["txn"] = txn_map
        tmp = _hpath(
            jvm, path, _VLOG, f".tmp-{next_v}-{uuid.uuid4().hex[:8]}"
        )
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        if fs.rename(tmp, _hpath(jvm, path, _VLOG, f"{next_v}.json")):
            return next_v
        fs.delete(tmp, False)


def _chain_change_plan(jvm, fs, path: str, v_old: int, v_new: int):
    """Walk ``v_new`` back to ``v_old``; return the ordered per-commit
    change descriptors ``[(version, kind, payload, manifest)]`` with
    ``kind`` ∈ {'append' (payload = added dirs), 'changes' (payload =
    sidecar dir)} — checkpoints contribute nothing (content-preserving
    by construction) — or None when any commit is a plain overwrite,
    restore, or pre-change-feed upsert/delete: those commits don't
    describe their own increment, so the diff needs the snapshot join.
    O(chain) manifest reads, no data touched."""
    manifests: dict[int, dict] = {}

    def _m(v):
        if v not in manifests:
            manifests[v] = _read_manifest(jvm, fs, path, v)
        return manifests[v]

    out = []
    v = v_new
    while v != v_old:
        m = _m(v)
        parent = m.get("parent")
        if parent is None or parent < v_old:
            return None
        if m.get("mode") == "append":
            pdirs = set(_m(parent)["dirs"])
            added = [d for d in m["dirs"] if d not in pdirs]
            out.append((v, "append", added, m))
        elif m.get("op") in ("upsert", "delete") and m.get("changes"):
            out.append((v, "changes", m["changes"], m))
        elif m.get("op") == "checkpoint":
            pass
        else:
            return None
        v = parent
    out.reverse()
    return out


def _compose_chain_changes(
    spark: SparkSession, path: str, plan: list, keys: list[str],
) -> DataFrame | None:
    """Fold a chain of per-commit change descriptors into the keyed
    diff relative to the chain's base version — reading ONLY appended
    directories and change sidecars, never a snapshot.

    Per key, the FIRST event decides presence in the base version (an
    'insert'/append preimage is null → absent) and carries the base-
    version image; the LAST event decides presence and image in the
    head version. Classification then mirrors the snapshot join
    exactly: added / removed / changed-iff-images-differ (a key whose
    final image null-safe-equals its base image — e.g. an update
    chain that restores the original row, or a no-op upsert — drops
    out, exactly as the snapshot join drops it). Correctness rests on
    the same keyed-table contract as the append-only fast path: keys
    unique per version, appends introduce only new keys.

    Returns None when the sidecars' schemas can't be composed (a key
    column missing from some commit's image — possible only on tables
    whose key columns themselves evolved; the caller falls back)."""
    from pyspark.sql import functions as F

    # one scan per append (the added dirs, with that commit's recorded
    # schema) / one per sidecar; normalize every event to the canonical
    # field set (union across the chain — schema evolution only ever
    # ADDS columns, same-name retypes are loud at commit time)
    raw = []  # (seq, pre_schema_fields, post_fields, DataFrame)
    for seq, kind, payload, m in plan:
        if kind == "append":
            if not payload:
                continue
            df = _scan_manifest_dirs(spark, path, m, dirs=payload)
            ev = df.select(
                F.lit("insert").alias("_change_op"),
                F.lit(None).cast(
                    _T.StructType(df.schema.fields)
                ).alias("_change_pre"),
                F.struct(*df.columns).alias("_change_post"),
            )
        else:
            ev = spark.read.parquet(f"{path}/{payload}")
        raw.append((seq, ev))
    if not raw:
        # empty chain (only checkpoints / empty appends): empty diff
        return None
    canonical: dict[str, object] = {}
    for _seq, ev in raw:
        for side in ("_change_pre", "_change_post"):
            for f in ev.schema[side].dataType.fields:
                canonical.setdefault(f.name, f.dataType)
    if any(k not in canonical for k in keys):
        return None
    non_keys = [c for c in canonical if c not in keys]

    def _norm(ev, seq):
        def _side(col):
            have = {f.name for f in ev.schema[col].dataType.fields}
            inner = [
                (F.col(f"{col}.`{name}`") if name in have
                 else F.lit(None).cast(dt)).alias(name)
                for name, dt in canonical.items()
            ]
            return F.when(F.col(col).isNotNull(), F.struct(*inner))

        pre, post = _side("_change_pre"), _side("_change_post")
        key_cols = [
            F.coalesce(
                post.getField(k), pre.getField(k)
            ).alias(k)
            for k in keys
        ]

        def _img(side_col):
            return F.when(
                side_col.isNotNull(),
                F.struct(*[side_col.getField(c).alias(c) for c in non_keys])
                if non_keys else F.struct(F.lit(0).alias("__none")),
            )

        return ev.select(
            F.lit(seq).alias("__seq"), *key_cols,
            _img(pre).alias("__pre"), _img(post).alias("__post"),
        )

    events = None
    for seq, ev in raw:
        n = _norm(ev, seq)
        events = n if events is None else events.unionByName(n)
    agg = events.groupBy(*keys).agg(
        F.min_by(F.col("__pre"), F.col("__seq")).alias("__first_pre"),
        F.max_by(F.col("__post"), F.col("__seq")).alias("__last_post"),
    )
    return (
        agg.withColumn(
            "change",
            F.when(
                F.col("__first_pre").isNull()
                & F.col("__last_post").isNotNull(),
                F.lit("added"),
            )
            .when(
                F.col("__first_pre").isNotNull()
                & F.col("__last_post").isNull(),
                F.lit("removed"),
            )
            .when(
                ~F.col("__first_pre").eqNullSafe(F.col("__last_post")),
                F.lit("changed"),
            ),
        )
        .where(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def diff_versions(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    keys: list[str],
    *,
    prefer_manifest_delta: bool = True,
) -> DataFrame:
    """Audit diff between two versions: one row per key present in
    either version with ``change`` ∈ {'added', 'removed', 'changed'}
    (unchanged keys are absent). Non-key columns are compared as a
    whole row (null-safe).

    Plan shape — the CDF-lite lever (Delta's change-data-feed answers
    the same question with per-commit change logs): when the commits
    from ``v_old`` to ``v_new`` are ALL plain appends, the manifest log
    already IS the change log — the diff reads ONLY the directories
    those appends added (``change='added'`` for every row in them) and
    never scans, joins, or shuffles the two snapshots. At 100 TB that
    turns "diff yesterday's table against today's" from two full-table
    shuffles into a scan of the day's increment. Correctness rests on
    the keyed-table contract the snapshot diff already assumes (keys
    unique per version): an append can then only introduce NEW keys.
    ``prefer_manifest_delta=False`` forces the snapshot join (e.g. for
    a table whose appends deliberately duplicate keys).

    Increment-only diffs also compose ACROSS keyed rewrites:
    ``upsert_version``/``delete_version`` commits that carry a change
    sidecar (``change_feed=True``, the default) and ``checkpoint``
    commits (content-preserving, zero changes) compose via
    :func:`_compose_chain_changes` — the diff reads only appended
    directories and increment-sized sidecars, one groupBy on the
    TOUCHED keys, never a snapshot. Only a plain overwrite, a restore,
    or a pre-change-feed upsert/delete in the chain falls back to the
    snapshot join: one full outer join on ``keys`` — the two sides are
    version scans, so every pushdown/skipping lever applies to each."""
    from pyspark.sql import functions as F

    if prefer_manifest_delta:
        jvm, fs = _fs(spark, path)
        versions = list_versions(spark, path)
        if v_old in versions and v_new in versions and v_old <= v_new:
            # ONE chain walk serves both increment paths: each manifest
            # in the range is read once per diff (driver I/O at
            # object-store GET latency)
            plan = _chain_change_plan(jvm, fs, path, v_old, v_new)
            if plan is not None:
                if not any(
                    (kind == "append" and payload) or kind == "changes"
                    for _v, kind, payload, _m in plan
                ):
                    return (  # checkpoints/empty appends only
                        read_version(spark, path, v_new)
                        .select(*keys)
                        .withColumn("change", F.lit("added"))
                        .limit(0)
                    )
                if all(kind == "append" for _v, kind, _p, _m in plan):
                    # appends (± checkpoints) only: the added dirs ARE
                    # the diff — no groupBy, no sidecar scan. The scan
                    # plans with the newest participating manifest's
                    # recorded schema (the head of an all-append plan).
                    added = [
                        d for _v, _k, dirs, _m in plan for d in dirs
                    ]
                    return (
                        _scan_manifest_dirs(
                            spark, path, plan[-1][3], dirs=added
                        )
                        .select(*keys)
                        .withColumn("change", F.lit("added"))
                    )
                # mixed chain: appends + change-feed
                # upserts/deletes + checkpoints compose from their
                # increments — sidecars and added dirs only, never a
                # snapshot scan
                composed = _compose_chain_changes(spark, path, plan, keys)
                if composed is not None:
                    return composed

    old = read_version(spark, path, v_old)
    new = read_version(spark, path, v_new)
    # under schema evolution the two versions have different shapes:
    # compare over the UNION of non-key columns, absent ones as typed
    # NULLs, so both structs line up
    types = {f.name: f.dataType for f in old.schema.fields}
    types.update({f.name: f.dataType for f in new.schema.fields})
    cols = [
        c for c in dict.fromkeys([*old.columns, *new.columns])
        if c not in keys
    ]

    def _side(df, alias):
        struct_cols = [
            (F.col(c) if c in df.columns
             else F.lit(None).cast(types[c])).alias(c)
            for c in cols
        ]
        return df.select(*keys, F.struct(*struct_cols).alias(alias))

    o = _side(old, "__old")
    n = _side(new, "__new")
    j = o.join(n, keys, "full_outer")
    return (
        j.withColumn(
            "change",
            F.when(F.col("__old").isNull(), F.lit("added"))
            .when(F.col("__new").isNull(), F.lit("removed"))
            .when(
                ~F.col("__old").eqNullSafe(F.col("__new")),
                F.lit("changed"),
            ),
        )
        .where(F.col("change").isNotNull())
        .select(*keys, "change")
    )


class ChangeFeedUnavailableError(RuntimeError):
    """A version range contains a commit that does not describe its own
    increment (plain overwrite, restore, or a pre-change-feed
    upsert/delete) — the per-commit change feed cannot be served for
    it. Mirror of Delta's error when CDC was not enabled for the range;
    use :func:`diff_versions` (which falls back to the snapshot join)
    for the NET difference instead."""


#: the change feed's reserved metadata columns (Delta's CDF names)
_CDF_COLS = ("_change_type", "_commit_version")


def _changes_of_commit(spark, path: str, v: int, kind, payload, m, cols):
    """One commit's change events, normalized to the canonical column
    list ``cols`` + the CDF metadata columns. ``kind``/``payload`` come
    from :func:`_chain_change_plan`."""
    from pyspark.sql import functions as F

    def _norm(df, have):
        return [
            (F.col(c) if c in have else F.lit(None).cast(cols[c])).alias(c)
            for c in cols
        ]

    if kind == "append":
        df = _scan_manifest_dirs(spark, path, m, dirs=payload)
        return df.select(
            *_norm(df, set(df.columns)),
            F.lit("insert").alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )
    ev = spark.read.parquet(f"{path}/{payload}")

    def _side(side_col, type_expr, op_filter):
        have = {f.name for f in ev.schema[side_col].dataType.fields}
        flat = [
            (F.col(f"{side_col}.`{c}`") if c in have
             else F.lit(None).cast(cols[c])).alias(c)
            for c in cols
        ]
        return ev.where(op_filter).select(
            *flat,
            type_expr.alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    op = F.col("_change_op")
    pre = _side(
        "_change_pre",
        F.when(op == "update", F.lit("update_preimage"))
        .otherwise(F.lit("delete")),
        op.isin("update", "delete"),
    )
    post = _side(
        "_change_post",
        F.when(op == "update", F.lit("update_postimage"))
        .otherwise(F.lit("insert")),
        op.isin("update", "insert"),
    )
    return pre.unionByName(post)


def read_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """The per-commit change feed (Delta's ``table_changes`` / CDF
    read): every change EVENT made by the commits in
    ``(since_version, until_version]`` — the exclusive-since /
    inclusive-until convention :func:`diff_versions` uses ("changes
    since the version I already consumed"); note Delta's own
    ``startingVersion`` is inclusive. Columns: the head version's
    table schema (older commits' events serve NULL for columns that
    did not exist yet) plus ``_change_type`` ∈ {'insert',
    'update_preimage', 'update_postimage', 'delete'} and
    ``_commit_version``. An update contributes BOTH images, each its
    own row (Delta's shape).

    Unlike :func:`diff_versions` — which NETS the chain per key into
    one added/removed/changed row and falls back to a snapshot join —
    this is the raw event stream (a key updated twice yields four
    rows), and it never falls back: a commit that does not describe
    its own increment (plain overwrite, restore, ``change_feed=False``
    rewrite) raises :class:`ChangeFeedUnavailableError`. Plan shape:
    one scan per appended directory + one per increment-sized sidecar,
    unioned — no join, no shuffle; at 100 TB the feed costs the
    increments, never the table. ``sources/changes_stream.py`` wraps
    this arithmetic as a Structured Streaming source."""
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if until_version is None:
        if not versions:
            raise FileNotFoundError(f"no committed versions under {path}")
        until_version = versions[-1]
    for v in (since_version, until_version):
        if v not in versions:
            raise FileNotFoundError(f"version {v} not in {path}")
    if since_version > until_version:
        raise ValueError(
            f"since_version {since_version} > until_version {until_version}"
        )
    head = _read_manifest(jvm, fs, path, until_version)
    schema = _T.StructType.fromJson(head["schema"])
    clash = [c for c in _CDF_COLS if c in schema.fieldNames()]
    if clash:
        raise ValueError(
            f"table columns {clash} collide with the change feed's "
            "metadata columns"
        )
    cols = {f.name: f.dataType for f in schema.fields}
    empty = spark.createDataFrame(
        [], _T.StructType(
            schema.fields
            + [_T.StructField("_change_type", _T.StringType(), False),
               _T.StructField("_commit_version", _T.LongType(), False)]
        ),
    )
    if since_version == until_version:
        return empty
    plan = _chain_change_plan(jvm, fs, path, since_version, until_version)
    if plan is None:
        raise ChangeFeedUnavailableError(
            f"commits in ({since_version}, {until_version}] of {path} "
            "include a plain overwrite, restore, or change_feed=False "
            "rewrite — no per-commit change feed exists for the range; "
            "use diff_versions for the net difference"
        )
    out = empty
    for v, kind, payload, m in plan:
        if kind == "append" and not payload:
            continue
        out = out.unionByName(
            _changes_of_commit(spark, path, v, kind, payload, m, cols)
        )
    return out


def read_changes_between(
    spark: SparkSession,
    path: str,
    since_ts,
    until_ts=None,
) -> DataFrame:
    """The change feed on the TIMESTAMP axis (Delta CDF's
    ``startingTimestamp``/``endingTimestamp``): changes made by commits
    published after ``since_ts`` up to ``until_ts`` (default: now —
    resolved as the latest version, no clock read). Timestamps resolve
    through :func:`version_at_timestamp` (manifest ``committed_at``,
    never file mtimes), then delegate to :func:`read_changes` — the
    same (since, until] event semantics, error behavior included."""
    since_v = version_at_timestamp(spark, path, since_ts)
    if until_ts is None:
        versions = list_versions(spark, path)
        until_v = versions[-1] if versions else since_v
    else:
        until_v = version_at_timestamp(spark, path, until_ts)
    return read_changes(spark, path, since_v, until_v)


def apply_changes_version(
    events: DataFrame, path: str, keys: list[str], *,
    change_feed: bool = True,
) -> int | None:
    """Apply a change-event relation (the :func:`read_changes` schema)
    to the table at ``path`` as ONE commit — Delta's APPLY CHANGES INTO
    / the consumer half of CDC replication. Returns the committed
    version, or None when the events net to nothing.

    Netting: per key, the LAST deciding event wins (`insert` /
    `update_postimage` / `update_preimage+postimage` pairs collapse to
    their postimage; `delete` removes), ordered by ``_commit_version``
    — so a key inserted then deleted across the batch's commits applies
    as nothing, and deleted-then-reinserted applies as the final row.
    Preimages in the INPUT are ignored: the commit's own change sidecar
    recomputes ops and preimages against the TARGET's current state
    (a mirror that diverged still records ITS truth, and the mirror's
    own feed stays correct and chainable). A net-delete of a key the
    target never had is a no-op, not an error.

    Plan shape (all increment-sized sides broadcastable, the
    upsert_version staging): one window over the events on ``keys``
    (the only shuffle, sized by the increment), one left-anti of the
    target against the touched keys, and — with ``change_feed`` — one
    left-semi preimage restriction of the target. Replay-idempotent by
    CONTENT: re-applying the same events yields the same table, which
    is what lets a streaming consumer (``mirror_changes_stream``)
    survive foreachBatch replays without a txn record.

    Write amplification, stated plainly: like every keyed rewrite in
    this log (``upsert_version``, ``delete_version``), the commit
    REWRITES the table's full content — the manifest references whole
    commit directories, so untouched rows cannot be kept by reference
    (Delta's file-level MERGE rewrites only matched files; that
    granularity is a different manifest protocol). The netting is the
    amortizer: one apply folds an ARBITRARY number of source commits
    into one rewrite, so a catch-up ``availableNow`` drain costs one
    table rewrite total, and a live mirror should size its trigger
    interval by how much write amplification a rewrite is worth —
    probe 15 (COVERAGE.md) quantifies the flat-vs-table-size split.

    Raises :class:`VersionConflictError` if the target moves between
    the read and the publish (expected_parent-pinned, like
    ``upsert_version``) — callers retry the whole apply."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = events.sparkSession
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(
            f"no committed versions under {path}: seed the mirror with "
            "write_version first (e.g. from a source snapshot)"
        )
    base_version = versions[-1]
    current = read_version(spark, path, base_version)
    data_cols = [c for c in current.columns]
    missing = [c for c in data_cols + list(_CDF_COLS)
               if c not in events.columns]
    if missing:
        raise ValueError(
            f"events relation lacks columns {missing} — expected the "
            "read_changes schema for this table"
        )
    extras = [c for c in events.columns
              if c not in data_cols and c not in _CDF_COLS]
    if extras:
        raise SchemaEvolutionError(
            f"events carry columns {extras} the target lacks — the "
            "source schema evolved; evolve the target first (one "
            "merge_schema=True append of an empty frame) so the apply "
            "never silently drops data"
        )

    deciding = events.where(
        F.col("_change_type").isin("insert", "update_postimage", "delete")
    )
    # two deciding events for one key in ONE commit cannot be ordered —
    # an arbitrary winner would silently diverge the mirror, so refuse
    # (Delta's "multiple source rows matched" MERGE error). One extra
    # aggregation over the increment; the netting across COMMITS below
    # is what the feed's _commit_version total order makes well-defined.
    dup = (
        deciding.groupBy(*keys, "_commit_version")
        .count().where(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"multiple deciding change events for key "
            f"{[dup[0][k] for k in keys]} in commit "
            f"{dup[0]['_commit_version']} — a keyed apply needs at most "
            "one insert/update/delete per key per commit (the source "
            "append carried duplicate keys?)"
        )
    w = Window.partitionBy(*keys).orderBy(F.col("_commit_version").desc())
    net = (
        deciding.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*data_cols, "_change_type")
    ).localCheckpoint()  # one small materialization: reused 3x below
    try:
        upserts = net.where(F.col("_change_type") != "delete").select(
            *data_cols
        )
        # net is one row per key by construction; no distinct needed
        touched = net.select(*keys)
        # a batch netting to ONLY no-op deletes (keys the target never
        # had) must not publish a content-identical commit: nothing to
        # upsert and no delete that matches the target -> None, like an
        # empty net
        if upserts.isEmpty() and (
            net.where(F.col("_change_type") == "delete")
            .join(current, keys, "left_semi").isEmpty()
        ):
            return None
        kept = current.join(touched, keys, "left_anti")
        ev = None
        if change_feed:
            pre = current.join(touched, keys, "left_semi").select(
                *keys,
                F.struct(*data_cols).alias("_change_pre"),
            )
            ev = (
                net.join(pre, keys, "left")
                .where(  # net-delete of an absent key: a no-op, not an
                    # event — the target never had the row
                    (F.col("_change_type") != "delete")
                    | F.col("_change_pre").isNotNull()
                )
                .select(
                    F.when(F.col("_change_type") == "delete",
                           F.lit("delete"))
                    .when(F.col("_change_pre").isNotNull(),
                          F.lit("update"))
                    .otherwise(F.lit("insert")).alias("_change_op"),
                    F.col("_change_pre"),
                    F.when(
                        F.col("_change_type") != "delete",
                        F.struct(*[net[c] for c in data_cols]),
                    ).alias("_change_post"),
                )
            )
        return _publish_with_changes(
            spark, kept.unionByName(upserts), path, base_version,
            ev=ev, op="upsert",
        )
    finally:
        # localCheckpoint blocks are session-pinned — release them
        # (the repo-wide iterative-operator contract, graph.py)
        from my_feast_spark.operators.graph import release_checkpoint

        release_checkpoint(net)


def delete_version(
    spark: SparkSession, path: str, condition, *, change_feed: bool = True,
    optimized_write: bool | str = True,
    optimized_write_split_rows: int = _AUTO_SPLIT_ROWS,
) -> int:
    """Row-level DELETE (Delta's DELETE WHERE): commit a new version
    holding the latest version's rows with ``condition`` NOT true —
    rows where the predicate evaluates NULL are KEPT (SQL DELETE
    semantics). ``condition`` is a Column or a SQL string. One
    content-preserving rewrite pinned to the version it read
    (``expected_parent`` — a concurrent commit raises
    :class:`VersionConflictError` instead of silently resurrecting or
    dropping its rows); the txn history carries through. Pre-delete
    versions keep time-traveling until vacuumed.

    ``change_feed`` (default on): also persist the DELETED rows as a
    change sidecar (op='delete', full preimage) recorded in the
    manifest, so :func:`diff_versions` composes diffs across this
    commit from the increment alone. Costs one extra scan with the
    predicate inverted — pushdown applies, so it reads roughly what
    the delete removes."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    if not isinstance(cond, Column):
        raise TypeError("condition must be a Column or SQL string")
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    base_version = versions[-1]
    current = read_version(spark, path, base_version)
    kept = current.where(~F.coalesce(cond, F.lit(False)))
    ev = None
    if change_feed:
        removed = current.where(F.coalesce(cond, F.lit(False)))
        ev = removed.select(
            F.lit("delete").alias("_change_op"),
            F.struct(*current.columns).alias("_change_pre"),
            F.lit(None).cast(
                _T.StructType(current.schema.fields)
            ).alias("_change_post"),
        )
    return _publish_with_changes(
        spark, kept, path, base_version,
        ev=ev, op="delete",
        optimized_write=optimized_write,
        optimized_write_split_rows=optimized_write_split_rows,
    )


def checkpoint_version(
    spark: SparkSession,
    path: str,
    *,
    zorder_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    optimized_write: bool | str = True,
    optimized_write_split_rows: int = _AUTO_SPLIT_ROWS,
) -> int:
    """Log/layout maintenance — Delta's OPTIMIZE in one commit: rewrite
    the LATEST version's content as one fresh overwrite commit (an
    append chain of K commits collapses to a single-directory version;
    ``vacuum(keep_last=1)`` then reclaims every superseded directory).
    ``zorder_by`` clusters the rewrite on 2-3 columns (range-partitioned
    + sorted by the interleaved z-value, the ``sources/zorder.py``
    layout), ``stats_cols`` sweeps the skipping sidecar for the new
    directory, ``num_files`` bounds the output file count,
    ``partition_by`` re-keys the hive layout (default: inherit the
    table's — a checkpoint never silently flattens a partitioned
    table). Contents are bit-identical by construction (a
    read-through-the-log rewrite)."""
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    base_version = versions[-1]
    df = read_version(spark, path, base_version)
    if zorder_by:
        from my_feast_spark.sources.zorder import zvalue

        z = zvalue(df, zorder_by).alias("__z")
        df = df.select("*", z)
        df = (
            df.repartitionByRange(num_files, "__z")
            if num_files
            else df.repartitionByRange("__z")
        ).sortWithinPartitions("__z").drop("__z")
    elif num_files:
        df = df.coalesce(num_files)
    return write_version(
        df, path, mode="overwrite", stats_cols=stats_cols,
        expected_parent=base_version,
        partition_by=partition_by,
        # a z-ordered rewrite already owns its task layout (range
        # partition + sort on the z-value); the optimized-write shuffle
        # would destroy exactly the clustering the checkpoint built
        optimized_write=False if zorder_by else optimized_write,
        optimized_write_split_rows=optimized_write_split_rows,
        _carry_txn=True,
        # content-preserving by construction: mark it so diff_versions'
        # chain composer treats the commit as zero changes instead of
        # falling back to the two-snapshot join
        _manifest_extra={"op": "checkpoint"},
    )


def checkpoint_if_due(
    spark: SparkSession,
    path: str,
    *,
    max_dirs: int = 64,
    **checkpoint_kwargs,
) -> int | None:
    """Incremental checkpointing hook (the ``compact_every`` shape the
    streaming ingests use, applied to the commit log): checkpoint the
    table iff the LATEST version's directory chain has reached
    ``max_dirs``. Returns the new checkpoint version, or None when not
    due.

    The trigger is chain LENGTH, not commit count — version resolution
    is flat in commits (one manifest read) so the log itself never
    needs compacting; what grows with an append chain is the READ
    (Spark lists/scans one directory per append, probe 9 measures it at
    1000 commits). Calling this after every ``write_version`` bounds
    every reader's chain at ``max_dirs`` while paying the full-table
    rewrite only once per ``max_dirs`` appends — O(N) amortized write
    amplification per row instead of the O(N²/k) a
    checkpoint-every-k-COMMITS policy would pay on a growing table.
    ``checkpoint_kwargs`` pass through (``zorder_by``, ``stats_cols``,
    ``num_files``)."""
    if max_dirs < 2:
        raise ValueError("max_dirs must be >= 2")
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    if not versions:
        return None
    m = _read_manifest(jvm, fs, path, versions[-1])
    if len(m["dirs"]) < max_dirs:
        return None
    return checkpoint_version(spark, path, **checkpoint_kwargs)


def vacuum(
    spark: SparkSession, path: str, *, keep_last: int = 1,
    grace_seconds: float = 900.0,
) -> dict:
    """Drop manifests older than the newest ``keep_last`` and delete
    data directories no retained manifest references. Retained versions
    keep time-traveling; a torn commit's orphaned data directory
    (written, never published) is removed once it is old enough.

    ``grace_seconds`` is the in-flight-commit guard (Delta's VACUUM
    retention window): a concurrent ``write_version``
    writes its data directory BEFORE publishing its manifest, so a
    vacuum racing it would see an unreferenced directory and delete a
    commit about to become (or just become) visible. Directories whose
    modification time is within the window are left alone, and the
    retained-manifest set is RE-READ after the data listing so a
    manifest published mid-vacuum still protects its directory. Run
    vacuum with a grace comfortably above the longest commit's write
    time (or 0 only when no writer can be live — the tests' setting)."""
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs = _fs(spark, path)
    versions = list_versions(spark, path)
    keep = set(versions[-keep_last:])
    dropped_manifests = 0
    for v in versions:
        if v not in keep:
            fs.delete(_hpath(jvm, path, _VLOG, f"{v}.json"), False)
            dropped_manifests += 1
    # stale temp manifests from crashed commits (also grace-guarded:
    # a live writer's .tmp- file is about to be renamed)
    cutoff_ms = (_time.time() - grace_seconds) * 1000.0
    vdir = _hpath(jvm, path, _VLOG)
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        if name.startswith(".tmp-") and st.getModificationTime() < cutoff_ms:
            _log.warning(
                "vacuum %s: deleting %s/%s, a torn commit's unpublished "
                "manifest", path, _VLOG, name,
            )
            fs.delete(st.getPath(), False)
    removed_dirs = 0
    droot = _hpath(jvm, path, _DATA)
    if fs.exists(droot):
        candidates = [
            st
            for st in fs.listStatus(droot)
            if st.getModificationTime() < cutoff_ms
        ]
        # re-read the retained manifests AFTER the listing: a commit
        # that published between list_versions() above and now must
        # protect its directory — and the ORIGINAL keep set stays
        # protected too (a mid-vacuum publish shifts the keep window;
        # versions this run did not drop must keep their data)
        protect = keep | set(list_versions(spark, path)[-keep_last:])
        referenced: set[str] = set()
        for v in protect:
            pm = _read_manifest(jvm, fs, path, v)
            referenced.update(pm["dirs"])
            if pm.get("changes"):
                # change sidecars live under data/ too: keep a retained
                # commit's change feed diffable until its manifest goes
                referenced.add(pm["changes"])
        for st in candidates:
            rel = f"{_DATA}/{st.getPath().getName()}"
            if rel not in referenced:
                fs.delete(st.getPath(), True)
                removed_dirs += 1
    return {
        "retained_versions": sorted(keep),
        "dropped_manifests": dropped_manifests,
        "removed_dirs": removed_dirs,
    }
