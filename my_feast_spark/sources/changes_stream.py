"""Versioned-table change feed as a Structured Streaming SOURCE.

Completes the transaction log's CDF story (Delta's
``readStream.option("readChangeFeed", "true")``, CASE.MD:107 is the
reference's Delta standardization): the batch side is
``versioned.read_changes`` (per-commit change events) and
``versioned.diff_versions`` (netted); this module serves the SAME
per-commit arithmetic as a streaming source, so a downstream pipeline
consumes a versioned table incrementally — micro-batches advance one
offset per COMMIT, replay is exactly-once by construction (manifests
and sidecars are immutable, so a version range always re-reads to the
same events), and the cost per trigger is the increments, never the
table.

Built on the PySpark 4 Python Data Source API
(``pyspark.sql.datasource``) — the idiomatic Spark mechanism for a
custom streaming source:

* **Offsets are version numbers.** ``initialOffset`` is the table's
  latest version at stream start (only NEW commits flow; pass
  ``starting_version`` to begin earlier — the batch reader's
  exclusive-since convention). ``latestOffset`` is one manifest-dir
  listing.
* **Partitions are files.** Each trigger's range expands — driver-side,
  manifest reads only — into one input partition per appended data
  file / change sidecar file, so a big commit reads with full cluster
  parallelism and a small one costs one task.
* **Workers read Arrow.** ``read()`` uses pyarrow.parquet → yields
  RecordBatches directly (no row-at-a-time Python); append files
  become ``insert`` events, sidecar files explode into
  pre/post-image events, and every batch is cast to the head schema
  (older commits serve NULL for later columns — the ``read_version``
  contract).

Environment notes (the honest boundaries): the control plane and the
workers open the table through ``pyarrow.fs`` (``LocalFileSystem`` or
``FileSystem.from_uri`` — s3/hdfs/gcs on a real cluster), NOT the
JVM's Hadoop FS — Python data sources cannot call into the JVM. And
the source CLASS is pickled by reference into Spark's Python worker
processes, so ``my_feast_spark`` must be importable there — true for
any installed deployment; an un-installed checkout must be on
PYTHONPATH before the session's JVM starts (the ``__spark_entry__`` /
conftest pattern). And
like Delta, a mid-stream schema change or a non-self-describing commit
(plain overwrite / restore / ``change_feed=False`` rewrite) fails the
stream loudly at planning time rather than serving wrong increments;
restart the stream (new schema) or re-seed from a snapshot +
``read_changes`` (after repairing the chain).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as _T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: mirror of versioned.py's layout constants — kept literal here so the
#: pickled source never drags the JVM-coupled module into workers
_VLOG = "_vlog"
_MANIFEST_RE = re.compile(r"^(\d+)\.json$")

SOURCE_NAME = "versioned-changes"


def _pa_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a table root — local
    paths stay local, URIs (s3://, hdfs://) resolve via pyarrow."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _list_versions(fs, root: str) -> list[int]:
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(f"{root}/{_VLOG}", allow_not_found=True)
    out = []
    for info in fs.get_file_info(sel):
        m = _MANIFEST_RE.match(info.base_name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest(fs, root: str, v: int) -> dict:
    # driver side only (planning and schema): the import never runs
    # in a worker
    from my_feast_spark.sources.versioned import _check_manifest

    where = f"{root}/{_VLOG}/{v}.json"
    with fs.open_input_stream(where) as f:
        return _check_manifest(json.loads(f.read().decode("utf-8")), where)


def _parquet_files(fs, root: str, commit_dir: str) -> list[str]:
    """All parquet leaf files of one commit directory (recursive —
    hive-partitioned commits nest value directories)."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(f"{root}/{commit_dir}", recursive=True)
    return sorted(
        info.path
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.File
        and info.base_name.endswith(".parquet")
    )


#: Spark's hive directory name for a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_values(file_path: str, commit_dir: str) -> dict:
    """key=value partition segments between the commit dir and the
    file (hive-partitioned commits carry those columns in the PATH,
    not the file) — URL-unescaped the way Spark wrote them (a value
    containing ``:`` lands as ``%3A``), with the NULL sentinel mapped
    back to None, so a value reads the same as through the batch
    reader and a non-string partition column casts cleanly."""
    from urllib.parse import unquote

    rel = file_path.split(f"{commit_dir}/", 1)[-1]
    out = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, _, val = seg.partition("=")
            out[unquote(k)] = None if val == _HIVE_NULL else unquote(val)
    return out


class _ChangesPartition(InputPartition):
    def __init__(self, version: int, kind: str, file: str,
                 hive: dict[str, str]):
        self.version = version
        self.kind = kind  # 'append' | 'changes'
        self.file = file
        self.hive = hive


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema_json: str,
                 starting_version: int | None):
        self._root = root
        self._schema_json = schema_json
        self._starting = starting_version

    # -- driver side -------------------------------------------------
    def initialOffset(self) -> dict:
        if self._starting is not None:
            return {"version": self._starting}
        fs, root = _pa_fs(self._root)
        versions = _list_versions(fs, root)
        if not versions:
            raise FileNotFoundError(
                f"no committed versions under {self._root}"
            )
        return {"version": versions[-1]}

    def latestOffset(self) -> dict:
        fs, root = _pa_fs(self._root)
        versions = _list_versions(fs, root)
        return {"version": versions[-1] if versions else 0}

    def partitions(self, start: dict, end: dict):
        from my_feast_spark.sources.versioned import (
            ChangeFeedUnavailableError,
        )

        fs, root = _pa_fs(self._root)
        v_old, v_new = int(start["version"]), int(end["version"])
        if v_old > v_new:
            # startingVersion ahead of the head, or a checkpointed
            # offset against a recreated table — loud, never a KeyError
            raise ChangeFeedUnavailableError(
                f"stream offset {v_old} is ahead of the table head "
                f"{v_new} at {self._root} — the checkpoint belongs to "
                "a different (or recreated) table, or startingVersion "
                "overshot; re-seed with a fresh checkpoint"
            )
        canonical = {
            f["name"] for f in json.loads(self._schema_json)["fields"]
        }
        # manifests are read LAZILY along the parent walk — the commits
        # in (v_old, v_new] plus an append's parent, for its dirs — so
        # a vacuum that dropped the consumed prefix fails the stream
        # only where an append needs a dropped parent; a sidecar commit
        # never reads its parent's manifest
        manifests: dict[int, dict] = {}

        def _m(vv: int) -> dict:
            if vv not in manifests:
                try:
                    manifests[vv] = _manifest(fs, root, vv)
                except FileNotFoundError as e:
                    # Delta's "files were deleted" streaming failure
                    raise ChangeFeedUnavailableError(
                        f"manifest {vv} of {self._root} was vacuumed "
                        "before this stream consumed it — re-seed from "
                        "a snapshot with a fresh checkpoint"
                    ) from e
            return manifests[vv]

        out: list[_ChangesPartition] = []
        v = v_new
        while v != v_old:
            m = _m(v)
            parent = m.get("parent")
            if parent is None or parent < v_old:
                raise ChangeFeedUnavailableError(
                    f"commit {v} of {self._root} has no parent chain "
                    f"back to the last consumed version {v_old} "
                    "(overwrite or restore landed) — the change feed "
                    "cannot serve it; re-seed from a snapshot"
                )
            extra = [
                f["name"] for f in m["schema"]["fields"]
                if f["name"] not in canonical
            ]
            if extra:
                raise ChangeFeedUnavailableError(
                    f"commit {v} added columns {extra} after this "
                    "stream fixed its schema — restart the stream to "
                    "adopt the evolved schema (Delta fails the stream "
                    "on schema change the same way)"
                )
            if m.get("mode") == "append":
                pdirs = set(_m(parent)["dirs"])
                for d in m["dirs"]:
                    if d in pdirs:
                        continue
                    for fpath in _parquet_files(fs, root, d):
                        out.append(_ChangesPartition(
                            v, "append", fpath, _hive_values(fpath, d),
                        ))
            elif m.get("op") in ("upsert", "delete") and m.get("changes"):
                for fpath in _parquet_files(fs, root, m["changes"]):
                    out.append(_ChangesPartition(v, "changes", fpath, {}))
            elif m.get("op") == "checkpoint":
                pass  # content-preserving: zero events
            else:
                raise ChangeFeedUnavailableError(
                    f"commit {v} of {self._root} is a plain overwrite, "
                    "restore, or change_feed=False rewrite — no "
                    "per-commit change feed exists for it"
                )
            v = parent
        out.reverse()
        # a servable range with zero events (checkpoints / empty
        # appends) still needs >=1 partition: the API requires it
        return out or [_ChangesPartition(v_new, "empty", "", {})]

    def commit(self, end: dict) -> None:
        pass

    # -- worker side ---------------------------------------------------
    def read(self, partition: _ChangesPartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        spark_schema = StructType.fromJson(json.loads(self._schema_json))
        arrow_schema = to_arrow_schema(spark_schema)
        if partition.kind == "empty":
            return iter(())
        import pyarrow.parquet as pq

        fs, _root = _pa_fs(self._root)
        table = pq.read_table(partition.file, filesystem=fs)
        n_meta = 2  # _change_type, _commit_version trail the schema
        data_fields = list(arrow_schema)[:-n_meta]

        def _assemble(cols: dict, n: int, change_type):
            arrays = []
            for f in data_fields:
                a = cols.get(f.name)
                if a is None:
                    if f.name in partition.hive:
                        hv = partition.hive[f.name]  # None = hive NULL
                        a = (pa.nulls(n, f.type) if hv is None
                             else pa.array([hv] * n).cast(f.type))
                    else:
                        a = pa.nulls(n, f.type)
                else:
                    a = a.cast(f.type)
                arrays.append(a)
            arrays.append(pa.array(change_type, pa.string()))
            arrays.append(pa.array([partition.version] * n, pa.int64()))
            return pa.table(arrays, schema=arrow_schema).to_batches()

        if partition.kind == "append":
            cols = {
                name: table.column(name).combine_chunks()
                for name in table.column_names
            }
            n = table.num_rows
            yield from _assemble(cols, n, ["insert"] * n)
            return

        # sidecar: one file holds op + full pre/post images; an update
        # contributes BOTH images, each its own event row
        import pyarrow.compute as pc

        op = table.column("_change_op")
        for side, keep_ops, types in (
            ("_change_pre", ("update", "delete"),
             {"update": "update_preimage", "delete": "delete"}),
            ("_change_post", ("update", "insert"),
             {"update": "update_postimage", "insert": "insert"}),
        ):
            mask = pc.is_in(op, value_set=pa.array(keep_ops))
            sub = table.filter(mask)
            if sub.num_rows == 0:
                continue
            img = sub.column(side).combine_chunks()
            cols = {
                f.name: img.field(f.name)
                for f in img.type
            }
            change_type = [
                types[o] for o in sub.column("_change_op").to_pylist()
            ]
            yield from _assemble(cols, sub.num_rows, change_type)


class VersionedChangesDataSource(DataSource):
    """``spark.readStream.format("versioned-changes")`` over a
    versioned table. Options: ``path`` (table root, required),
    ``startingVersion`` (consume changes AFTER this version; default:
    the latest version at stream start)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self):
        root = self.options.get("path")
        if not root:
            raise ValueError("option 'path' is required")
        fs, p = _pa_fs(root)
        versions = _list_versions(fs, p)
        if not versions:
            raise FileNotFoundError(f"no committed versions under {root}")
        m = _manifest(fs, p, versions[-1])
        fields = _T.StructType.fromJson(m["schema"]).fields
        clash = [f.name for f in fields
                 if f.name in ("_change_type", "_commit_version")]
        if clash:
            raise ValueError(
                f"table columns {clash} collide with the change feed's "
                "metadata columns"
            )
        return _T.StructType(
            fields
            + [_T.StructField("_change_type", _T.StringType(), False),
               _T.StructField("_commit_version", _T.LongType(), False)]
        )

    def streamReader(self, schema) -> _ChangesStreamReader:
        starting = self.options.get("startingVersion")
        return _ChangesStreamReader(
            self.options["path"],
            json.dumps(schema.jsonValue()),
            int(starting) if starting is not None else None,
        )


def read_changes_stream(
    spark: SparkSession,
    path: str,
    *,
    starting_version: int | None = None,
) -> DataFrame:
    """Register the source (idempotent) and open the change-feed
    stream: ``read_changes``'s per-commit events, delivered as
    micro-batches — one offset per commit, exactly-once replay."""
    spark.dataSource.register(VersionedChangesDataSource)
    reader = spark.readStream.format(SOURCE_NAME).option("path", path)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    return reader.load()
