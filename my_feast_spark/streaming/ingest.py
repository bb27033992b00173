"""Structured Streaming ingest — the reference's capture semantics, Spark-native.

The reference's streaming story (SURVEY §2.9) is: async producer → Event Hub
→ platform capture into Avro files on a 3-minute tumbling window → batch jobs
pick the files up (CASE.MD:98-107; infra/cloud/fs-cloud/ingest_weather_chicago.py:20-55).
Here that whole path is one Structured Streaming pipeline:

    readStream (file source)  →  watermark + tumbling window agg
                              →  writeStream (parquet capture / memory)

Scale notes (1000-executor / 100 TB target):
  * The file source lists incrementally (``maxFilesPerTrigger`` bounds a
    micro-batch); state for windows/dedup lives in the state store, sized by
    ``spark.sql.shuffle.partitions`` — set it to O(executor cores).
  * Watermarks bound state: windows older than (max event time − delay) are
    evicted, so state is O(active windows × keys), not O(history).
  * For big state (sessionization over many users) switch the state store to
    RocksDB: ``spark.sql.streaming.stateStore.providerClass =
    ...RocksDBStateStoreProvider`` — spills to local disk instead of heap.
  * ``Trigger.AvailableNow`` drains the backlog with bounded batches and
    stops — the batch-parity mode used by tests and the oracle comparison.
"""

from __future__ import annotations

import functools
import itertools
import operator
import os
import tempfile
from typing import Callable, Iterable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from my_feast_spark.functions.scalar import floor_round

_memory_table_ids = itertools.count()


#: layout-contract marker each dedup index carries at its root
_INDEX_META = "_mfs_index_meta.json"

#: the datasets under ``index_path`` per index kind, in write and
#: compaction order: (payload, key rows) for the near-dup kinds; the
#: exact ingest's index is ``index_path`` itself
_INDEX_DATASETS = {
    "exact_fingerprint": (),
    "neardup_minhash": ("sigs", "bands"),
    "embedding_lsh": ("vecs", "buckets"),
}


def _index_datasets(fs, root) -> list:
    """Hadoop paths of the known index datasets present under the index
    root ``root`` — empty for an exact-ingest index or a missing root."""
    if not fs.exists(root):
        return []
    known = {d for ds in _INDEX_DATASETS.values() for d in ds}
    return [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName() in known
    ]


def _legacy_index_layout(fs, jvm, index_path: str):
    """Inspect a pre-marker index's actual on-disk layout. Returns
    ``(has_data, bucketed, max_pbucket)`` aggregated over the index's
    datasets (:data:`_INDEX_DATASETS`) when present, else the root
    itself (exact ingest). Driver-side directory listing only, two
    levels deep (generation dirs + their immediate ``pbucket=``
    children) — never reads data files."""
    root = jvm.org.apache.hadoop.fs.Path(index_path)
    if not fs.exists(root):
        return False, False, -1
    has_data, bucketed, max_pb = False, False, -1
    for d in _index_datasets(fs, root) or [root]:
        for st in fs.listStatus(d):
            if not st.getPath().getName().startswith("batch_id="):
                continue
            has_data = True
            for sub in fs.listStatus(st.getPath()):
                sname = sub.getPath().getName()
                if sname.startswith("pbucket="):
                    bucketed = True
                    max_pb = max(max_pb, int(sname.split("=", 1)[1]))
    return has_data, bucketed, max_pb


def _ensure_index_meta(spark: SparkSession, index_path: str, meta: dict):
    """Pin an index's per-stream-lifetime layout choices (hash family,
    banding config, pbucket count) in a root marker and validate them
    on every stream (re)start. The choices are invisible in the stored
    rows themselves, so without the marker a resumed stream with a
    different config would append incompatible state SILENTLY: after a
    hash-family bit-pattern change or an ``index_buckets`` flip, new
    signatures never collide with old ones and every cross-era
    duplicate is missed with no error. A mismatch fails the stream
    START, loudly, naming the key.

    Written atomically (hidden temp + rename) BEFORE the first batch;
    idempotent across restarts. Pre-marker indexes (built before this
    existed) are LAYOUT-CHECKED against their actual on-disk shape
    before adoption: the bucketed-vs-flat axis and the bucket-count
    lower bound are inferrable from the ``pbucket=`` directory
    structure, so a resume whose ``index_buckets`` contradicts the data
    fails loudly instead of silently never pruning/colliding. Only the
    hash-family/banding axes stay unverifiable for that one legacy
    generation — the adoption warns, names them, and records
    ``legacy_adopted`` in the marker it stamps."""
    import json as _json

    sc = spark.sparkContext
    jvm = sc._jvm
    mp = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{_INDEX_META}")
    fs = mp.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(mp):
        stream = fs.open(mp)
        try:
            stored = _json.loads(
                bytes(stream.readAllBytes()).decode("utf-8")
            )
        finally:
            stream.close()
        bad = {
            k: (stored.get(k), v)
            for k, v in meta.items()
            if stored.get(k) != v
        }
        if bad:
            raise ValueError(
                f"index at {index_path!r} was built with a different "
                f"layout: {bad} (stored, requested) — these are "
                "per-stream-lifetime choices; rebuild the index or "
                "match the stored config"
            )
        return
    has_data, bucketed, max_pb = _legacy_index_layout(fs, jvm, index_path)
    if has_data:
        # pre-marker index: verify what the directory structure proves
        req = meta.get("index_buckets")
        if bucketed and not req:
            raise ValueError(
                f"index at {index_path!r} (pre-marker) is laid out as "
                "pbucket= partition directories but the resuming stream "
                "requested index_buckets=None — a flat probe against a "
                "bucketed index breaks partition-column inference; pass "
                "the original index_buckets or rebuild the index"
            )
        if req and not bucketed:
            raise ValueError(
                f"index at {index_path!r} (pre-marker) is FLAT but the "
                f"resuming stream requested index_buckets={req} — a "
                "bucketed probe would prune against partition "
                "directories that do not exist and silently miss every "
                "stored row; resume flat or rebuild the index"
            )
        if req and bucketed and max_pb >= req:
            raise ValueError(
                f"index at {index_path!r} (pre-marker) holds "
                f"pbucket={max_pb} but the resuming stream requested "
                f"index_buckets={req} (pbuckets must be < B) — the "
                "bucket counts differ; match the original or rebuild"
            )
        import warnings as _warnings

        _warnings.warn(
            f"adopting pre-marker index at {index_path!r}: the "
            "bucketed-vs-flat layout matches the on-disk structure, "
            "but the hash-family/banding axes of its legacy generation "
            "cannot be verified — a config change across that "
            "generation would not be caught",
            stacklevel=2,
        )
        meta = {**meta, "legacy_adopted": True}
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(index_path))
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{index_path}/.{_INDEX_META}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(_json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, mp):
        # a concurrent starter won the rename: validate against theirs
        fs.delete(tmp, False)
        _ensure_index_meta(spark, index_path, meta)


def _fs_nonempty(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists and holds at least one non-hidden
    entry, probed through Spark's Hadoop FileSystem — so ``s3a://``,
    ``hdfs://`` and ``file://`` index locations all answer correctly.
    (``os.path`` sees only the driver's local filesystem: for a cloud
    ``index_path`` it is always False, silently disabling cross-batch
    dedup instead of erroring.)"""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not name.startswith((".", "_")):
            return True
    return False


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    path_glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source ``readStream`` (the capture-directory consumer, S11).

    Streaming file sources require an explicit schema; when ``schema`` is
    None it is inferred from a one-off batch read of the same path (driver-
    side metadata only). ``max_files_per_trigger`` bounds micro-batch size —
    the knob that keeps a 100 TB backlog from becoming one giant batch.
    """
    reader = spark.readStream.format(fmt)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if schema is None:
        batch = spark.read.format(fmt)
        if path_glob:
            batch = batch.option("pathGlobFilter", path_glob)
        schema = batch.load(path).schema
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.schema(schema).load(path)


def tumbling_window_agg(
    sdf: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    *,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the 3-minute-capture /
    hourly-gold semantics (CASE.MD:107; chicago_weather_hourly_fs.py:38-43)
    as one streaming operator.

    Watermark bounds state and admits late rows up to ``watermark_delay``;
    the window struct is flattened to ``bucket_ts`` (window start) so the
    output schema matches the batch gold tables.
    """
    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration), *group_cols)
        .agg(*aggs)
        .withColumn("bucket_ts", F.col("window.start"))
        .drop("window")
    )


def streaming_dedup(
    sdf: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming duplicate elimination (the reference defers this to batch
    PIT dedup — SURVEY §2.9; here it is available at ingest time too).

    With ``ts_col`` set, the watermark bounds dedup state: keys older than
    the watermark are evicted, so state does not grow with the full history.
    """
    if ts_col is not None:
        sdf = sdf.withWatermark(ts_col, watermark_delay)
        return sdf.dropDuplicates([*keys, ts_col])
    return sdf.dropDuplicates(list(keys))


# --------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization (applyInPandasWithState)
# --------------------------------------------------------------------------

SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


def _session_fn(gap_us: int, timeout_close: bool) -> Callable:
    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        import numpy as np

        (user_id,) = key
        # vectorized: gather the whole group's batch, sort ONCE across all
        # Arrow chunks (per-chunk order is not globally sorted), then find
        # session breaks with a single diff — no per-row Python loop
        chunks = [
            pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            for pdf in pdfs
        ]
        ts = (
            np.sort(np.concatenate(chunks))
            if chunks
            else np.empty(0, dtype="int64")
        )
        carry = tuple(state.get) if state.exists else None
        closed: list[tuple] = []
        if ts.size:
            breaks = np.nonzero(np.diff(ts) > gap_us)[0]
            segs = np.split(ts, breaks + 1)
            sessions = [(int(s[0]), int(s[-1]), int(s.size)) for s in segs]
            if carry is not None:
                c_start, c_last, c_n = carry
                if sessions[0][0] - c_last <= gap_us:
                    s0 = sessions[0]
                    sessions[0] = (c_start, s0[1], c_n + s0[2])
                else:
                    closed.append((c_start, c_last, c_n))
            closed.extend(sessions[:-1])
            carry = sessions[-1]
        if state.hasTimedOut or carry is None:
            if carry is not None:
                closed.append(carry)
                carry = None
            state.remove()
        else:
            state.update(carry)
            if timeout_close:
                state.setTimeoutDuration(gap_us // 1_000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                }
            )

    return fn


def sessionize(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    timeout_close: bool = False,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState``) — the §2.9 extension the reference lacks.

    Groups events per user; a session closes after ``gap_minutes`` of
    event-time inactivity. Output: one row per CLOSED session. State per
    user is three longs — O(active users), independent of history length.

    ``timeout_close=True`` additionally closes idle sessions via a
    processing-time timeout — the long-running-deployment mode. Leave it
    False for drain-and-stop runs (Trigger.AvailableNow): with a timeout
    registered, the query keeps scheduling empty micro-batches waiting for
    wall-clock timeouts and never terminates.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    sel = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_close
        else GroupStateTimeout.NoTimeout
    )
    return sel.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_us, timeout_close),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


# --------------------------------------------------------------------------
# Sinks / runners
# --------------------------------------------------------------------------

def capture_to_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    *,
    trigger_interval: str | None = "3 minutes",
    available_now: bool = False,
    partition_by: Sequence[str] = (),
):
    """The capture sink: micro-batched parquet files, tumbling trigger —
    Spark-native equivalent of Event Hub Capture's 3-minute Avro windows
    (CASE.MD:107). Returns the started StreamingQuery."""
    writer = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def run_to_memory_table(
    sdf: DataFrame,
    spark: SparkSession,
    *,
    output_mode: str = "complete",
    timeout_sec: int = 300,
) -> DataFrame:
    """Drain a streaming DataFrame with ``Trigger.AvailableNow`` into an
    in-memory table and return it as a batch DataFrame — the batch-parity
    runner used by tests and the DuckDB oracle comparison."""
    name = f"mfs_stream_{next(_memory_table_ids)}"
    # the memory sink's checkpoint is throwaway — clean it up at exit so
    # repeated bench/test sessions don't accumulate /tmp state
    import atexit
    import shutil

    ckpt = tempfile.mkdtemp(prefix="mfs_ckpt_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(ckpt, name))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
    return spark.table(name)


def _start_foreach_batch(
    sdf: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    available_now: bool,
    trigger_interval: str | None,
    output_mode: str = "update",
):
    """Start ``sdf`` through ``foreachBatch(batch_fn)``: drained and
    stopped under ``available_now``, else on a ``trigger_interval``
    processing-time trigger (Spark's default trigger when both are
    unset). Returns the started StreamingQuery."""
    writer = (
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def compaction_due(batch_id: int, compact_every: int | None) -> bool:
    """True after every ``compact_every``-th micro-batch, never when
    ``compact_every`` is unset: the in-stream maintenance cadence."""
    return bool(compact_every) and (
        batch_id % compact_every == compact_every - 1
    )


class _IndexBatch:
    """One micro-batch's reads and writes of its ingest's output and
    index datasets (``dirs``, in write and compaction order)."""

    def __init__(self, spark, out_path, dirs, batch_id, index_buckets):
        self.spark = spark
        self.out_path = out_path
        self.dirs = dirs
        self.batch_id = batch_id
        self.index_buckets = index_buckets
        self.live: list[DataFrame] = []

    def _own(self, root: str) -> str:
        return os.path.join(root, f"batch_id={self.batch_id}")

    def _pbucket(self, *cols: str) -> Column:
        return F.pmod(F.xxhash64(*cols), F.lit(self.index_buckets))

    def pin(self, df: DataFrame) -> DataFrame:
        """``localCheckpoint`` ``df`` until the batch ends."""
        df = df.localCheckpoint()
        self.live.append(df)
        return df

    def seen(self, path: str, probe: DataFrame, *cols: str) -> DataFrame:
        """The index dataset at ``path`` without this batch's own
        generation; bucketed, pruned to the pbuckets that ``probe``'s
        ``cols`` hash into (one small job)."""
        seen = self.spark.read.parquet(path).filter(
            F.col("batch_id") != self.batch_id
        )
        if self.index_buckets:
            pbs = [
                r.pb
                for r in probe.select(self._pbucket(*cols).alias("pb"))
                .distinct()
                .collect()
            ]
            seen = seen.filter(F.col("pbucket").isin(pbs))
        return seen

    def write_output(self, accepted: DataFrame) -> DataFrame:
        """Overwrite this batch's output directory; returns it read back."""
        out = self._own(self.out_path)
        accepted.write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out)

    def write_index(self, path: str, rows: DataFrame, *cols: str) -> None:
        """Overwrite this batch's generation of the index dataset at
        ``path``; bucketed, partitioned by the pbucket of ``cols``."""
        writer = rows.write.mode("overwrite")
        if self.index_buckets:
            writer = rows.withColumn(
                "pbucket", self._pbucket(*cols)
            ).repartition("pbucket").write.mode("overwrite").partitionBy(
                "pbucket"
            )
        writer.parquet(self._own(path))


def _start_dedup_ingest(
    sdf: DataFrame,
    accept: Callable[[DataFrame, _IndexBatch], None],
    *,
    meta: dict,
    out_path: str,
    index_path: str,
    checkpoint: str,
    index_buckets: int | None,
    compact_every: int | None,
    available_now: bool,
    trigger_interval: str | None,
):
    """The per-batch driver of the three dedup ingests
    (:func:`dedup_ingest_stream`, :func:`near_dedup_ingest_stream`,
    :func:`embedding_dedup_ingest_stream`). ``accept(batch_df, ix)`` is
    the per-kind rule: it decides the batch's accepted rows and writes
    them, and their index rows, through ``ix`` (an :class:`_IndexBatch`).
    Returns the started StreamingQuery.

    Start: ``index_buckets`` and ``compact_every`` must each be None or
    an int >= 1, else ValueError. ``meta`` plus ``index_buckets`` is then
    pinned in the index root's marker (:func:`_ensure_index_meta`), so a
    restart with another layout fails at start, before any batch runs.

    Crash replay: ``foreachBatch`` is at-least-once, so a crash between
    the sink writes and the streaming commit replays the batch under the
    same batch id. Three rules make the replay exactly-once:

      * every write overwrites the batch's own ``batch_id=N`` directory
        (the output and each index dataset), so a replay rewrites
        instead of appending;
      * every index read excludes generation ``N`` itself
        (``batch_id != N``), so a replay never dedups against its own
        earlier rows and overwrites its output with nothing; compacted
        generations have negative ids and never match the guard;
      * index rows derive from the WRITTEN output, so a replay
        regenerates identical index partitions.

    ``index_buckets``: unset, every batch reads the full accumulated
    index, so per-batch cost grows with the corpus. With
    ``index_buckets=B`` each index dataset is laid out as
    ``pbucket=pmod(xxhash64(cols), B)`` directories and each read lists
    only the pbuckets the batch's own probe rows hash into, at most
    ``min(b, B)/B`` of the index for ``b`` probe rows whatever the corpus
    size. Size B so one bucket stays a few hundred MB. The probe join
    broadcasts the small batch side under AQE either way, so the index
    side never shuffles. The layout is fixed for the index's lifetime:
    the meta pin rejects a flip.

    ``compact_every=k`` runs :func:`compact_index` on each index dataset
    after every k-th batch, on the foreachBatch thread (so no compactor
    races a batch), folding every generation BEFORE the current one,
    whose directory must stay separate for the replay guard. Listing
    cost and small-file count then stay bounded over the stream's life.
    Checkpoints ``accept`` pins are released when the batch ends, also
    when it fails.
    """
    for name, value in (
        ("index_buckets", index_buckets), ("compact_every", compact_every)
    ):
        if value is not None and not (isinstance(value, int) and value >= 1):
            raise ValueError(f"{name} must be None or >= 1, got {value!r}")
    spark = sdf.sparkSession
    _ensure_index_meta(
        spark, index_path, {**meta, "index_buckets": index_buckets}
    )
    dirs = [
        os.path.join(index_path, d) for d in _INDEX_DATASETS[meta["kind"]]
    ] or [index_path]

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        from my_feast_spark.operators.graph import release_checkpoint

        ix = _IndexBatch(spark, out_path, dirs, batch_id, index_buckets)
        try:
            accept(batch_df, ix)
            if compaction_due(batch_id, compact_every):
                for d in dirs:
                    compact_index(spark, d, exclude_from=batch_id)
        finally:
            for frame in ix.live:
                release_checkpoint(frame)

    return _start_foreach_batch(
        sdf, ingest_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def _candidate_verify(
    *,
    id_col: str,
    sign: Callable[[DataFrame], DataFrame],
    key_rows: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    payload: str,
    similar: Callable[[Column, Column], Column],
):
    """The ``accept`` rule of the near-dup ingests, from a per-kind spec:
    ``sign`` turns a batch into ``(doc, payload, ...)`` rows (pinned for
    the batch), ``key_rows`` turns those into ``(doc, *keys)`` collision
    rows, and ``similar(dominator payload, doc payload)`` is the verify
    predicate. A doc drops when it verifies against an accepted doc
    sharing a key, or against a lower-id doc of its own batch. The index
    datasets are (payload, key rows), each pbucketed by its ``doc`` /
    ``keys`` columns."""
    keys = list(keys)
    a_p, b_p = f"a_{payload}", f"b_{payload}"

    def accept(batch_df: DataFrame, ix: _IndexBatch) -> None:
        payload_dir, keys_dir = ix.dirs
        signed = ix.pin(sign(batch_df))
        rows = key_rows(signed)
        # in-batch candidates: same key, lower id dominates
        a, b = rows.alias("a"), rows.alias("b")
        cand = a.join(
            b,
            functools.reduce(operator.and_, [
                *(F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys),
                F.col("a.doc") < F.col("b.doc"),
            ]),
        ).select(F.col("a.doc").alias("dom"), F.col("b.doc").alias("doc"))
        own = payloads = signed.select("doc", payload)
        if _fs_nonempty(ix.spark, keys_dir):
            cand = cand.union(
                ix.seen(keys_dir, rows, *keys)
                .select(F.col("doc").alias("dom"), *keys)
                .join(rows, keys)
                .select("dom", "doc")
            ).distinct()
            if ix.index_buckets:
                # only the dominators' payloads are read: pin the
                # (batch-sized) candidates and prune to their pbuckets
                cand = ix.pin(cand)
            payloads = payloads.union(
                ix.seen(payload_dir, cand, "dom").select("doc", payload)
            )
        else:
            cand = cand.distinct()
        dominated = (
            cand
            .join(payloads.select(F.col("doc").alias("dom"),
                                  F.col(payload).alias(a_p)), "dom")
            .join(signed.select("doc", F.col(payload).alias(b_p)), "doc")
            .filter(similar(F.col(a_p), F.col(b_p)))
            .select(F.col("doc").alias(id_col))
            .distinct()
        )
        acc = ix.write_output(
            batch_df.join(dominated, id_col, "left_anti")
        ).select(F.col(id_col).alias("doc"))
        ix.write_index(payload_dir, own.join(acc, "doc", "left_semi"), "doc")
        ix.write_index(keys_dir, rows.join(acc, "doc", "left_semi"), *keys)

    return accept


def dedup_ingest_stream(
    sdf: DataFrame,
    *,
    out_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_buckets: int | None = None,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Continuously ingest documents with exact dedup against everything
    already accepted — the streaming form of the incremental-ingest
    anti-join (workload.q_incremental_dedup): each micro-batch keeps the
    min-id document per content fingerprint, drops fingerprints the
    accumulated index has seen, appends survivors to
    ``out_path/batch_id=N`` and their fingerprints to
    ``index_path/batch_id=N``.

    ``index_buckets=B`` lays each index generation out as
    ``pbucket=pmod(xxhash64(fingerprint), B)`` directories; each batch
    then reads only the pbuckets its own fingerprints hash into.
    ``compact_every=k`` compacts the index after every k-th batch. The
    crash-replay, ``index_buckets`` and ``compact_every`` contract is
    the shared ingest driver's (``_start_dedup_ingest``). Returns the
    started StreamingQuery.
    """
    from my_feast_spark.functions.text import doc_fingerprint

    def accept(batch_df: DataFrame, ix: _IndexBatch) -> None:
        (index_dir,) = ix.dirs
        fp = batch_df.select(
            F.col(id_col), F.col(text_col),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        # in-batch dedup: deterministic min-id winner per fingerprint
        w = Window.partitionBy("fingerprint").orderBy(id_col)
        fresh = (
            fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if _fs_nonempty(ix.spark, index_dir):
            seen = ix.seen(index_dir, fresh, "fingerprint")
            fresh = fresh.join(
                seen.select("fingerprint"), "fingerprint", "left_anti"
            )
        written = ix.write_output(fresh)
        ix.write_index(index_dir, written.select("fingerprint"), "fingerprint")

    return _start_dedup_ingest(
        sdf, accept, meta={"kind": "exact_fingerprint"},
        out_path=out_path, index_path=index_path, checkpoint=checkpoint,
        index_buckets=index_buckets, compact_every=compact_every,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def near_dedup_ingest_stream(
    sdf: DataFrame,
    *,
    out_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    index_buckets: int | None = None,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Streaming NEAR-duplicate ingest — the MinHash twin of
    ``dedup_ingest_stream``: each micro-batch signs its documents,
    collides their LSH band buckets against the accumulated signature
    index, and drops every doc whose signature-estimated Jaccard
    (fraction of equal minhashes — the standard streaming-side verify;
    exact shingle verification would mean storing shingle sets) against
    an already-accepted doc, or a lower-id doc of its own batch, reaches
    ``threshold``. In-batch policy is pairwise-greedy like
    ``similarity.semdedup`` — a doc dominated only by an itself-dropped
    doc still drops, the conservative (over-drop, never under) direction
    for dedup. Short docs (< n tokens) have no shingles, can't collide,
    and are accepted unconditionally.

    Index layout under ``index_path``: ``bands/batch_id=N`` holds
    (doc, band, bsig) collision rows, ``sigs/batch_id=N`` the (doc, sig
    array) signatures of the batch's accepted docs. ``index_buckets=B``
    partitions them by ``pbucket`` — ``pmod(xxhash64(band, bsig), B)``
    for band rows, ``pmod(xxhash64(doc), B)`` for signatures — and each
    batch reads only the band pbuckets its own band rows hash into and
    the signature pbuckets of its candidate dominators. Docs per batch x
    bands rows shuffle, never the text. ``compact_every=k`` compacts
    both datasets after every k-th batch. The crash-replay,
    ``index_buckets`` and ``compact_every`` contract is the shared
    ingest driver's (``_start_dedup_ingest``).

    Band signatures are xxhash64 over the band's minhashes regardless of
    ``hash_fn`` (the index is engine-internal; pick hash_fn="portable"
    only if the SIGNATURES must replay elsewhere). The stored signatures
    are specific to the ``hash_fn`` family, so ``hash_fn`` is pinned per
    index like ``index_buckets``. The "xxhash64" family's bit patterns
    changed when it moved onto the Arrow fan-out: an index persisted
    before that move must be rebuilt (or the stream pinned to
    hash_fn="xxhash64_expr") before appending to it.
    Returns the started StreamingQuery.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    from my_feast_spark.operators.dedup import minhash_signature_array

    def sign(batch_df: DataFrame) -> DataFrame:
        # array-native signatures: the index stores the array as-is
        return minhash_signature_array(
            batch_df, id_col, text_col, n=n, num_hashes=num_hashes,
            hash_fn=hash_fn,
        ).select("doc", F.col("__sig").alias("sig"))

    def band_rows(sig: DataFrame) -> DataFrame:
        return sig.select(
            "doc",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[
                        F.element_at(F.col("sig"), b * r + j + 1)
                        for j in range(r)
                    ]).alias("bsig"),
                )
                for b in range(bands)
            ])).alias("bs"),
        ).select("doc", "bs.band", "bs.bsig")

    def similar(a_sig: Column, b_sig: Column) -> Column:
        # one higher-order fold over the pair on purpose: a single
        # array traversal, where an unrolled per-element sum measured
        # several times slower
        return F.aggregate(
            F.zip_with(a_sig, b_sig, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(num_hashes) >= threshold

    return _start_dedup_ingest(
        sdf,
        _candidate_verify(
            id_col=id_col, sign=sign, key_rows=band_rows,
            keys=("band", "bsig"), payload="sig", similar=similar,
        ),
        meta={
            "kind": "neardup_minhash",
            # "numpy" is an alias of "xxhash64" (same fan-out family)
            "hash_fn": "xxhash64" if hash_fn == "numpy" else hash_fn,
            "num_hashes": num_hashes,
            "bands": bands,
            "n": n,
        },
        out_path=out_path, index_path=index_path, checkpoint=checkpoint,
        index_buckets=index_buckets, compact_every=compact_every,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def embedding_dedup_ingest_stream(
    sdf: DataFrame,
    *,
    out_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    index_buckets: int | None = None,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Streaming SEMANTIC near-dup ingest — the embedding twin of
    ``near_dedup_ingest_stream``: each micro-batch hyperplane-LSH
    buckets its (normalized) embeddings across ``num_tables``
    independent ``num_planes``-bit sign tables, collides them against
    the accumulated bucket index, and drops every doc whose exact
    cosine (floored to 6 decimals) against an already-accepted doc, or
    a lower-id doc of its own batch, reaches ``threshold`` (precision 1
    — LSH only generates candidates; the verify is the true cosine over
    the stored vectors). In-batch policy is pairwise-greedy like the
    MinHash ingest.

    Index layout under ``index_path``: ``buckets/batch_id=N`` holds the
    (doc, table, bucket) collision rows, ``vecs/batch_id=N`` the
    accepted (doc, v) normalized vectors the verify reads.
    ``index_buckets=B`` partitions them by ``pbucket`` —
    ``pmod(xxhash64(table, bucket), B)`` for bucket rows,
    ``pmod(xxhash64(doc), B)`` for vectors. ``compact_every=k`` compacts
    both datasets after every k-th batch. The crash-replay,
    ``index_buckets`` and ``compact_every`` contract is the shared
    ingest driver's (``_start_dedup_ingest``). Returns the started
    StreamingQuery.
    """
    from my_feast_spark.operators.similarity import (
        _dot,
        _hyperplanes,
        _lsh_buckets_udf,
    )

    planes = [
        _hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)
    ]

    def sign(batch_df: DataFrame) -> DataFrame:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        norm = F.sqrt(F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0),
            lambda acc, x: acc + x,
        ))
        return batch_df.select(
            F.col(id_col).alias("doc"),
            F.transform(v, lambda x: x / F.greatest(norm, F.lit(1e-12)))
            .alias("v"),
        ).withColumn("bks", _lsh_buckets_udf(planes)(F.col("v")))

    def bucket_rows(base: DataFrame) -> DataFrame:
        return base.select(
            "doc", F.posexplode(F.col("bks")).alias("table", "bucket")
        )

    def similar(a_v: Column, b_v: Column) -> Column:
        # _dot is a higher-order fold on purpose: a dim-term unrolled
        # sum measured several times slower per pair
        return floor_round(_dot(a_v, b_v), 6) >= F.lit(threshold)

    return _start_dedup_ingest(
        sdf,
        _candidate_verify(
            id_col=id_col, sign=sign, key_rows=bucket_rows,
            keys=("table", "bucket"), payload="v", similar=similar,
        ),
        meta={
            "kind": "embedding_lsh",
            "num_planes": num_planes,
            "num_tables": num_tables,
            "dim": dim,
            "seed": seed,
        },
        out_path=out_path, index_path=index_path, checkpoint=checkpoint,
        index_buckets=index_buckets, compact_every=compact_every,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def compact_index(
    spark: SparkSession, index_dir: str, *, exclude_from: int | None = None
) -> dict:
    """Consolidate an ingest index's per-batch partitions into ONE
    generation directory — the maintenance op for the one unbounded
    cost the streaming ingests carry: every micro-batch appends a
    ``batch_id=N`` directory forever, so while the DATA each batch
    reads stays pruned (pbucket partition filters), the directory
    LISTING per batch and the small-file count grow linearly with
    stream lifetime (~175k dirs/year at a 3-minute trigger).

    Mechanics: the rows of EVERY mergeable generation — live
    non-negative batch dirs AND previously-compacted negative ones —
    are rewritten (dropDuplicates — set semantics hold for all three
    ingest index kinds) into a FRESH generation
    ``batch_id = min(mergeable ∪ {0}) - 1``, strictly below every id
    that exists; the source directories are then deleted. The fresh
    negative generation id keeps every ingest invariant intact:

      * the replay guard ``batch_id != current`` never matches a
        compacted generation (live ids are non-negative);
      * the target NEVER pre-exists, so the consolidated write is never
        an overwrite of a directory it also reads — and, crucially, the
        merge input always INCLUDES every earlier compacted generation,
        so no interruption point can strand rows in a directory the
        next run replaces without reading (were the target an existing
        generation, a crash after deleting every live source would
        leave only negative generations, and the next run would
        overwrite the newest superset with an older subset);
      * a crash ANYWHERE between the consolidated write and the last
        source delete leaves rows duplicated across generations —
        harmless to the dedup semantics (anti-joins and candidate
        generation are set-shaped) and fully healed by re-running
        compact_index, which merges the leftover generations (superset
        included) into the next fresh id. Healing is idempotent in
        content; generation ids decrease by one per run (64-bit — no
        practical exhaustion).

    Run it from a maintenance schedule (e.g. every k-th batch or daily)
    against each index dataset — the exact ingest's ``index_path``
    itself; ``bands/`` + ``sigs/`` for the MinHash ingest; ``buckets/``
    + ``vecs/`` for the embedding ingest (see
    :func:`compact_ingest_indexes`). Concurrency: schedule it BETWEEN
    micro-batches (e.g. from the same foreachBatch driver every k
    batches) — it rewrites history while a live batch may be appending
    its own new ``batch_id=N``, which compaction never touches (ids >
    the observed high-water are excluded), but two compactors racing
    the same dataset would double-delete.

    ``exclude_from`` (the in-stream auto-compaction path — the ingests'
    ``compact_every``) leaves every generation with ``batch_id >=
    exclude_from`` untouched: folding the CURRENT batch's rows into a
    negative generation would defeat the crash-replay guard
    (``batch_id != current`` no longer excludes them, so a replayed
    batch would anti-join against its own output and destroy it).

    Returns stats: ``{"generations_before", "files_before",
    "generation", "rows", "files_after"}``; a no-op (0 or 1 mergeable
    generation) returns early with ``generation=None``.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {"generations_before": 0, "files_before": 0,
                "generation": None, "rows": 0, "files_after": 0}

    def _gen_ids():
        ids = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("batch_id="):
                ids.append(int(name.split("=", 1)[1]))
        return ids

    def _count_files():
        n = 0
        it = fs.listFiles(root, True)
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith((".", "_")):
                n += 1
        return n

    ids = _gen_ids()
    files_before = _count_files()
    mergeable = [
        i for i in ids if exclude_from is None or i < exclude_from
    ]
    if len(mergeable) <= 1:
        return {"generations_before": len(ids),
                "files_before": files_before, "generation": None,
                "rows": 0, "files_after": files_before}
    # Fresh target strictly below every existing generation: the write
    # never overwrites a directory it reads, and the merge input is ALL
    # mergeable generations — including an earlier compaction's output —
    # so no crash/restart interleaving can drop index rows.
    target = min(mergeable + [0]) - 1
    sources = mergeable

    df = spark.read.parquet(index_dir)
    merged = df.filter(
        F.col("batch_id").isin(sources)
    ).drop("batch_id").dropDuplicates()
    out = os.path.join(index_dir, f"batch_id={target}")
    # preserve whichever bucket partitioning the dataset carries so
    # partition pruning keeps working after compaction: "pbucket" for
    # the ingest indexes, "__kb" for the streaming-SCD2 event log
    part_col = next(
        (c for c in ("pbucket", "__kb") if c in merged.columns), None
    )
    if part_col:
        merged.repartition(part_col).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(out)
    else:
        merged.coalesce(1).write.mode("overwrite").parquet(out)
    rows = spark.read.parquet(out).count()
    for i in sources:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                os.path.join(index_dir, f"batch_id={i}")
            ),
            True,
        )
    return {"generations_before": len(ids), "files_before": files_before,
            "generation": target, "rows": rows,
            "files_after": _count_files()}


def compact_ingest_indexes(spark: SparkSession, index_path: str) -> dict:
    """Compact every index dataset under an ingest's ``index_path``:
    the known sub-datasets (``bands``/``sigs`` — MinHash ingest;
    ``buckets``/``vecs`` — embedding ingest) when present, else the
    path itself (exact ingest). Returns {dataset: compact_index stats}.
    """
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    subs = [p.getName() for p in _index_datasets(fs, root)]
    if not subs:
        return {".": compact_index(spark, index_path)}
    return {
        s: compact_index(spark, os.path.join(index_path, s)) for s in subs
    }
