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
import os
import tempfile
from typing import Callable, Iterable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from my_feast_spark.functions.scalar import floor_round
from my_feast_spark.obs import op_scope
from my_feast_spark.sources.generations import (
    committed,
    fold,
    heal,
    publish,
    read,
)
from my_feast_spark.sources.readers import spread_partitions

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


def _ensure_index_meta(spark: SparkSession, index_path: str, meta: dict,
                       before_stamp: Callable[[], None]):
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
    idempotent across restarts. Because the marker precedes all data,
    an index root that holds data but no marker was not laid out by
    this driver: its layout is unknown, so the start raises ValueError
    and writes no marker; ``before_stamp`` may refuse the first
    stamp."""
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
    if _fs_nonempty(spark, index_path):
        raise ValueError(
            f"index at {index_path!r} holds data but no {_INDEX_META} "
            "marker, so its layout is unknown; rebuild the index"
        )
    before_stamp()
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
        _ensure_index_meta(spark, index_path, meta, before_stamp)


def _refuse_fresh_checkpoint(spark: SparkSession, checkpoint: str,
                             out_path: str, dirs: Sequence[str]) -> None:
    """ValueError when ``checkpoint`` has no ``offsets/`` entry but an
    index dataset of ``dirs`` holds committed generations or
    ``out_path`` holds ``batch_id=N`` directories: the run's batch ids
    would restart at 0 and overwrite them."""
    if any(n.isdigit() for n in _fs_names(spark, f"{checkpoint}/offsets")):
        return
    held = [d for d in dirs if committed(d, "batch_id")] + [out_path] * any(
        n.startswith("batch_id=") for n in _fs_names(spark, out_path)
    )
    if held:
        raise ValueError(
            f"checkpoint {checkpoint!r} has no offsets but {held} hold "
            "batches: its batch ids would restart at 0 and overwrite "
            "them; restart on the original checkpoint"
        )


def _fs_names(spark: SparkSession, path: str) -> list[str]:
    """The entry names under ``path`` (none when it does not exist),
    listed through Spark's Hadoop FileSystem — so ``s3a://``,
    ``hdfs://`` and ``file://`` locations all answer correctly.
    (``os.path`` sees only the driver's local filesystem: for a cloud
    ``index_path`` it would see nothing, silently disabling cross-batch
    dedup instead of erroring.)"""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _fs_nonempty(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds at least one non-hidden entry."""
    return any(not n.startswith((".", "_")) for n in _fs_names(spark, path))


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
    index datasets (``dirs``, in write and compaction order). Every
    Spark job it starts runs under the job description
    ``ingest:<kind>:<phase>`` (:func:`my_feast_spark.obs.op_scope`)."""

    def __init__(self, spark, kind, out_path, dirs, batch_id, index_buckets,
                 parts):
        self.spark = spark
        self.kind = kind
        self.out_path = out_path
        self.dirs = dirs
        self.batch_id = batch_id
        self.index_buckets = index_buckets
        self.parts = parts  # the batch's own partition count
        self.live: list[DataFrame] = []

    def phase(self, name: str):
        """Label the jobs of the block ``ingest:<kind>:<name>``."""
        return op_scope(self.spark, f"ingest:{self.kind}:{name}")

    def _pbucket(self, *cols: str) -> Column:
        return F.pmod(F.xxhash64(*cols), F.lit(self.index_buckets))

    def pin(self, df: DataFrame, phase: str) -> DataFrame:
        """``localCheckpoint`` ``df`` (jobs labelled ``phase``) until the
        batch ends."""
        with self.phase(phase):
            df = df.localCheckpoint()
        self.live.append(df)
        return df

    def seen(
        self, path: str, schema: T.StructType, probe: DataFrame, *cols: str
    ) -> DataFrame | None:
        """The committed generations of the index dataset at ``path``
        but this batch's own (None when there are none), read with its
        data columns ``schema`` (no inference job); bucketed, pruned to
        the pbuckets ``probe``'s ``cols`` hash into, collected in one
        plain job from ``probe`` (a pinned frame)."""
        with self.phase("probe"):
            seen = read(self.spark, path, "batch_id", schema, gens=[
                g for g in committed(path, "batch_id")
                if g[0] != self.batch_id
            ])
            if seen is None or not self.index_buckets:
                return seen
            rows = probe.select(self._pbucket(*cols)).collect()
        return seen.filter(F.col("pbucket").isin(sorted({r[0] for r in rows})))

    def write_output(self, accepted: DataFrame, *cols: str) -> DataFrame:
        """Pin ``accepted`` in at most as many partitions as the batch
        has, then overwrite this batch's output directory with the pin's
        ``cols`` (all columns when none). Returns the pin: index rows
        derive from it, so they are exactly the written rows."""
        acc = self.pin(accepted.coalesce(max(self.parts, 1)), "candidates")
        out = os.path.join(self.out_path, f"batch_id={self.batch_id}")
        with self.phase("write_output"):
            acc.select(*(cols or acc.columns)).write.mode("overwrite").parquet(
                out
            )
        return acc

    def write_index(self, path: str, rows: DataFrame, *cols: str) -> None:
        """Publish this batch's generation of the index dataset at
        ``path``; bucketed, partitioned by the pbucket of ``cols``, at
        most one file per pbucket: rows of a one-partition batch are
        written as they are, others are shuffled by pbucket first."""
        writer = rows.write
        if self.index_buckets:
            rows = rows.withColumn("pbucket", self._pbucket(*cols))
            if self.parts > 1:
                rows = rows.repartition("pbucket")
            writer = rows.write.partitionBy("pbucket")
        with self.phase("write_index"):
            publish(path, "batch_id", self.batch_id, writer.parquet)


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
    restart with another layout fails at start, before any batch runs,
    and so does a fresh checkpoint over roots that hold batches
    (:func:`_refuse_fresh_checkpoint`), before any write.
    Each index dataset is then healed (``sources.generations.heal``),
    which raises ValueError on a root this engine did not lay out.

    Crash replay: ``foreachBatch`` is at-least-once, so a crash between
    the sink writes and the streaming commit replays the batch under the
    same batch id. Three rules make the replay exactly-once:

      * the output overwrites the batch's own ``batch_id=N`` directory
        and each index dataset publishes generation ``N`` (clear,
        write, then mark), so a replay rewrites instead of appending;
      * every index read takes the committed generations except ``N``
        itself, so a replay never dedups against its own earlier rows
        and overwrites its output with nothing; compacted generations
        have negative ids and never match the guard;
      * the accepted rows are pinned once, carrying their signed
        columns; the output is that pin's batch columns and the index
        rows derive from the same pin, so the index holds exactly the
        written rows and a replay regenerates identical index
        partitions.

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
    when it fails. Every job of a batch is labelled
    ``ingest:<kind>:sign|candidates|probe|write_output|write_index|compact``
    (``kind`` is ``meta["kind"]``).
    """
    for name, value in (
        ("index_buckets", index_buckets), ("compact_every", compact_every)
    ):
        if value is not None and not (isinstance(value, int) and value >= 1):
            raise ValueError(f"{name} must be None or >= 1, got {value!r}")
    spark = sdf.sparkSession
    dirs = [
        os.path.join(index_path, d) for d in _INDEX_DATASETS[meta["kind"]]
    ] or [index_path]
    refuse = functools.partial(
        _refuse_fresh_checkpoint, spark, checkpoint, out_path, dirs
    )
    _ensure_index_meta(
        spark, index_path, {**meta, "index_buckets": index_buckets}, refuse
    )
    refuse()
    for d in dirs:
        heal(d, "batch_id")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        from my_feast_spark.operators.graph import release_checkpoint

        ix = _IndexBatch(
            spark, meta["kind"], out_path, dirs, batch_id, index_buckets,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            accept(batch_df, ix)
            if compaction_due(batch_id, compact_every):
                with ix.phase("compact"):
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
    sign: Sequence[Column],
    key_rows: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    payload: str,
    similar: Callable[[Column, Column], Column],
):
    """The ``accept`` rule of the near-dup ingests, from a per-kind spec
    whose expressions are built once per stream: ``sign`` are the
    columns (``payload`` among them, NULL for a doc that cannot be
    signed) computed over a batch's rows, spread to cluster parallelism
    first; ``key_rows`` turns signed rows into ``(doc, *keys)``
    collision rows; ``similar(dominator payload, doc payload)`` is the
    verify predicate. A doc drops when it verifies
    against an accepted doc sharing a key, or against a lower-id doc of
    its own batch. The index datasets are (payload, key rows), each
    pbucketed by its ``doc`` / ``keys`` columns.

    Jobs: the signed pin (the batch's own columns as ``__row`` plus
    ``doc`` and ``sign``) feeds every later step. The batch's key rows
    carry no payload and are the one broadcast both candidate joins
    (in-batch and against the index) share; payloads join by doc id
    afterwards, under the planner's choice of strategy. The accepted
    rows are one pin (verify and broadcast anti-join) from which the
    output and both index datasets are written."""
    keys = list(keys)
    a_p, b_p = f"a_{payload}", f"b_{payload}"
    signed_only = F.col(payload).isNotNull()
    doc = F.col(id_col).alias("doc")
    dom = F.col("doc").alias("dom")
    verified = similar(F.col(a_p), F.col(b_p))

    def accept(batch_df: DataFrame, ix: _IndexBatch) -> None:
        payload_dir, keys_dir = ix.dirs
        cols = [id_col, *(c for c in batch_df.columns if c != id_col)]
        signed = ix.pin(spread_partitions(batch_df).select(
            F.struct(*cols).alias("__row"), doc, *sign
        ), "sign")
        # the id filter is the one the in-batch join infers from
        # ``dom < doc``: with it both joins broadcast the same key rows
        own = signed.filter(signed_only & F.col("doc").isNotNull())
        rows = key_rows(own)
        fields = {f.name: f for f in (*signed.schema, *rows.schema)}
        batch_keys = F.broadcast(rows)
        # candidate (dominator, doc, dominator is indexed) triples: a
        # lower-id doc of the batch, or an accepted doc, sharing a key
        cand = (
            rows.select(dom, *keys).join(batch_keys, keys)
            .filter(F.col("dom") < F.col("doc"))
            .select("dom", "doc", F.lit(False).alias("indexed"))
        )
        payloads = own.select(dom, F.col(payload).alias(a_p))
        seen_keys = ix.seen(
            keys_dir, T.StructType([fields[c] for c in ("doc", *keys)]),
            rows, *keys,
        )
        if seen_keys is not None:
            cand = cand.union(
                seen_keys.select(dom, *keys).join(batch_keys, keys)
                .select("dom", "doc", F.lit(True).alias("indexed"))
            )
            if ix.index_buckets:
                # only the indexed dominators' payloads are read: pin
                # the (batch-sized) candidates and prune to their
                # pbuckets
                cand = ix.pin(cand, "candidates")
            seen_payloads = ix.seen(
                payload_dir, T.StructType([fields["doc"], fields[payload]]),
                cand.filter("indexed"), "dom",
            )
            if seen_payloads is not None:
                payloads = payloads.union(
                    seen_payloads.select(dom, F.col(payload).alias(a_p))
                )
        dominated = (
            cand.join(payloads, "dom")
            .join(own.select("doc", F.col(payload).alias(b_p)), "doc")
            .filter(verified).select("doc")
        )
        acc = ix.write_output(
            signed.join(F.broadcast(dominated), "doc", "left_anti"), "__row.*"
        )
        own = acc.filter(signed_only)
        ix.write_index(payload_dir, own.select("doc", payload), "doc")
        ix.write_index(keys_dir, key_rows(own), *keys)

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

    fp = doc_fingerprint(F.col(text_col)).alias("fingerprint")
    # in-batch dedup: deterministic min-id winner per fingerprint
    rn = F.row_number().over(Window.partitionBy("fingerprint").orderBy(id_col))
    first = F.col("__rn") == 1
    fp_schema = T.StructType([T.StructField("fingerprint", T.StringType())])

    def accept(batch_df: DataFrame, ix: _IndexBatch) -> None:
        (index_dir,) = ix.dirs
        fresh = ix.pin(
            batch_df.select(id_col, text_col, fp)
            .withColumn("__rn", rn).filter(first).drop("__rn"),
            "sign",
        )
        seen = ix.seen(index_dir, fp_schema, fresh, "fingerprint")
        if seen is not None:
            fresh = fresh.join(
                seen.select("fingerprint"), "fingerprint", "left_anti"
            )
        acc = ix.write_output(fresh)
        ix.write_index(index_dir, acc.select("fingerprint"), "fingerprint")

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
    the signature pbuckets of its indexed candidate dominators. The
    candidate joins broadcast the batch's docs x bands key rows, never
    a signature or the text, and the index never shuffles. ``compact_every=k`` compacts
    both datasets after every k-th batch. The crash-replay,
    ``index_buckets`` and ``compact_every`` contract is the shared
    ingest driver's (``_start_dedup_ingest``).

    Band signatures are xxhash64 over the band's minhashes regardless of
    ``hash_fn`` (the index is engine-internal; pick hash_fn="portable"
    only if the SIGNATURES must replay elsewhere). The stored signatures
    are specific to the ``hash_fn`` family, so ``hash_fn`` is pinned per
    index like ``index_buckets``. ``hash_fn`` must be "xxhash64" or
    "portable" (at most 64 hashes), else the start raises ValueError
    before the index is pinned.
    Returns the started StreamingQuery.
    """
    from my_feast_spark.functions.text import let, tokens
    from my_feast_spark.operators.dedup import (
        _check_minhash_family,
        _shingles_of,
        minhash_minima,
    )

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    _check_minhash_family(hash_fn, num_hashes)
    r = num_hashes // bands
    # array-native signatures (NULL below n tokens): the index stores
    # the array as-is
    sig = minhash_minima(
        let(tokens(F.lower(F.col(text_col))), lambda t: _shingles_of(t, n)),
        num_hashes, hash_fn,
    ).alias("sig")
    # band b's bsig is xxhash64 of minhashes b*r .. b*r+r-1: xxhash64
    # of an array chains its elements exactly as of separate columns.
    # One higher-order transform costs O(1) py4j round trips to build,
    # where a struct per band costs ~2k (0.25 s per stream start)
    band_keys = F.posexplode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.slice(F.col("sig"), b * r + 1, F.lit(r))),
    )).alias("band", "bsig")

    def band_rows(signed: DataFrame) -> DataFrame:
        return signed.select("doc", band_keys)

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
            id_col=id_col, sign=[sig], key_rows=band_rows,
            keys=("band", "bsig"), payload="sig", similar=similar,
        ),
        meta={
            "kind": "neardup_minhash",
            "hash_fn": hash_fn,
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
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x,
    ))
    unit = F.transform(v, lambda x: x / F.greatest(norm, F.lit(1e-12)))
    sign = [unit.alias("v"), _lsh_buckets_udf(planes)(unit).alias("bks")]
    buckets = F.posexplode(F.col("bks")).alias("table", "bucket")

    def bucket_rows(signed: DataFrame) -> DataFrame:
        return signed.select("doc", buckets)

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
    """Fold an ingest index's per-batch generations into ONE — the
    maintenance op for the one cost that grows with stream LIFETIME:
    pruned reads stay batch-sized, but the listing per batch and the
    small-file count grow with one ``batch_id=N`` generation per batch
    (~175k dirs/year at a 3-minute trigger).

    It is the set fold of ``sources.generations.fold``: every committed
    generation (live batches AND earlier folds) is merged with
    dropDuplicates — set semantics hold for the three ingest index
    kinds, the HLL/KMV sketches and the SCD2 event log — into a fresh
    negative generation, keeping the ``pbucket`` (ingest) or ``__kb``
    (SCD2 log) partitioning so pruning survives. Reads are exact at
    every crash point; the next fold or stream start heals. The replay
    guard ``batch_id != current`` never matches a folded generation.

    Run it between micro-batches (one writer per dataset) on each index
    dataset — the exact ingest's ``index_path``; ``bands/`` + ``sigs/``
    (MinHash); ``buckets/`` + ``vecs/`` (embedding); see
    :func:`compact_ingest_indexes`. ``exclude_from`` (the ingests'
    ``compact_every``) leaves every generation ``>= exclude_from``
    alone: folding the CURRENT batch would defeat the replay guard.

    Returns ``{"generations_before", "files_before", "generation",
    "rows", "files_after"}``; ``generation`` is None when fewer than
    two generations were mergeable.
    """
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())

    def _count_files():
        n = 0
        if not fs.exists(root):
            return n
        it = fs.listFiles(root, True)
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith((".", "_")):
                n += 1
        return n

    live = [n for n, _ in committed(index_dir, "batch_id")]
    files_before = _count_files()
    rows = 0

    def merge(out: str, sources: list) -> None:
        nonlocal rows
        merged = (
            spark.read.option("basePath", index_dir).parquet(*sources)
            .drop("batch_id").dropDuplicates()
        )
        part_col = next(
            (c for c in ("pbucket", "__kb") if c in merged.columns), None
        )
        if part_col:
            merged = merged.repartition(part_col)
            merged.write.partitionBy(part_col).parquet(out)
        else:
            merged.coalesce(1).write.parquet(out)
        rows = spark.read.parquet(out).count()

    ids = [n for n in live if exclude_from is None or n < exclude_from]
    heal(index_dir, "batch_id")  # a crashed fold, even with nothing to merge
    target = fold(index_dir, "batch_id", ids, merge) if len(ids) > 1 else None
    return {"generations_before": len(live), "files_before": files_before,
            "generation": target, "rows": rows,
            "files_after": _count_files()}


def compact_ingest_indexes(spark: SparkSession, index_path: str) -> dict:
    """Compact every index dataset under an ingest's ``index_path``:
    the known sub-datasets (``bands``/``sigs`` — MinHash ingest;
    ``buckets``/``vecs`` — embedding ingest) holding generations, else
    the path itself (exact ingest). Returns {dataset: compact_index
    stats}.
    """
    subs = [
        d for ds in _INDEX_DATASETS.values() for d in ds
        if committed(os.path.join(index_path, d), "batch_id")
    ]
    if not subs:
        return {".": compact_index(spark, index_path)}
    return {
        s: compact_index(spark, os.path.join(index_path, s)) for s in subs
    }
