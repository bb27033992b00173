"""Streaming ingest into a versioned parquet table.

The reference's cloud tier lands streams in Delta tables
(/root/reference/CASE.MD:107 — Event Hub capture -> bronze Delta); this
module gives the same shape over ``sources/versioned.py``'s transaction
log: every micro-batch becomes ONE atomic table version, so downstream
consumers time-travel across batch boundaries ("train on the table as
it stood after batch 7") and a reader never observes a half-landed
batch.

Exactly-once layering (the repo's ingest-family protocol, third
instance after the dedup-index and online-store sinks):

* Structured Streaming's checkpoint guarantees a replayed micro-batch
  keeps its ``batch_id``;
* ``write_version(..., txn=(app_id, batch_id))`` is Delta's
  txnAppId/txnVersion lever: the manifest records the highest batch id
  committed per app, and a replayed append with ``batch_id`` <= that
  record returns without committing — a retry after
  crash-between-publish-and-ack never lands the same rows twice, and a
  torn attempt (directory written, manifest missing) is invisible
  until vacuumed;
* ``checkpoint_if_due`` (optional, ``compact_chain_at``) collapses the
  append chain once it reaches the threshold — the same
  ``compact_every`` shape every other ingest uses, keeping reader cost
  bounded at ``O(compact_chain_at)`` directories no matter how long
  the stream runs. The txn map SURVIVES the compaction
  (content-preserving rewrites carry it), so the
  commit→compact→crash→replay sequence — which a
  directory-containment idempotency check would turn into a duplicate
  — stays exactly-once.

Scale notes: per batch the log adds one latest-manifest read, one
directory write, and one rename — O(1) in both table size and commit
count. The per-batch data write is the same partitioned append any
sink pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from my_feast_spark.sources.versioned import (
    VersionConflictError,
    checkpoint_if_due,
    write_version,
)
from my_feast_spark.streaming.ingest import _start_foreach_batch


def versioned_ingest_stream(
    stream_df: DataFrame,
    table_path: str,
    *,
    checkpoint: str,
    app_id: str = "versioned_ingest",
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    compact_chain_at: int | None = 64,
    compact_kwargs: dict | None = None,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """Start a stream that commits each micro-batch as one table
    version under ``table_path``. Returns the StreamingQuery.

    ``app_id`` namespaces the idempotency record — two different
    streams (different checkpoints, so independent batch-id sequences)
    writing the same table must use different app ids. ``stats_cols``
    sweeps the skipping sidecar for every batch directory (each version
    is then fully skippable at read time); ``partition_by`` hive-
    partitions each batch's commit (needed only when the STREAM creates
    the table — appends onto an existing partitioned table adopt its
    layout automatically); ``compact_chain_at`` runs
    :func:`checkpoint_if_due` after each commit with
    ``max_dirs=compact_chain_at`` (``compact_kwargs`` pass through to
    ``checkpoint_version`` — ``zorder_by``, ``num_files``). Empty
    micro-batches commit nothing (no empty versions).

    The default ``compact_chain_at=64`` is probe-derived (probe 10,
    COVERAGE.md): every reader of the latest version pays ONE directory
    listing per append in the chain — driver-serial below Spark's
    ``parallelPartitionDiscovery.threshold`` (32 paths), a distributed
    job above it. Measured locally the listing is linear in chain
    length (0.15s/0.34s/0.76s plan-build at 16/64/256 dirs); at
    object-store latency (~50ms per LIST) an unbounded stream's chain
    costs seconds of pure listing per read (1000 dirs: ~50s serial,
    ~1.6s at 32-way parallel), while a 64-bounded chain lists in ~2
    parallel rounds (~0.1s + one job round) and pays the full-table
    rewrite only once per 64 batches (O(N) amortized write
    amplification — checkpoint_if_due's contract). Pass ``None`` to
    disable compaction entirely (an operator-managed table)."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_version(
            batch_df,
            table_path,
            mode="append",
            stats_cols=stats_cols,
            partition_by=partition_by,
            txn=(app_id, batch_id),
        )
        if compact_chain_at is not None:
            # the compacted version must stay as skippable as the batch
            # directories it replaces (review-caught): sweep the same
            # stats_cols unless compact_kwargs overrides them
            try:
                checkpoint_if_due(
                    batch_df.sparkSession,
                    table_path,
                    max_dirs=compact_chain_at,
                    **{"stats_cols": stats_cols, **(compact_kwargs or {})},
                )
            except VersionConflictError:
                # a concurrent writer (another app_id, an operator
                # upsert) landed between this batch's append and the
                # compaction — checkpoint_version is expected_parent-
                # pinned so it refuses rather than erase that commit.
                # The BATCH already committed; failing the micro-batch
                # over optional maintenance would restart the stream
                # for nothing (advice-caught). The chain is still over
                # threshold, so compaction is due again next batch.
                import warnings

                warnings.warn(
                    f"versioned_ingest_stream[{app_id}] batch "
                    f"{batch_id}: compaction lost a version race and "
                    "was skipped; it is due again next batch",
                    stacklevel=2,
                )

    return _start_foreach_batch(
        stream_df, commit_batch, checkpoint, available_now=available_now,
        trigger_interval=trigger_interval, output_mode="append",
    )


def mirror_changes_stream(
    spark,
    source_path: str,
    target_path: str,
    keys: list[str],
    *,
    checkpoint: str,
    starting_version: int | None = None,
    seed: bool = True,
    change_feed: bool = True,
    max_conflict_retries: int = 3,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """CDC replication between versioned tables (Delta's APPLY CHANGES
    INTO, end to end): follow ``source_path``'s per-commit change feed
    (``sources/changes_stream.py``) and apply each micro-batch's
    events to ``target_path`` as one keyed commit
    (``apply_changes_version``). Returns the StreamingQuery.

    ``seed`` (default on) initializes an empty target: it snapshots the
    source's CURRENT version as the mirror's v0 and starts the feed
    from exactly that version — the snapshot+offset pair is atomic in
    the right direction (the version is pinned BEFORE the snapshot
    read, so a commit landing mid-seed replays into the feed rather
    than vanishing; re-applying rows the snapshot already holds is
    content-idempotent). The pinned version is RECORDED in the seed
    commit's manifest (``mirror_starting_version``), so a crash between
    the seed and the first stream checkpoint is recoverable: rerunning
    with ``seed=True`` finds the marker on the head commit and resumes
    from it. Once applies have landed, the offset lives in the stream
    checkpoint — rerun with ``seed=False`` (``starting_version`` is
    then only the fallback for a FRESH checkpoint). Pass
    ``starting_version`` with ``seed=False`` to take over an existing
    mirror.

    Exactly-once layering differs from ``versioned_ingest_stream``
    deliberately: appends need the txn record because replaying an
    append DUPLICATES rows; a keyed apply is content-idempotent —
    replaying a micro-batch upserts the same rows and deletes the same
    keys — so the streaming checkpoint alone (replay yields the same
    state) suffices, and the mirror needs no txn bookkeeping.
    ``VersionConflictError`` (an operator wrote the mirror between
    read and publish) retries the whole apply up to
    ``max_conflict_retries`` times, then fails the batch loudly.

    The mirror's own commits carry change sidecars (``change_feed``),
    so a mirror is itself a valid CDC source — feeds chain."""
    from my_feast_spark.sources.changes_stream import read_changes_stream
    from my_feast_spark.sources.versioned import (
        apply_changes_version,
        list_versions,
        read_version,
    )

    if seed:
        if starting_version is not None:
            raise ValueError("seed=True derives starting_version itself")
        existing = list_versions(spark, target_path)
        if existing:
            # crash-after-seed recovery (review-caught): the seed commit
            # records the pinned source version in its manifest, so a
            # rerun resumes from it instead of stranding the mirror —
            # but only a pure seed (the recorded commit is still the
            # head) is safely resumable this way; a mirror that already
            # applied batches has its offset in the STREAM checkpoint
            # and must be resumed with seed=False.
            from my_feast_spark.sources.versioned import _fs, _read_manifest

            jvm, fs = _fs(spark, target_path)
            m = _read_manifest(jvm, fs, target_path, existing[-1])
            pinned = m.get("mirror_starting_version")
            if pinned is None:
                raise ValueError(
                    f"{target_path} already has versions and its head "
                    "is not a seed commit — pass seed=False and "
                    "starting_version to resume mirroring it"
                )
            starting_version = int(pinned)
        else:
            src_versions = list_versions(spark, source_path)
            if not src_versions:
                raise FileNotFoundError(
                    f"no committed versions under {source_path} — "
                    "nothing to mirror"
                )
            # pin the offset BEFORE reading the snapshot: a commit
            # landing mid-read is then replayed by the feed
            # (idempotent), never lost
            starting_version = src_versions[-1]
            write_version(
                read_version(spark, source_path, starting_version),
                target_path,
                _manifest_extra={
                    "mirror_starting_version": starting_version
                },
            )

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for attempt in range(max_conflict_retries + 1):
            try:
                apply_changes_version(
                    batch_df, target_path, keys, change_feed=change_feed
                )
                return
            except VersionConflictError:
                if attempt == max_conflict_retries:
                    raise

    sdf = read_changes_stream(
        spark, source_path, starting_version=starting_version
    )
    return _start_foreach_batch(
        sdf, apply_batch, checkpoint, available_now=available_now,
        trigger_interval=trigger_interval, output_mode="append",
    )
