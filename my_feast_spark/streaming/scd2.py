"""Streaming SCD2 maintenance: keep a state-history table fresh.

Batch `scd2_intervals` rebuilds the whole dimension; between runs the
interval table is stale and late events are invisible. This module
maintains it continuously: each micro-batch appends its events to a
bucket-partitioned event log and recomputes intervals ONLY for the key
buckets the batch touched, overwriting just those partitions.

Why recompute-per-bucket instead of merging deltas: a LATE event can
split an existing interval and shift every later boundary for its key
— a correct merge needs the key's full history anyway, so the scalable
unit of work is "rebuild the touched buckets from the log". Per batch
that costs (touched buckets / total buckets) of the log scan, pruned by
partition, not the whole corpus; `n_buckets` trades recompute
granularity against small-file count. The log is a generation root
(``sources.generations``): each micro-batch publishes one
``batch_id=N`` generation; pass ``compact_every=k`` to fold history
into one generation every k-th batch in-stream (the same
``compact_index`` set fold the dedup ingests run — generation and file
counts stay FLAT over stream lifetime), or run
``compact_index(spark, events_path)`` from an offline schedule. The
maintenance loop is oblivious to compaction because it reads every
committed generation, not batch ids, and the recompute is invariant
under the fold's exact-duplicate-row collapse (identical events
produce identical intervals).

Crash safety mirrors ``dedup_ingest_stream``: the event-log append
publishes generation ``batch_id=N`` (a replay rewrites it whole), and
the interval overwrite is deterministic from the log, so replaying a
batch converges to the same table. The stream start heals the log.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_feast_spark.operators.aggregations import scd2_intervals
from my_feast_spark.sources.generations import heal, publish, read
from my_feast_spark.streaming.ingest import (
    _start_foreach_batch,
    compact_index,
    compaction_due,
)

#: partition column for key buckets in both the log and the table
BUCKET_COL = "__kb"


def scd2_maintain_stream(
    sdf: DataFrame,
    *,
    events_path: str,
    intervals_path: str,
    checkpoint: str,
    keys: Sequence[str],
    ts_col: str,
    state_col,
    tie_breakers: Sequence[str] = (),
    n_buckets: int = 16,
    available_now: bool = False,
    trigger_interval: str | None = None,
    compact_every: int | None = None,
):
    """Continuously maintain ``intervals_path`` from an event stream.

    Returns the started StreamingQuery. ``state_col`` follows
    `scd2_intervals` (one column or a sequence). The interval table is
    partitioned by ``__kb`` (xxhash64 of the keys mod ``n_buckets``);
    read it with `read_scd2_table`. Requires the session's dynamic
    partition-overwrite mode (set by this engine's `get_session`).

    ``compact_every=k`` runs ``compact_index`` on the event log every
    k-th batch from the foreachBatch thread (never racing a live
    batch), folding all PRIOR generations into one — the current
    batch's generation is left alone so a crash-replay still rewrites
    it idempotently. Without it the log gains one directory per
    micro-batch forever (module docstring).
    """
    spark = sdf.sparkSession
    kb = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).alias(BUCKET_COL)
    heal(events_path, "batch_id")

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn(BUCKET_COL, kb)
        # idempotent per-batch log append, bucket-partitioned so the
        # recompute below prunes to touched buckets at the file level
        publish(
            events_path, "batch_id", batch_id,
            b.write.mode("overwrite").partitionBy(BUCKET_COL).parquet,
        )
        touched = [r[BUCKET_COL] for r in b.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        log = read(spark, events_path, "batch_id").filter(
            F.col(BUCKET_COL).isin(touched)
        )
        ivals = scd2_intervals(
            log, list(keys), ts_col, state_col, tie_breakers=list(tie_breakers)
        ).withColumn(BUCKET_COL, kb)
        # dynamic overwrite: only the touched buckets' partitions are
        # replaced; every other key's intervals are untouched on disk
        ivals.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
            intervals_path
        )
        # in-stream log maintenance: consolidate every generation BEFORE
        # this batch (never the batch itself — its directory must stay
        # separately replayable); same cadence contract as the dedup
        # ingests' compact_every
        if compaction_due(batch_id, compact_every):
            compact_index(spark, events_path, exclude_from=batch_id)

    return _start_foreach_batch(
        sdf, maintain, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def read_scd2_table(spark, intervals_path: str) -> DataFrame:
    """The maintained interval table, without the bucket column."""
    return spark.read.parquet(intervals_path).drop(BUCKET_COL)
