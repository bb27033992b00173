"""Streaming materialization: keep the online store fresh from a stream.

The reference materializes in batch (`fs.materialize(start, end)`,
chicago_taxi_trips_hourly_gold.ipynb:473-479) — between runs the online
store is stale by up to the scheduling interval. This module closes that
gap Spark-natively: a ``foreachBatch`` sink publishes each micro-batch's
latest-per-entity rows into the view's online store, so online lookups
track the stream at micro-batch latency.

Invariants, over the generation root ``core/store.py`` lays out:

* a micro-batch publishes its latest row per entity as one delta at
  ``generations.next_id`` and reads or rewrites no committed
  generation: its cost is the batch's, never the store's;
* a delta takes the layout (bucket count, schema) of the committed
  generations, the configured count and its own schema on an empty
  root, so one scan with one schema reads them all;
* a replay replaces its own torn delta or publishes an identical
  duplicate, which lookups collapse;
* ``FOLD_DELTAS`` committed deltas fold with the base into a new base,
  so a lookup reads at most ``FOLD_DELTAS`` + 1 generations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_feast_spark.core.store import (
    ONLINE_KEY,
    FeatureStore,
    _online_layout,
    _write_online,
)
from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.sources.generations import (
    committed,
    fold,
    heal,
    next_id,
    publish,
)
from my_feast_spark.streaming.ingest import _start_foreach_batch

#: committed deltas that make a merge fold them into a new base
FOLD_DELTAS = 8


def materialize_stream(
    fs: FeatureStore,
    view_name: str,
    stream_df: DataFrame,
    *,
    checkpoint: str,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """Continuously materialize ``view_name`` from ``stream_df``.

    ``stream_df`` must carry the view's join keys, timestamp field, and
    feature columns (i.e., the gold-shaped stream). Returns the started
    StreamingQuery; stop it to pause materialization. Lookups keep, per
    entity, the row with the greatest (event ts, created ts). The start
    heals the view's online root.
    """
    heal(fs._online_path(view_name), ONLINE_KEY)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _merge(fs, view_name, batch_df)

    return _start_foreach_batch(
        stream_df, merge_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def _merge(fs: FeatureStore, view_name: str, batch_df: DataFrame) -> None:
    """Publish ``batch_df``'s latest row per entity as a delta of the
    view's online store; fold once ``FOLD_DELTAS`` deltas are
    committed."""
    join_keys, order, feats = fs._online_columns(view_name)
    path = fs._online_path(view_name)
    fresh = latest_per_key(
        batch_df.select(*join_keys, *order, *feats),
        join_keys, order[:1], tie_breakers=order[1:],
    )
    gens = committed(path, ONLINE_KEY)
    if gens:
        buckets, schema = _online_layout(gens)
        fresh = fresh.select(*(F.col(f.name).cast(f.dataType) for f in schema))
    else:
        buckets, schema = fs._online_buckets(), fresh.schema
    publish(
        path, ONLINE_KEY, next_id(path, ONLINE_KEY),
        lambda gdir: _write_online(fresh, gdir, join_keys, buckets, schema),
    )
    if sum(n >= 0 for n, _ in gens) + 1 >= FOLD_DELTAS:
        _fold(fs, view_name)


def _fold(fs: FeatureStore, view_name: str) -> int:
    """Fold every committed generation of the view's online store into
    a new base in the same layout; returns its id."""
    join_keys, _order, _feats = fs._online_columns(view_name)
    gens = fs._online_committed(view_name)
    latest, buckets, schema = fs._online_latest(view_name, gens)
    return fold(
        fs._online_path(view_name), ONLINE_KEY, [n for n, _ in gens],
        lambda gdir, _sources: _write_online(
            latest, gdir, join_keys, buckets, schema
        ),
    )
