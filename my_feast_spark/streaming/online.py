"""Streaming materialization: keep the online store fresh from a stream.

The reference materializes in batch (`fs.materialize(start, end)`,
chicago_taxi_trips_hourly_gold.ipynb:473-479) — between runs the online
store is stale by up to the scheduling interval. This module closes that
gap Spark-natively: a ``foreachBatch`` sink merges each micro-batch's
latest-per-entity rows into the online snapshot, so online lookups track
the stream at micro-batch latency.

Scale notes: per micro-batch work is (batch latest-per-key) ⋈ (current
snapshot) — both keyed by entity, one small shuffle; the snapshot is
latest-per-entity so it stays O(|entities|) regardless of stream volume.
At very high entity cardinality, swap the parquet snapshot rewrite for a
Delta/Hudi MERGE or a KV store — callers only see ``FeatureStore.
get_online_features`` either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_feast_spark.core.store import FeatureStore
from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.streaming.ingest import _start_foreach_batch


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
    StreamingQuery; stop it to pause materialization. The merge keeps,
    per entity, the row with the greatest (event ts, created ts).
    """
    fv = fs.get_feature_view(view_name)
    join_keys: list[str] = []
    for ent in fv.entities:
        join_keys.extend(fs.registry.get_entity(ent).join_keys)
    src = fv.source
    ties = [src.created_timestamp_column] if src.created_timestamp_column else []
    keep = join_keys + [src.timestamp_field] + ties + fv.feature_names()
    path = fs._online_path(view_name)
    # The merge below checks snapshot existence and swaps directories with
    # local-filesystem calls (os.path.exists / shutil.move). On a
    # non-local URI those would report "absent" every batch and silently
    # degrade the merge to an overwrite losing all other entities — the
    # exact data-loss mode the explicit existence check exists to prevent.
    # Fail loudly instead; a remote online store belongs behind a real
    # KV/Delta sink (module docstring).
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"materialize_stream requires a local online-store path, got "
            f"{path!r}; use a KV/Delta-backed online store for remote URIs"
        )
    spark = fs.spark

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from my_feast_spark.core.store import heal_snapshot

        heal_snapshot(path)  # finish a crashed swap before reading
        fresh = latest_per_key(
            batch_df.select(*keep), join_keys, [src.timestamp_field],
            tie_breakers=ties,
        )
        # Bucketed snapshot: merge ONLY the buckets this batch touches —
        # per-batch cost becomes O(entities in touched buckets), not
        # O(|store|). The merged rows are eagerly materialized
        # (localCheckpoint) BEFORE the dynamic-partition overwrite so the
        # write never overwrites directories its own plan still reads;
        # a crash between bucket writes leaves a partially-applied batch,
        # which the foreachBatch replay re-merges idempotently
        # (latest_per_key of already-applied rows is a no-op).
        if os.path.exists(path) and fs._read_online_buckets(path):
            n_buckets = fs._read_online_buckets(path)
            pb = fs._pbucket(join_keys, n_buckets)
            fresh_b = fresh.withColumn("__pbucket", pb)
            touched = [
                r.pb for r in
                fresh_b.select(F.col("__pbucket").alias("pb"))
                .distinct().collect()
            ]
            current = (
                spark.read.parquet(path)
                .filter(F.col("__pbucket").isin(touched))
            )
            for c in keep:
                if c not in current.columns:
                    current = current.withColumn(
                        c, F.lit(None).cast(fresh.schema[c].dataType)
                    )
            merged = latest_per_key(
                current.select(*keep).unionByName(fresh),
                join_keys, [src.timestamp_field], tie_breakers=ties,
            ).withColumn("__pbucket", pb).localCheckpoint()
            try:
                # partitionOverwriteMode=dynamic (session.py): only the
                # partitions PRESENT in `merged` — the touched buckets —
                # are replaced; every other bucket directory (and the
                # layout sidecar) stays in place
                merged.repartition("__pbucket").write.mode(
                    "overwrite"
                ).partitionBy("__pbucket").parquet(path)
            finally:
                from my_feast_spark.operators.graph import (
                    release_checkpoint,
                )

                release_checkpoint(merged)
            return
        # Existence is checked EXPLICITLY: a bare except here once treated
        # any read/select error as "first batch" and silently rewrote the
        # snapshot with only the current micro-batch's entities. Real read
        # errors now propagate and fail the batch (retryable).
        if os.path.exists(path):
            current = spark.read.parquet(path)
            # batch materialize (store.py) may have written a snapshot
            # without the created column (pre-unification layout): align
            # instead of discarding everything it holds
            for c in keep:
                if c not in current.columns:
                    current = current.withColumn(
                        c, F.lit(None).cast(fresh.schema[c].dataType)
                    )
            current = current.select(*keep)
        else:  # first batch: no snapshot yet
            current = None
        if current is not None:
            merged = latest_per_key(
                current.unionByName(fresh), join_keys, [src.timestamp_field],
                tie_breakers=ties,
            )
        else:
            merged = fresh
        # write-to-temp then the crash-safe rename swap (core/store.py::
        # swap_snapshot — never a window without a recoverable copy, and
        # never overwrite the path still being read by this plan: cache
        # eviction mid-write would corrupt it). The bucketed layout (and
        # its self-describing sidecar — see
        # FeatureStore._read_online_buckets) is preserved across merges:
        # an existing snapshot's bucket count wins, else the configured
        # one applies from the first batch.
        from my_feast_spark.core.store import swap_snapshot

        buckets = (
            fs._read_online_buckets(path)
            if os.path.exists(path) else fs._online_buckets()
        )
        tmp = f"{path}__staging_{batch_id}"
        writer = merged.write.mode("overwrite")
        if buckets:
            writer = merged.withColumn(
                "__pbucket", fs._pbucket(join_keys, buckets)
            ).repartition("__pbucket").write.mode(
                "overwrite"
            ).partitionBy("__pbucket")
        writer.parquet(tmp)
        if buckets:
            fs._write_online_meta(tmp, buckets)
        swap_snapshot(tmp, path)

    return _start_foreach_batch(
        stream_df, merge_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )
