"""FeatureStore — the user-facing API (SURVEY §2.7 M1-M8).

Parity surface with the reference's notebook usage:

    fs = FeatureStore(repo_path)                         # M1
    fs.apply([entity, view])                             # M2
    fs.list_feature_views(); fs.list_entities()          # M3
    fs.get_feature_view(name)                            # M4
    fs.get_historical_features(entity_df, features)      # M5 -> RetrievalJob
    fs.materialize(start, end, views)                    # M6
    fs.get_online_features(entity_rows, features)        # M7

The online store (replacing the reference's Redis,
fs_online/feature_store.yaml:6-8) is one generation root per view,
``<repo>/online/<view>``, key ``gen`` (``sources/generations.py``):

* each generation holds at most one row per entity, under
  ``__pbucket=pmod(xxhash64(keys), n)`` when n > 0, and a meta file
  recording n and its Spark schema;
* an entity's online row is its committed row with the greatest
  (event ts, created ts, gen);
* ``materialize`` folds every committed generation into a new base
  holding only the window's rows (a full replace); streamed deltas
  take the base's layout (``streaming/online.py``);
* only the generation commit renames or deletes, so at every crash
  point a lookup serves each key's pre- or post-write row.
"""

from __future__ import annotations

import operator
import os
from functools import reduce
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from my_feast_spark.core.model import Entity, FeatureView
from my_feast_spark.core.registry import Registry
from my_feast_spark.obs import op_scope
from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.plans.retrieval import (
    RetrievalJob,
    build_historical_retrieval,
    parse_feature_refs,
)
from my_feast_spark.session import apply_runtime_confs
from my_feast_spark.sources import generations


ONLINE_KEY = "gen"
_ONLINE_META = "_mfs_online_meta.json"  # {"buckets": n, "schema": ...}
_LOOKUP_ATTEMPTS = 4  # while folds keep replacing the listed generations


def _write_online(df: DataFrame, gdir: str, join_keys: Sequence[str],
                  buckets: int, schema) -> None:
    """Write ``df`` (at most one row per entity, columns of ``schema``)
    as the online generation ``gdir``, ``__pbucket``-partitioned when
    ``buckets``, then its meta."""
    writer = df.write
    if buckets:
        pbucket = FeatureStore._pbucket(join_keys, buckets)
        writer = df.withColumn("__pbucket", pbucket).repartition(
            "__pbucket"
        ).write.partitionBy("__pbucket")
    writer.parquet(gdir)
    generations.write_json(
        f"{gdir}/{_ONLINE_META}",
        {"buckets": buckets, "schema": schema.jsonValue()},
    )


def _online_layout(gens: list) -> tuple[int, T.StructType]:
    """The bucket count and schema the committed generations ``gens``
    share; RuntimeError when a meta is missing or they differ."""
    try:
        metas = generations.read_json([f"{p}/{_ONLINE_META}" for _, p in gens])
    except Exception as e:
        raise RuntimeError(
            f"an online generation of {gens} has no readable "
            f"{_ONLINE_META} — re-materialize the view"
        ) from e
    if any(m != metas[0] for m in metas):
        raise RuntimeError(f"online generations {gens} differ in layout")
    return metas[0]["buckets"], T.StructType.fromJson(metas[0]["schema"])


class FeatureStore:
    def __init__(self, repo_path: str, spark: SparkSession | None = None,
                 project: str | None = None):
        self.repo_path = repo_path
        os.makedirs(repo_path, exist_ok=True)
        # M1: feature_store.yaml drives project/registry/store settings
        # (station_reads_hourly_fs/feature_store.yaml:1-10); an explicit
        # constructor project still wins, absent both -> "default".
        from my_feast_spark.core.config import load_repo_config

        self.config = load_repo_config(repo_path)
        if project is None:
            project = self.config.project if self.config else "default"
        registry_path = (
            self.config.registry_path
            if self.config and self.config.registry_path
            else os.path.join(repo_path, "registry.json")
        )
        self.registry = Registry(registry_path, project)
        self._spark = spark
        self._online_reads: dict = {}  # view -> (gens, rows, buckets, schema)

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from my_feast_spark.session import get_session

            self._spark = get_session()
        spark = self._spark
        apply_runtime_confs(spark)
        # offline_store.spark_conf from feature_store.yaml (the on-prem
        # reference repos set session confs there): runtime confs only —
        # static JVM confs cannot change on a live session.
        if self.config:
            for k, v in self.config.spark_conf.items():
                try:
                    spark.conf.set(k, str(v))
                except Exception:
                    pass  # static conf on a live session; documented skip
        return spark

    # --- registry passthrough (M2-M4) --------------------------------------
    def apply(self, objects: Iterable) -> None:
        self.registry.apply(objects)

    def list_entities(self):
        return self.registry.list_entities()

    def list_feature_views(self):
        return self.registry.list_feature_views()

    def list_data_sources(self):
        return [fv.source for fv in self.registry.list_feature_views()]

    def get_entity(self, name: str) -> Entity:
        return self.registry.get_entity(name)

    def get_feature_view(self, name: str) -> FeatureView:
        return self.registry.get_feature_view(name)

    # --- historical retrieval (M5) ------------------------------------------
    def get_historical_features(
        self,
        entity_df,
        features: Sequence[str],
        *,
        entity_ts_col: str = "event_timestamp",
        full_feature_names: bool = False,
        strategy: str | None = None,
        as_of_version: int | dict | None = None,
        as_of_timestamp=None,
    ) -> RetrievalJob:
        """``entity_df`` may be a Spark DataFrame or a pandas DataFrame —
        the reference's notebooks pass pandas (entity df built in pandas at
        get_hist_feat.ipynb:596-609; Spark dfs downcast via toPandas(),
        explore_features.ipynb:426-431), so both are first-class here.

        ``strategy`` overrides the PIT join strategy for every view
        ("union_window" / "sliced_window" / "range_join" / "auto");
        default comes from ``feature_store.yaml``'s
        ``offline_store.pit_strategy``, else "union_window".

        ``as_of_version`` (int, or dict view-name -> int) reads each
        versioned feature source as of a pinned table version — a
        training set that reproduces bit-for-bit no matter what has been
        committed to the feature table since (the Delta time-travel
        contract, over ``sources/versioned.py``'s log)."""
        if not isinstance(entity_df, DataFrame):  # pandas path (Arrow)
            entity_df = self.spark.createDataFrame(entity_df)
        views = {fv.name: fv for fv in self.registry.list_feature_views()}
        join_keys = {e.name: e.join_keys for e in self.registry.list_entities()}
        if strategy is None:
            strategy = (
                self.config.offline_store.get("pit_strategy")
                if self.config else None
            ) or "union_window"
        df = build_historical_retrieval(
            self.spark,
            entity_df,
            views,
            join_keys,
            features,
            entity_ts_col=entity_ts_col,
            full_feature_names=full_feature_names,
            strategy=strategy,
            as_of_version=as_of_version,
            as_of_timestamp=as_of_timestamp,
        )
        return RetrievalJob(df)

    # --- materialization + online store (M6, M7) ----------------------------
    def _online_path(self, view_name: str) -> str:
        return f"{self.repo_path.rstrip('/')}/online/{view_name}"

    def _online_buckets(self) -> int:
        """``online_store.buckets`` from feature_store.yaml (0 = flat,
        the default): a new base is written under N ``__pbucket=``
        directories, so a point lookup at 100M+ entities reads a
        handful of them instead of the whole store."""
        if not self.config:
            return 0
        return int(self.config.online_store.get("buckets", 0) or 0)

    @staticmethod
    def _pbucket(join_keys: Sequence[str], buckets: int):
        return F.pmod(F.xxhash64(*join_keys), F.lit(buckets))

    def _online_columns(self, view_name: str):
        """``(join keys, order, feature names)`` of a view's online rows;
        ``order`` is (event ts, created ts if the source has one)."""
        fv = self.get_feature_view(view_name)
        entity = self.registry.get_entity
        join_keys = [k for e in fv.entities for k in entity(e).join_keys]
        created = fv.source.created_timestamp_column
        order = [fv.source.timestamp_field] + ([created] if created else [])
        return join_keys, order, fv.feature_names()

    def _online_committed(self, view_name: str) -> list:
        gens = generations.committed(self._online_path(view_name), ONLINE_KEY)
        if not gens:
            raise RuntimeError(
                f"feature view {view_name!r} has no online snapshot — "
                "call materialize(start, end, [view]) first"
            )
        return gens

    def _online_read(self, view_name: str, gens: list):
        """``(rows, buckets, schema)``: the committed generations ``gens``
        of the view's online store, read with their layout's schema. A
        committed generation never changes, so the frame (and the file
        listing it holds) is reused until the view's ``gens`` change."""
        held = self._online_reads.get(view_name)
        if held is None or held[0] != gens:
            buckets, schema = _online_layout(gens)
            rows = generations.read(
                self.spark, self._online_path(view_name), ONLINE_KEY, schema,
                gens=gens,
            )
            held = self._online_reads[view_name] = gens, rows, buckets, schema
        return held[1:]

    def _online_latest(self, view_name: str, gens: list):
        """Like ``_online_read``, with one row per entity: its latest."""
        join_keys, order, _feats = self._online_columns(view_name)
        rows, buckets, schema = self._online_read(view_name, gens)
        latest = latest_per_key(
            rows, join_keys, order[:1], tie_breakers=order[1:] + [ONLINE_KEY]
        )
        return latest.select(*schema.fieldNames()), buckets, schema

    def materialize(
        self, start, end, feature_views: Sequence[str],
        *, as_of_version: int | dict | None = None,
    ) -> None:
        """Latest feature row per entity with event ts in [start, end] →
        a new base replacing the view's whole online store, in the
        configured layout (the reference's fs.materialize,
        chicago_taxi_trips_hourly_gold.ipynb:473-479).

        ``as_of_version`` (int, or dict view-name -> int) materializes
        versioned feature sources as of a pinned table version — the
        offline/online parity guarantee: serve exactly the snapshot a
        time-traveled training set was built from."""
        from my_feast_spark.core.model import check_as_of_views, resolve_as_of

        check_as_of_views(as_of_version, feature_views)
        buckets = self._online_buckets()
        for view_name in feature_views:
            src = self.get_feature_view(view_name).source
            join_keys, order, feats = self._online_columns(view_name)
            df = src.load(
                self.spark,
                version=resolve_as_of(as_of_version, view_name),
            ).filter(
                (F.col(src.timestamp_field) >= F.lit(start))
                & (F.col(src.timestamp_field) <= F.lit(end))
            )
            out = latest_per_key(
                df, join_keys, order[:1], tie_breakers=order[1:]
            ).select(*join_keys, *order, *feats)
            path = self._online_path(view_name)
            generations.fold(
                path, ONLINE_KEY,
                [n for n, _ in generations.committed(path, ONLINE_KEY)],
                lambda gdir, _sources: _write_online(
                    out, gdir, join_keys, buckets, out.schema
                ),
            )
            self.registry.record_materialization(view_name, start, end)

    def get_online_features(
        self,
        entity_rows: Sequence[Mapping],
        features: Sequence[str],
    ) -> dict[str, list]:
        """Key-value lookup of the latest feature vectors (M7,
        explore_features.ipynb:608-616). Returns dict-of-lists like the
        reference's ``.to_dict()``, one entry per entity row in request
        order. Columns: the view's join keys, the entity rows' other
        columns sorted, then each view's features (a later view's join
        keys move to the front); ``None`` where a row lacks a key or the
        store has no row for it.

        Each view costs one scan of its committed generations with the
        request's distinct keys folded in as literals of the stored key
        types (``key IN (...)``, an OR of ANDs for composite keys, and
        ``__pbucket IN (pmod(xxhash64(<literals>), n), ...)`` on a
        bucketed layout: a partition filter), one ``collect``, and the
        per-key reduction on the driver. An empty request runs no Spark
        job."""
        refs = parse_feature_refs(features)
        views = []
        for view_name, feat_names in refs.items():
            join_keys, order, _feats = self._online_columns(view_name)
            gens = self._online_committed(view_name)
            views.append((view_name, join_keys, order, feat_names, gens))
        rows = [dict(r) for r in entity_rows]
        cols = sorted({c for r in rows for c in r})
        out = {c: [r.get(c) for r in rows] for c in cols}
        for view_name, join_keys, order, feat_names, gens in views:
            cols = join_keys + [c for c in cols if c not in join_keys] + feat_names
            for k in join_keys:
                out.setdefault(k, [None] * len(rows))
            keys = [tuple(r.get(k) for k in join_keys) for r in rows]
            hits = self._online_hits(
                view_name, gens, join_keys, order, feat_names, keys
            )
            for i, f in enumerate(feat_names):
                # a name already taken by an entity column or an earlier
                # view's feature keeps its first value
                out.setdefault(f, [None if h is None else h[i] for h in hits])
        return {c: out[c] for c in cols}

    def _online_hits(
        self, view_name: str, gens: list, join_keys: list[str],
        order: list[str], feat_names: list[str], keys: list[tuple],
    ) -> list:
        """The feature tuple for each key tuple of ``keys`` (``None`` for
        a miss or a key with a ``None`` part), from one pruned scan of
        ``gens`` under the job description ``get_online_features:<view>``
        (rerun on the new list if a fold replaced ``gens`` meanwhile).
        Hits match keys by Python equality: a key value must have the
        type its column collects as (``str``, ``int``)."""
        wanted = list(dict.fromkeys(t for t in keys if None not in t))
        if not wanted:
            return [None] * len(keys)
        with op_scope(self.spark, f"get_online_features:{view_name}"):
            for attempt in range(_LOOKUP_ATTEMPTS):
                try:
                    hits = self._online_scan(
                        view_name, gens, join_keys, order, feat_names, wanted
                    )
                    break
                except Exception:
                    listed, gens = gens, self._online_committed(view_name)
                    if gens == listed or attempt + 1 == _LOOKUP_ATTEMPTS:
                        raise
        n, m = len(join_keys), len(join_keys) + len(order) + 1

        def rank(r):  # (event ts, created ts, gen); None ranks lowest
            return [(v is not None, v) for v in r[n:m]]

        found = {}
        for r in sorted(hits, key=rank):  # each key's latest comes last
            found[tuple(r[:n])] = tuple(r[m:])
        return [found.get(key) for key in keys]

    def _online_scan(self, view_name, gens, join_keys, order, feat_names,
                     wanted):
        """The rows (keys, order, gen, features) of the generations
        ``gens`` that match a key tuple of ``wanted``."""
        snap, buckets, schema = self._online_read(view_name, gens)
        types = [schema[k].dataType for k in join_keys]
        lits = [
            [F.lit(v).try_cast(t) for v, t in zip(key, types)]
            for key in wanted
        ]
        if len(join_keys) == 1:
            pred = F.col(join_keys[0]).isin([lit for lit, in lits])
        else:
            pred = reduce(operator.or_, (
                reduce(operator.and_, (
                    F.col(k) == lit for k, lit in zip(join_keys, key)))
                for key in lits
            ))
        if buckets:
            pred &= F.col("__pbucket").isin(
                [self._pbucket(key, buckets) for key in lits]
            )
        return snap.filter(pred).select(
            *join_keys, *order, ONLINE_KEY, *feat_names
        ).collect()
