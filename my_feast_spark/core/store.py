"""FeatureStore — the user-facing API (SURVEY §2.7 M1-M8).

Parity surface with the reference's notebook usage:

    fs = FeatureStore(repo_path)                         # M1
    fs.apply([entity, view])                             # M2
    fs.list_feature_views(); fs.list_entities()          # M3
    fs.get_feature_view(name)                            # M4
    fs.get_historical_features(entity_df, features)      # M5 -> RetrievalJob
    fs.materialize(start, end, views)                    # M6
    fs.get_online_features(entity_rows, features)        # M7

The online store is a latest-per-key Parquet snapshot per feature view
(replacing the reference's Redis, fs_online/feature_store.yaml:6-8):
materialize = window top-1 over the interval + dynamic overwrite;
get_online_features = per view, one scan of the snapshot filtered by the
requested keys, folded into the plan as literals of the snapshot's key
types (and pruned to their hash buckets on a bucketed snapshot), one
``collect``, and the rows assembled on the driver. Swappable for a real
KV store without touching callers.
"""

from __future__ import annotations

import operator
import os
from functools import reduce
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_feast_spark.core.model import Entity, FeatureView
from my_feast_spark.core.registry import Registry
from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.plans.retrieval import (
    RetrievalJob,
    build_historical_retrieval,
    parse_feature_refs,
)
from my_feast_spark.session import apply_runtime_confs


def heal_snapshot(path: str) -> None:
    """Finish a crashed snapshot swap: the swap renames the live dir to
    ``path__old`` before renaming staging in, so a crash between the
    two leaves the data at ``__old`` with ``path`` missing — restore
    it. Every snapshot READER calls this first, so the crash window
    costs one failed request at most, never a lost store."""
    old = f"{path}__old"
    if not os.path.exists(path) and os.path.exists(old):
        try:
            os.rename(old, path)
        except OSError:
            # exists-then-rename is a TOCTOU: a concurrent healer may
            # have renamed ``__old`` away first (FileNotFoundError), or
            # the writer's second swap rename may have landed ``path``
            # between our check and the rename (ENOTEMPTY/EEXIST on
            # platforms where rename-onto-nonempty-dir fails). Either
            # way a live copy now exists at ``path`` — losing the race
            # IS success — unless neither path survives, which means
            # the race partner also failed: re-raise so the crash is
            # loud, never a silently-missing store.
            if not os.path.exists(path) and not os.path.exists(old):
                raise


def swap_snapshot(tmp: str, path: str) -> None:
    """Replace the snapshot at ``path`` with the fully-written ``tmp``
    via two renames (same filesystem — staging dirs are siblings).

    NOT one atomic op (directories cannot be os.replace'd), but every
    crash window is safe: before the first rename both copies exist;
    between the renames the data lives at ``path__old`` and
    `heal_snapshot` restores it; after the second rename only the
    leftover ``__old`` needs sweeping. The rmtree+move it replaces had
    a window with NO live copy, and a partially-failed rmtree made
    shutil.move NEST the staging dir inside the live path."""
    import shutil

    heal_snapshot(path)
    old = f"{path}__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    # a concurrent reader's heal_snapshot can race the gap between the
    # two renames: it sees path missing + __old present and renames the
    # old copy BACK to path, making our rename(tmp, path) fail
    # (ENOTEMPTY). Re-evict and retry — bounded, because each retry
    # re-moves the healed copy to __old and at most one healer can win
    # per gap; if path keeps reappearing past the bound something else
    # is writing it and failing loudly is correct.
    for attempt in range(5):
        try:
            os.rename(tmp, path)
            break
        except OSError:
            if not os.path.exists(path):
                raise  # not the heal race — genuine rename failure
            shutil.rmtree(old, ignore_errors=True)
            os.rename(path, old)
    else:
        raise OSError(
            f"snapshot swap at {path!r} kept losing to concurrent "
            "healers after 5 attempts"
        )
    shutil.rmtree(old, ignore_errors=True)


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
        return os.path.join(self.repo_path, "online", view_name)

    def _online_buckets(self) -> int:
        """``online_store.buckets`` from feature_store.yaml (0 = flat
        layout, the default). With N > 0 the snapshot is written under
        ``__pbucket=hash(keys) % N`` partition directories and every
        lookup prunes to the requested keys' buckets — at 100M+
        entities a point lookup then reads a handful of directories
        instead of scanning the whole snapshot."""
        if not self.config:
            return 0
        return int(self.config.online_store.get("buckets", 0) or 0)

    @staticmethod
    def _pbucket(join_keys: Sequence[str], buckets: int):
        return F.pmod(F.xxhash64(*join_keys), F.lit(buckets))

    # The layout is SELF-DESCRIBING: the bucket count used at write time
    # rides in an underscore-prefixed sidecar (ignored by parquet scans)
    # inside the snapshot directory, so lookups never trust a config
    # value that may have changed since materialization — a mismatched
    # modulus would silently prune AWAY the requested keys' buckets.
    _ONLINE_META = "_mfs_online_meta.json"

    @classmethod
    def _write_online_meta(cls, path: str, buckets: int) -> None:
        import json

        with open(os.path.join(path, cls._ONLINE_META), "w") as fh:
            json.dump({"buckets": int(buckets)}, fh)

    @classmethod
    def _read_online_buckets(cls, path: str) -> int:
        import json

        meta = os.path.join(path, cls._ONLINE_META)
        if not os.path.exists(meta):
            return 0
        with open(meta) as fh:
            return int(json.load(fh).get("buckets", 0) or 0)

    def materialize(
        self, start, end, feature_views: Sequence[str],
        *, as_of_version: int | dict | None = None,
    ) -> None:
        """Latest feature row per entity with event ts in [start, end] →
        online snapshot table (the reference's fs.materialize,
        chicago_taxi_trips_hourly_gold.ipynb:473-479).

        ``as_of_version`` (int, or dict view-name -> int) materializes
        versioned feature sources as of a pinned table version — the
        offline/online parity guarantee: serve exactly the snapshot a
        time-traveled training set was built from."""
        from my_feast_spark.core.model import check_as_of_views, resolve_as_of

        check_as_of_views(as_of_version, feature_views)
        for view_name in feature_views:
            fv = self.get_feature_view(view_name)
            join_keys: list[str] = []
            for ent in fv.entities:
                join_keys.extend(self.registry.get_entity(ent).join_keys)
            src = fv.source
            df = src.load(
                self.spark,
                version=resolve_as_of(as_of_version, view_name),
            ).filter(
                (F.col(src.timestamp_field) >= F.lit(start))
                & (F.col(src.timestamp_field) <= F.lit(end))
            )
            order = [src.timestamp_field]
            ties = [src.created_timestamp_column] if src.created_timestamp_column else []
            snap = latest_per_key(df, join_keys, order, tie_breakers=ties)
            # snapshot layout is shared with streaming materialization
            # (streaming/online.py merge_batch): created column included so
            # batch and streaming merges never diverge on schema
            keep = join_keys + [src.timestamp_field] + ties + fv.feature_names()
            out = snap.select(*keep)
            buckets = self._online_buckets()
            path = self._online_path(view_name)
            # Batch materialize is a FULL snapshot replace. The bucketed
            # write must NOT go straight to `path`: the session runs with
            # partitionOverwriteMode=dynamic (session.py), under which a
            # partitionBy("__pbucket") overwrite only replaces buckets
            # present in the new snapshot — stale entity rows would
            # survive in untouched buckets, and a changed
            # online_store.buckets would leave old-modulus directories
            # next to a sidecar recording the new count. Write snapshot +
            # sidecar to a staging dir, then the crash-safe rename swap
            # (swap_snapshot — every window leaves a recoverable copy).
            import shutil

            tmp = f"{path}__staging_materialize"
            shutil.rmtree(tmp, ignore_errors=True)
            writer = out.write.mode("overwrite")
            if buckets:
                writer = out.withColumn(
                    "__pbucket", self._pbucket(join_keys, buckets)
                ).repartition("__pbucket").write.mode(
                    "overwrite"
                ).partitionBy("__pbucket")
            writer.parquet(tmp)
            if buckets:
                self._write_online_meta(tmp, buckets)
            swap_snapshot(tmp, path)
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
        snapshot has no row for it.

        Each view costs one filtered snapshot scan and one ``collect``.
        The request's distinct keys are folded into the plan as literals
        cast to the snapshot's key types: ``key IN (...)``, an OR of ANDs
        for composite keys, and on a bucketed snapshot ``__pbucket IN
        (pmod(xxhash64(<key literals>), n), ...)``, the hash
        ``materialize`` wrote, which constant folding turns into a
        partition filter. The hits are assembled into rows on the driver.
        An empty request runs no Spark job."""
        refs = parse_feature_refs(features)
        views = []
        for view_name, feat_names in refs.items():
            fv = self.get_feature_view(view_name)
            join_keys = []
            for ent in fv.entities:
                join_keys.extend(self.registry.get_entity(ent).join_keys)
            path = self._online_path(view_name)
            heal_snapshot(path)  # finish a crashed materialize swap
            if not os.path.exists(path):
                raise RuntimeError(
                    f"feature view {view_name!r} has no online snapshot — "
                    "call materialize(start, end, [view]) first"
                )
            views.append((view_name, join_keys, feat_names, path))
        rows = [dict(r) for r in entity_rows]
        cols = sorted({c for r in rows for c in r})
        out = {c: [r.get(c) for r in rows] for c in cols}
        for view_name, join_keys, feat_names, path in views:
            cols = join_keys + [c for c in cols if c not in join_keys] + feat_names
            for k in join_keys:
                out.setdefault(k, [None] * len(rows))
            keys = [tuple(r.get(k) for k in join_keys) for r in rows]
            hits = self._online_hits(view_name, path, join_keys, feat_names, keys)
            for i, f in enumerate(feat_names):
                # a name already taken by an entity column or an earlier
                # view's feature keeps its first value
                out.setdefault(f, [None if h is None else h[i] for h in hits])
        return {c: out[c] for c in cols}

    def _online_hits(
        self, view_name: str, path: str, join_keys: list[str],
        feat_names: list[str], keys: list[tuple],
    ) -> list:
        """The feature tuple for each key tuple of ``keys`` (``None`` for
        a miss or a key with a ``None`` part), from one pruned scan of the
        view's snapshot run under the job description
        ``get_online_features:<view>``. Hits match their keys by Python
        equality, so a key value must have the Python type the key
        column collects as (``str`` for STRING, ``int`` for INT64)."""
        wanted = list(dict.fromkeys(t for t in keys if None not in t))
        if not wanted:
            return [None] * len(keys)
        spark = self.spark
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"get_online_features:{view_name}")
        try:
            snap = spark.read.parquet(path)
            types = [snap.schema[k].dataType for k in join_keys]
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
            if "__pbucket" in snap.columns:
                n_buckets = self._read_online_buckets(path)
                if not n_buckets:
                    raise RuntimeError(
                        f"online snapshot at {path!r} is bucketed but its "
                        f"{self._ONLINE_META} sidecar is missing — "
                        "re-materialize the view"
                    )
                pred &= F.col("__pbucket").isin(
                    [self._pbucket(key, n_buckets) for key in lits]
                )
            n = len(join_keys)
            found = {
                tuple(r[:n]): tuple(r[n:])
                for r in snap.filter(pred).select(*join_keys, *feat_names).collect()
            }
        finally:
            sc.setJobDescription(prev)
        return [found.get(key) for key in keys]
