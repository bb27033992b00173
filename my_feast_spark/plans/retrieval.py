"""Historical-retrieval plan builder.

Where the reference renders a Jinja SQL template per feature view
(the 4-stage CTE pipeline, CASE.MD:339-502) and feeds it to spark.sql(),
we compose the equivalent logical plan directly with the DataFrame API —
entity dedup is unnecessary (the union_window PIT join is linear in probes,
not quadratic), column pruning happens before the join, and declared
feature dtypes are cast on the way out (Float32 contract, SURVEY §1.3).

Multi-view shape: the requested views are grouped by their join keys,
and each group is ONE N-side PIT join (``operators/asof_join.py``): the
rows of every view in the group and the probes go through one shuffle on
the key, and one window carries one payload per view. The reference
instead attaches each view's features to a surrogate entity row id and
left-joins them back, one join per view (CASE.MD:470-501); here there is
no row id, nothing is pinned and nothing is joined back. Groups on
different join keys are applied one after another, so group k's window
also carries the features attached by groups 0..k-1 as probe payload.

The plan is built in a few wide projections of SQL expression strings:
one per view (its columns, casts inline) plus a fixed handful per group.
The entity dataframe's column list is fetched once; a view's columns come
from its declaration, so no feature source's column list is fetched.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from my_feast_spark.core.model import (
    FeatureView,
    check_as_of_views,
    resolve_as_of,
)
from my_feast_spark.operators.asof_join import (
    Side,
    check_output_names,
    join_sides,
)


def parse_feature_refs(features: Sequence[str]) -> dict[str, list[str]]:
    """``"view:feature"`` refs (M8, explore_features.ipynb:428-431) →
    {view: [features...]}, preserving order."""
    out: dict[str, list[str]] = {}
    for ref in features:
        if ":" not in ref:
            raise ValueError(f"feature ref {ref!r} is not 'view:feature'")
        view, feat = ref.split(":", 1)
        out.setdefault(view, []).append(feat)
    return out


class RetrievalJob:
    """Lazy retrieval handle (the reference's RetrievalJob: ``.to_spark_df()``,
    ``.to_df()``, ``.query`` — explore_features.ipynb:443, Untitled.ipynb:675-698).

    ``.plan`` exposes the physical plan the way ``.query`` exposed the SQL.

    Lifecycle: the plan is lazy and pins nothing — every view of a
    retrieval is joined inside the plan itself (module docstring), so no
    block outlives an action. :meth:`release` and the context-manager
    form are kept so callers may release every job unconditionally; both
    do nothing.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    def release(self) -> None:
        """No-op: a retrieval plan holds no pinned blocks."""

    def __enter__(self) -> "RetrievalJob":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def to_spark_df(self) -> DataFrame:
        return self._df

    def to_df(self):
        return self._df.toPandas()

    @property
    def plan(self) -> str:
        return self._df._jdf.queryExecution().explainString(
            self._df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    @property
    def query(self) -> str:
        """Textual-plan accessor named for parity with the reference's
        ``job.query`` (the generated SQL, Untitled.ipynb:675-698). Spark
        declares plans rather than SQL strings, so this exposes the same
        information in plan form."""
        return self.plan

    def to_pandas_on_spark(self):
        """Distributed pandas API over the retrieval result (S14 —
        get_hist_feat.ipynb:418 ``to_pandas_on_spark``): unlike
        ``to_df()`` nothing is collected to the driver."""
        return self._df.pandas_api()

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)


def build_historical_retrieval(
    spark: SparkSession,
    entity_df: DataFrame,
    feature_views: dict[str, FeatureView],
    entity_join_keys: dict[str, list[str]],
    features: Sequence[str],
    *,
    entity_ts_col: str = "event_timestamp",
    full_feature_names: bool = False,
    strategy: str = "union_window",
    as_of_version: int | dict | None = None,
    as_of_timestamp=None,
) -> DataFrame:
    """Compose the multi-view PIT retrieval plan.

    ``feature_views``: resolved views by name; ``entity_join_keys``:
    entity-name -> physical join keys (Entity.join_keys indirection,
    Untitled.ipynb:260). ``strategy`` passes through to every key
    group's N-side join — "auto" probes each group's key distribution
    once (see asof_join) when the skew profile is unknown.

    Output: the entity columns, then the requested features in request
    order, grouped by view (:func:`parse_feature_refs`). Feature outputs
    that repeat (two views exposing one name without
    ``full_feature_names``) or shadow an entity column raise
    ``ValueError`` before any source is read.

    ``as_of_timestamp`` (datetime or epoch seconds — one wall-clock
    instant is meaningful across every view, unlike version numbers, so
    it takes no per-view dict) reads each versioned source TIMESTAMP AS
    OF; ``as_of_version`` time-travels versioned sources (the
    reproducible-training-set contract the reference's cloud tier gets
    from Delta):
    an int applies to every requested view — each must then be backed
    by a versioned source, a plain file source raises loudly rather
    than silently reading its mutable latest state — a dict maps view
    name -> version for mixed repos (unnamed views follow their
    source's own pin/latest).
    """
    refs = parse_feature_refs(features)
    check_as_of_views(as_of_version, refs)
    if as_of_timestamp is not None and as_of_version is not None:
        raise ValueError("pass as_of_version OR as_of_timestamp, not both")

    # resolve every view and name every output before any source is read
    groups: dict[frozenset, tuple[list[str], list]] = {}
    outputs: list[str] = []
    for view_name, feat_names in refs.items():
        fv = feature_views[view_name]
        keys = list(dict.fromkeys(
            k for ent in fv.entities for k in entity_join_keys[ent]
        ))
        declared = {f.name: f for f in fv.features}
        unknown = [f for f in feat_names if f not in declared]
        if unknown:
            raise KeyError(f"view {view_name!r} has no features {unknown}")
        prefix = f"{view_name}__" if full_feature_names else ""
        out_names = {f: prefix + f for f in feat_names}
        outputs.extend(out_names.values())
        casts = {f: declared[f].spark_type for f in feat_names}
        groups.setdefault(frozenset(keys), (keys, []))[1].append(
            (view_name, fv, feat_names, out_names, casts)
        )
    entity_cols = entity_df.columns
    check_output_names(entity_cols, outputs)

    out, cols = entity_df, list(entity_cols)
    for keys, views in groups.values():
        sides = []
        for view_name, fv, feat_names, out_names, casts in views:
            src = fv.source
            sides.append(Side(
                src.load(
                    spark,
                    version=resolve_as_of(as_of_version, view_name),
                    as_of_timestamp=as_of_timestamp,
                ),
                feat_names,
                event_ts_col=src.timestamp_field,
                created_ts_col=src.created_timestamp_column,
                ttl=fv.ttl,
                out_names=out_names,
                casts=casts,
            ))
        out = join_sides(
            out, cols, sides, keys, entity_ts_col,
            strategy=strategy, probe_df=entity_df,
        )
        cols += [c for s in sides for c in s.outputs()]
    if cols != [*entity_cols, *outputs]:  # groups interleave the request
        out = out.select(*entity_cols, *outputs)
    return out
