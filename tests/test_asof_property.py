"""Property-based PIT-join invariants (SURVEY §5.5).

hypothesis generates random feature histories + probe sets; for every case:
  * union_window and range_join strategies agree exactly;
  * a multi-view retrieval equals chained single-view joins;
  * the matched feature timestamp is <= the probe timestamp (and within
    TTL when one is set);
  * single-key, no-created results equal pandas merge_asof;
  * probes are left-preserved (row count never changes).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from my_feast_spark.operators.asof_join import point_in_time_join

T0 = dt.datetime(2024, 1, 1)

# timestamps on a coarse grid so ties (the interesting case) are frequent
ts_strategy = st.integers(min_value=0, max_value=48).map(
    lambda h: T0 + dt.timedelta(hours=h)
)
key_strategy = st.integers(min_value=1, max_value=3)

features_strategy = st.lists(
    st.tuples(key_strategy, ts_strategy, st.integers(0, 4), st.floats(0, 100)),
    min_size=0, max_size=12,
)
probes_strategy = st.lists(
    st.tuples(key_strategy, ts_strategy), min_size=1, max_size=8
)


#: randomized as-of property sweep (minutes-scale) — redundant next to the oracle-parity value sweep;
#: slow tier (see pytest.ini)
pytestmark = pytest.mark.slow


def _run(spark, feats, probes, ttl=None, with_created=True):
    fcols = "key long, fts timestamp, created_h long, val double"
    fdf = spark.createDataFrame(
        [(k, t, c, v) for k, t, c, v in feats] or [], schema=fcols
    )
    if with_created:
        fdf = fdf.selectExpr(
            "key", "fts", "fts + make_interval(0,0,0,0,0,0,created_h) AS created", "val"
        )
        created_col = "created"
    else:
        fdf = fdf.select("key", "fts", "val")
        created_col = None
    pdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(probes)],
        schema="probe_id long, key long, pts timestamp",
    )
    outs = {}
    # hot_key_rows=3 forces auto onto the sliced+prefilter path on most
    # generated corpora (keys are 1..3, so per-key loads exceed 3 fast)
    for strategy in ("union_window", "sliced_window", "range_join", "auto"):
        out = point_in_time_join(
            pdf, fdf, ["key"],
            event_ts_col="fts", entity_ts_col="pts",
            created_ts_col=created_col, ttl=ttl,
            features=["val"], include_feature_ts=True,
            strategy=strategy, hot_key_rows=3,
            # fixture timestamps span ~48h: 7h slices force boundary carries
            slice_interval=dt.timedelta(hours=7),
        )
        outs[strategy] = sorted(
            (r.probe_id, r.val, r.feature_event_timestamp) for r in out.collect()
        )
    return outs


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(feats=features_strategy, probes=probes_strategy,
       ttl_hours=st.sampled_from([None, 2, 24]))
def test_strategies_agree_and_respect_time(spark, feats, probes, ttl_hours):
    # rows fully tied on (key, event_ts, created) have an UNSPECIFIED
    # winner (in the reference too) — dedupe so agreement is well-defined
    dedup = {}
    for k, t, c, v in feats:
        dedup[(k, t, c)] = max(v, dedup.get((k, t, c), float("-inf")))
    feats = [(k, t, c, v) for (k, t, c), v in dedup.items()]
    ttl = dt.timedelta(hours=ttl_hours) if ttl_hours else None
    outs = _run(spark, feats, probes, ttl=ttl)
    assert outs["union_window"] == outs["range_join"]
    assert outs["union_window"] == outs["sliced_window"]
    assert outs["union_window"] == outs["auto"]
    rows = outs["union_window"]
    assert len(rows) == len(probes)  # left-preserved
    probe_ts = {i: t for i, (_k, t) in enumerate(probes)}
    for probe_id, _val, fts in rows:
        if fts is not None:
            assert fts <= probe_ts[probe_id]
            if ttl is not None:
                assert fts >= probe_ts[probe_id] - ttl


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(feats=features_strategy, probes=probes_strategy)
def test_matches_pandas_merge_asof(spark, feats, probes):
    # merge_asof has no created tie-break: collapse to one row per (key, ts)
    # keeping max val as a deterministic representative
    dedup = {}
    for k, t, _c, v in feats:
        dedup[(k, t)] = max(v, dedup.get((k, t), float("-inf")))
    feats1 = [(k, t, 0, v) for (k, t), v in dedup.items()]

    outs = _run(spark, feats1, probes, with_created=False)
    got = {(pid): (val, fts) for pid, val, fts in outs["union_window"]}

    fpd = pd.DataFrame(
        [(k, t, v) for k, t, _c, v in feats1], columns=["key", "fts", "val"]
    ).sort_values(["fts", "key"], kind="mergesort")
    ppd = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(probes)],
        columns=["probe_id", "key", "pts"],
    ).sort_values(["pts", "probe_id"], kind="mergesort")
    if fpd.empty:
        expected = {int(r.probe_id): (None, None) for r in ppd.itertuples()}
    else:
        m = pd.merge_asof(
            ppd, fpd, left_on="pts", right_on="fts", by="key",
            direction="backward", allow_exact_matches=True,
        )
        expected = {
            int(r.probe_id): (
                None if pd.isna(r.val) else r.val,
                None if pd.isna(r.fts) else r.fts.to_pydatetime(),
            )
            for r in m.itertuples()
        }
    assert got == expected


#: the multi-view cases: two keys (or NULL) and a 6-hour grid over the
#: same two days, so (key, ts) ties, created ties and full (key, ts,
#: created) ties are common in every view and 1-day slices still carry
nullable_key_strategy = st.one_of(st.none(), st.integers(1, 2))
grid_ts_strategy = st.integers(0, 8).map(lambda i: T0 + dt.timedelta(hours=6 * i))
nullable_features_strategy = st.lists(
    st.tuples(nullable_key_strategy, grid_ts_strategy, st.integers(0, 2),
              st.floats(0, 100)),
    min_size=0, max_size=12,
)


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    feats_a=nullable_features_strategy,
    feats_b=nullable_features_strategy,
    feats_c=nullable_features_strategy,
    probes=st.lists(
        st.tuples(nullable_key_strategy, nullable_key_strategy,
                  grid_ts_strategy),
        min_size=1, max_size=8,
    ),
    ttl_hours=st.sampled_from([None, 6, 24]),
)
# a (key, ts) tie in each view where the later-created row holds the
# smaller value (created decides, not the payload), and a full tie
@example(
    feats_a=[(1, T0, 0, 50.0), (1, T0, 2, 10.0), (None, T0, 0, 1.0)],
    feats_b=[(1, T0 + dt.timedelta(hours=6), 1, 70.0),
             (1, T0 + dt.timedelta(hours=6), 2, 20.0),
             (2, T0, 0, 3.0), (2, T0, 0, 4.0)],
    feats_c=[(1, T0, 0, 9.0)],
    probes=[(1, 1, T0 + dt.timedelta(hours=12)),
            (1, None, T0 + dt.timedelta(hours=12)),
            (None, 1, T0 + dt.timedelta(hours=6)),
            (2, 2, T0 + dt.timedelta(hours=30))],
    ttl_hours=24,
)
def test_fused_multiview_equals_chained(
    spark, feats_a, feats_b, feats_c, probes, ttl_hours
):
    """A multi-view retrieval (plans/retrieval.py) returns exactly what
    chaining single-view point_in_time_joins returns, under every
    strategy (the single-view strategies agree, see above). Views va
    and vb share the join key (one fused window), vc is on another
    entity (a second key group applied after it); va alone has a TTL.
    Covers duplicate probe rows, NULL keys on both sides, NULL-feature
    probes, and created / full ties within each view."""
    import os
    import tempfile

    from my_feast_spark.core.model import Feature, FeatureView, FileSource
    from my_feast_spark.plans.retrieval import build_historical_retrieval

    ttl = dt.timedelta(hours=ttl_hours) if ttl_hours else None
    fcols = "key long, fts timestamp, created_h long, val double"
    cols = ("probe_id", "key", "key2", "event_timestamp",
            "val_va", "val_vb", "val_vc")
    with tempfile.TemporaryDirectory() as tmp:
        views = {}
        sides = {}
        for tag, feats, key in (("va", feats_a, "key"), ("vb", feats_b, "key"),
                                ("vc", feats_c, "key2")):
            fdf = spark.createDataFrame(
                [(k, t, c, v) for k, t, c, v in feats] or [], schema=fcols
            ).selectExpr(
                f"key AS {key}", "fts",
                "fts + make_interval(0,0,0,0,0,0,created_h) AS created",
                f"val AS val_{tag}",
            )
            path = os.path.join(tmp, tag)
            fdf.write.parquet(path)
            sides[tag] = (spark.read.parquet(path), key)
            views[tag] = FeatureView(
                name=tag, entities=[key],
                features=[Feature(f"val_{tag}", "DOUBLE")],
                source=FileSource(
                    path=path, timestamp_field="fts",
                    created_timestamp_column="created",
                ),
                ttl=ttl if tag == "va" else None,
            )
        pdf = spark.createDataFrame(
            [(k, k2, t, i) for i, (k, k2, t) in enumerate(probes)],
            schema="key long, key2 long, event_timestamp timestamp, probe_id long",
        )
        chained = pdf
        for tag in ("va", "vb", "vc"):
            fdf, key = sides[tag]
            chained = point_in_time_join(
                chained, fdf, [key], event_ts_col="fts",
                entity_ts_col="event_timestamp", created_ts_col="created",
                ttl=ttl if tag == "va" else None, features=[f"val_{tag}"],
            )
        want = sorted(tuple(r[c] for c in cols) for r in chained.collect())
        assert len(want) == len(probes)  # left-preserving, no fan-out
        for strategy in ("union_window", "sliced_window", "range_join", "auto"):
            fused = build_historical_retrieval(
                spark, pdf, views, {"key": ["key"], "key2": ["key2"]},
                ["va:val_va", "vc:val_vc", "vb:val_vb"], strategy=strategy,
            )
            assert fused.columns[-3:] == ["val_va", "val_vc", "val_vb"]
            got = sorted(tuple(r[c] for c in cols) for r in fused.collect())
            assert got == want, strategy
