"""get_online_features as one pruned scan of the committed generations
per view.

Parity with a broadcast-join lookup (kept below as ``_join_lookup``,
the reference), the cost of its plan (jobs, files read), its job
labels, and the empty request.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from my_feast_spark.core import Entity, Feature, FeatureStore, FeatureView, FileSource
from my_feast_spark.core.store import _online_layout
from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.sources import generations

TS = dt.datetime


def _join_lookup(fs, entity_rows, features):
    """The lookup as a broadcast join of a keys DataFrame against each
    view's latest row per key over its committed generations (by event
    ts, then generation), ordered by row: the reference for the parity
    tests."""
    from my_feast_spark.plans.retrieval import parse_feature_refs

    refs = parse_feature_refs(features)
    spark = fs.spark
    keys_df = spark.createDataFrame(
        [{**dict(r), "__row_order": i} for i, r in enumerate(entity_rows)]
    )
    out = keys_df
    for view_name, feat_names in refs.items():
        fv = fs.get_feature_view(view_name)
        join_keys = []
        for ent in fv.entities:
            join_keys.extend(fs.registry.get_entity(ent).join_keys)
        snap = latest_per_key(
            generations.read(spark, fs._online_path(view_name), "gen"),
            join_keys, [fv.source.timestamp_field], tie_breakers=["gen"],
        ).select(*join_keys, *feat_names)
        out = out.join(F.broadcast(snap), on=join_keys, how="left")
    rows = out.orderBy("__row_order").drop("__row_order").collect()
    cols = [c for c in out.columns if c != "__row_order"]
    return {c: [r[c] for r in rows] for c in cols}


def _types(res):
    return {c: [type(v).__name__ for v in vals] for c, vals in res.items()}


@pytest.fixture(params=[0, 4], ids=["flat", "buckets4"])
def store(request, spark, tmp_path):
    """Four views over 20 entities each, two rows per entity (the later
    one wins): ``drv`` and ``drv_rating`` keyed by a string driver_id,
    ``cust`` by an int64 customer_id, ``route`` by (city, zone)."""
    buckets = request.param
    t0, t1 = TS(2024, 1, 1, 10), TS(2024, 1, 1, 12)
    sources = {
        "drv": [Row(driver_id=f"d{i}", event_timestamp=t, avg_fare=i + k / 2,
                    trips=10 * i + k) for i in range(20) for k, t in enumerate((t0, t1))],
        "drv_rating": [Row(driver_id=f"d{i}", event_timestamp=t, rating=i / 4 + k)
                       for i in range(0, 20, 2) for k, t in enumerate((t0, t1))],
        "cust": [Row(customer_id=100 + i, event_timestamp=t, score=i * 1.5 + k)
                 for i in range(20) for k, t in enumerate((t0, t1))],
        "route": [Row(city=c, zone=z, event_timestamp=t, eta=z + k + (c == "b") * 100.0)
                  for c in "ab" for z in range(10) for k, t in enumerate((t0, t1))],
    }
    paths = {}
    for name, data in sources.items():
        paths[name] = str(tmp_path / f"src_{name}")
        spark.createDataFrame(data).write.parquet(paths[name])
    repo = tmp_path / "repo"
    repo.mkdir()
    yaml = "project: p\nprovider: local\n"
    if buckets:
        yaml += f"online_store:\n  buckets: {buckets}\n"
    (repo / "feature_store.yaml").write_text(yaml)
    fs = FeatureStore(str(repo), spark=spark)

    def view(name, entity, feats):
        return FeatureView(
            name=name, entities=[entity],
            features=[Feature(f, t) for f, t in feats],
            source=FileSource(path=paths[name], timestamp_field="event_timestamp"),
        )

    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        Entity(name="customer", value_type="INT64", join_keys=["customer_id"]),
        Entity(name="route", value_type="STRING", join_keys=["city", "zone"]),
        view("drv", "driver", [("avg_fare", "DOUBLE"), ("trips", "INT64")]),
        view("drv_rating", "driver", [("rating", "DOUBLE")]),
        view("cust", "customer", [("score", "DOUBLE")]),
        view("route", "route", [("eta", "DOUBLE")]),
    ])
    fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), list(sources))
    for name in sources:
        gens = generations.committed(fs._online_path(name), "gen")
        assert _online_layout(gens)[0] == buckets
    return fs


CASES = {
    "string_key": (
        [{"driver_id": "d3"}, {"driver_id": "d17"}, {"driver_id": "d0"}],
        ["drv:avg_fare", "drv:trips"],
    ),
    "int64_key": (
        [{"customer_id": 101}, {"customer_id": 119}, {"customer_id": 104}],
        ["cust:score"],
    ),
    "composite_key": (
        [{"city": "a", "zone": 3}, {"city": "b", "zone": 3},
         {"city": "b", "zone": 9}, {"city": "c", "zone": 3},
         {"city": "a", "zone": 42}],
        ["route:eta"],
    ),
    "two_views_same_key": (
        [{"driver_id": "d2"}, {"driver_id": "d3"}, {"driver_id": "d4"}],
        ["drv:avg_fare", "drv_rating:rating"],
    ),
    "two_views_other_keys": (
        [{"driver_id": "d5", "customer_id": 105},
         {"driver_id": "d6", "customer_id": 999},
         {"driver_id": "nope", "customer_id": 110}],
        ["drv:trips", "cust:score"],
    ),
    "unknown_duplicate_extra": (
        [{"driver_id": "d1"}, {"driver_id": "zz"}, {"driver_id": "d1"},
         {"driver_id": "d8", "note": "vip"}, {"driver_id": "d1"}],
        ["drv:avg_fare", "drv:trips"],
    ),
    "row_lacks_join_key": (
        [{"driver_id": "d9"}, {"note": "no key"}, {"driver_id": "d11"}],
        ["drv:avg_fare"],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_lookup_matches_broadcast_join(store, case):
    rows, features = CASES[case]
    want = _join_lookup(store, rows, features)
    got = store.get_online_features(rows, features)
    assert got == want
    assert list(got) == list(want)
    assert _types(got) == _types(want)


def test_lookup_values(store):
    """The parity reference could share a bug with the new path: pin the
    expected vectors of the composite-key and duplicate cases by hand."""
    rows, features = CASES["composite_key"]
    got = store.get_online_features(rows, features)
    assert got == {"city": ["a", "b", "b", "c", "a"], "zone": [3, 3, 9, 3, 42],
                   "eta": [4.0, 104.0, 110.0, None, None]}
    rows, features = CASES["unknown_duplicate_extra"]
    got = store.get_online_features(rows, features)
    assert got == {
        "driver_id": ["d1", "zz", "d1", "d8", "d1"],
        "note": [None, None, None, "vip", None],
        "avg_fare": [1.5, None, 1.5, 8.5, 1.5],
        "trips": [11, None, 11, 81, 11],
    }


class _JobLog:
    """Jobs run under a fresh job group, read from the status tracker and
    the app and SQL status stores."""

    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.group = f"test-lookup-{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, "lookup under test")
        return self

    def __exit__(self, *exc):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.job_ids = list(self.sc.statusTracker().getJobIdsForGroup(self.group))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def descriptions(self):
        store = self.sc._jsc.sc().statusStore()
        return [store.job(j).description().getOrElse(None) for j in self.job_ids]

    def files_read(self) -> int:
        """"number of files read", summed over the parquet scans of the
        SQL executions that ran the group's jobs."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        execs = sql.executionsList(max(0, n - 64), 64)
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not any(ex.jobs().keySet().contains(j) for j in self.job_ids):
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan parquet"):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if metric.name() == "number of files read" and v.isDefined():
                        total += int(v.get().replace(",", ""))
        return total


@pytest.mark.parametrize("store", [4], indirect=True, ids=["buckets4"])
@pytest.mark.parametrize(
    "rows,view,keys",
    [
        ([{"driver_id": f"d{i}"} for i in (1, 3, 5, 7, 11, 1)], "drv", ["driver_id"]),
        ([{"customer_id": 100 + i} for i in (0, 1, 3, 4)], "cust", ["customer_id"]),
        ([{"city": "a", "zone": 1}, {"city": "b", "zone": 7}, {"city": "a", "zone": 2}],
         "route", ["city", "zone"]),
    ],
    ids=["string", "int64", "composite"],
)
def test_bucketed_lookup_cost(store, spark, rows, view, keys):
    """A bucketed single-view lookup runs 1 Spark job (the scan: the
    schema comes from the generation's meta, so nothing is inferred)
    and reads one file per distinct bucket of the requested keys."""
    snap = generations.read(spark, store._online_path(view), "gen")
    buckets = {
        r.pb for r in snap.where(F.struct(*keys).isin(
            [F.struct(*(F.lit(row[k]).cast(snap.schema[k].dataType).alias(k)
                        for k in keys)) for row in rows]
        )).select(F.col("__pbucket").alias("pb")).collect()
    }
    # several buckets but not all: the file count tells pruning from a scan
    assert 1 < len(buckets) < 4
    feature = [f.name for f in store.get_feature_view(view).features][0]
    with _JobLog(spark) as log:
        got = store.get_online_features(rows, [f"{view}:{feature}"])
    assert None not in got[feature]
    assert len(log.job_ids) == 1
    assert log.files_read() == len(buckets)
    assert set(log.descriptions()) == {f"get_online_features:{view}"}


@pytest.mark.parametrize("store", [0], indirect=True, ids=["flat"])
def test_lookup_labels_jobs_and_restores_description(store, spark):
    sc = spark.sparkContext
    with _JobLog(spark) as log:
        before = sc.getLocalProperty("spark.job.description")
        store.get_online_features(
            [{"driver_id": "d1", "customer_id": 101}], ["drv:trips", "cust:score"]
        )
        after = sc.getLocalProperty("spark.job.description")
    assert after == before == "lookup under test"
    labels = log.descriptions()
    assert sorted(set(labels)) == [
        "get_online_features:cust", "get_online_features:drv"]
    assert len(labels) <= 4


@pytest.mark.parametrize("store", [0, 4], indirect=True, ids=["flat", "buckets4"])
def test_empty_request_runs_no_job(store, spark):
    with _JobLog(spark) as log:
        got = store.get_online_features([], ["drv:avg_fare", "drv:trips", "cust:score"])
    assert got == {"customer_id": [], "driver_id": [], "avg_fare": [],
                   "trips": [], "score": []}
    assert log.job_ids == []


def test_empty_request_still_needs_a_snapshot(spark, tmp_path):
    fs = FeatureStore(str(tmp_path / "repo"), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="v", entities=["driver"], features=[Feature("avg_fare", "DOUBLE")],
            source=FileSource(path=str(tmp_path / "none"),
                              timestamp_field="event_timestamp"),
        ),
    ])
    assert not os.path.exists(fs._online_path("v"))
    with pytest.raises(RuntimeError, match="no online snapshot"):
        fs.get_online_features([], ["v:avg_fare"])
