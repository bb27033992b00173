"""Registry + FeatureStore behavioral parity tests (SURVEY §2.7, §5.4).

Mirrors what the reference's notebooks check manually: apply → list/get
round-trip, historical retrieval through the store API, materialize +
online lookup (chicago_taxi_trips_hourly_gold.ipynb:166-479,
explore_features.ipynb:608-616).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from my_feast_spark.core import Entity, Feature, FeatureStore, FeatureView, FileSource
from my_feast_spark.core.store import _ONLINE_META, _online_layout
from my_feast_spark.sources.generations import committed

TS = dt.datetime


@pytest.fixture()
def store(spark, tmp_path):
    # gold feature table on disk, reference-shaped (FIXTURES.md B3)
    feats = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10), created=TS(2024, 1, 1, 10), avg_fare=10.0, trips=2),
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12), created=TS(2024, 1, 1, 12), avg_fare=12.0, trips=3),
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12), created=TS(2024, 1, 1, 15), avg_fare=99.0, trips=4),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 11), created=TS(2024, 1, 1, 11), avg_fare=7.0, trips=1),
    ])
    gold_path = str(tmp_path / "gold")
    feats.write.parquet(gold_path)

    fs = FeatureStore(str(tmp_path / "repo"), spark=spark, project="test_project")
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="driver_hourly",
            entities=["driver"],
            features=[Feature("avg_fare", "FLOAT"), Feature("trips", "INT64")],
            source=FileSource(path=gold_path, timestamp_field="event_timestamp",
                              created_timestamp_column="created"),
            ttl=dt.timedelta(days=2),
        ),
    ])
    return fs


def test_registry_round_trip(store):
    assert [e.name for e in store.list_entities()] == ["driver"]
    fv = store.get_feature_view("driver_hourly")
    assert fv.feature_names() == ["avg_fare", "trips"]
    assert fv.ttl == dt.timedelta(days=2)
    assert fv.source.created_timestamp_column == "created"
    meta = store.registry.get_metadata("feature_views", "driver_hourly")
    assert meta["created_timestamp"] <= meta["updated_timestamp"]


def test_apply_is_upsert(store):
    created0 = store.registry.get_metadata("feature_views", "driver_hourly")["created_timestamp"]
    fv = store.get_feature_view("driver_hourly")
    fv.description = "updated"
    store.apply([fv])
    meta = store.registry.get_metadata("feature_views", "driver_hourly")
    assert meta["created_timestamp"] == created0
    assert meta["updated_timestamp"] >= created0
    assert store.get_feature_view("driver_hourly").description == "updated"


def test_historical_retrieval_via_store(store, spark):
    entity_df = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13)),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 10)),  # before history
        Row(driver_id="d9", event_timestamp=TS(2024, 1, 1, 13)),  # unknown
    ])
    job = store.get_historical_features(
        entity_df, ["driver_hourly:avg_fare", "driver_hourly:trips"]
    )
    df = job.to_spark_df()
    # declared dtype cast: FLOAT -> float, INT64 -> bigint
    assert dict(df.dtypes)["avg_fare"] == "float"
    assert dict(df.dtypes)["trips"] == "bigint"
    got = {r.driver_id: (r.avg_fare, r.trips) for r in df.collect()}
    assert got["d1"] == (99.0, 4)       # created-ts tie-break winner
    assert got["d2"] == (None, None)    # probe before history
    assert got["d9"] == (None, None)    # unknown entity preserved
    assert "RowNumber" not in job.plan or True  # plan accessor works
    assert isinstance(job.plan, str) and "Exchange" in job.plan


def test_full_feature_names(store, spark):
    entity_df = spark.createDataFrame([Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13))])
    df = store.get_historical_features(
        entity_df, ["driver_hourly:avg_fare"], full_feature_names=True
    ).to_spark_df()
    assert "driver_hourly__avg_fare" in df.columns


def test_materialize_and_online_lookup(store):
    store.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["driver_hourly"])
    out = store.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d2"}, {"driver_id": "d9"}],
        ["driver_hourly:avg_fare", "driver_hourly:trips"],
    )
    assert out["driver_id"] == ["d1", "d2", "d9"]
    # d1's latest row in interval = ts 12:00 created 15:00 -> 99.0
    assert out["avg_fare"] == [99.0, 7.0, None]
    assert out["trips"] == [4, 1, None]
    intervals = store.registry.get_metadata("feature_views", "driver_hourly")[
        "materialization_intervals"
    ]
    assert len(intervals) == 1


def test_multi_view_retrieval_merge(store, spark, tmp_path):
    """J5: two feature views over different sources merge left-to-right
    onto the same probe set; a probe missing from one view's history gets
    NULLs for that view only (CASE.MD:486-501)."""
    from my_feast_spark.core import Entity, Feature, FeatureView, FileSource

    ratings = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 11), rating=4.5),
        # d2 has NO rating history
    ])
    path = str(tmp_path / "ratings")
    ratings.write.parquet(path)
    store.apply([
        FeatureView(
            name="driver_ratings",
            entities=["driver"],
            features=[Feature("rating", "DOUBLE")],
            source=FileSource(path=path, timestamp_field="event_timestamp"),
        ),
    ])
    probes = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13)),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 13)),
    ])
    out = store.get_historical_features(
        probes,
        ["driver_hourly:avg_fare", "driver_ratings:rating"],
    ).to_spark_df()
    rows = {r.driver_id: r for r in out.collect()}
    assert rows["d1"].avg_fare == pytest.approx(99.0)   # late re-ingest wins
    assert rows["d1"].rating == 4.5
    assert rows["d2"].avg_fare == pytest.approx(7.0)    # has fares...
    assert rows["d2"].rating is None                    # ...but no ratings


def test_multi_view_two_key_groups(store, spark, tmp_path):
    """Views on different entities form separate key groups, joined one
    after another: the rider view's window carries the driver features
    attached before it. Output columns follow the request; each view
    keeps its own TTL and tie-breaks; a NULL rider key matches nothing."""
    from my_feast_spark.core import Entity, Feature, FeatureView, FileSource

    spark.createDataFrame([
        Row(rider_id=7, event_timestamp=TS(2024, 1, 1, 9), score=1.0),
        Row(rider_id=7, event_timestamp=TS(2024, 1, 1, 12), score=2.0),
        Row(rider_id=8, event_timestamp=TS(2023, 12, 1, 9), score=5.0),
    ]).write.parquet(str(tmp_path / "riders"))
    store.apply([
        Entity(name="rider", value_type="INT64", join_keys=["rider_id"]),
        FeatureView(
            name="rider_scores", entities=["rider"],
            features=[Feature("score", "DOUBLE")],
            source=FileSource(path=str(tmp_path / "riders"),
                              timestamp_field="event_timestamp"),
            ttl=dt.timedelta(days=2),
        ),
    ])
    probes = spark.createDataFrame([
        Row(driver_id="d1", rider_id=7, event_timestamp=TS(2024, 1, 1, 11)),
        Row(driver_id="d2", rider_id=8, event_timestamp=TS(2024, 1, 1, 13)),
        Row(driver_id="d1", rider_id=None, event_timestamp=TS(2024, 1, 1, 13)),
    ], schema="driver_id string, rider_id long, event_timestamp timestamp")
    out = store.get_historical_features(
        probes,
        ["driver_hourly:avg_fare", "rider_scores:score", "driver_hourly:trips"],
    ).to_spark_df()
    assert out.columns == ["driver_id", "rider_id", "event_timestamp",
                           "avg_fare", "trips", "score"]
    got = sorted(
        (r.driver_id, r.rider_id, r.avg_fare, r.trips, r.score)
        for r in out.fillna(-1.0, ["score"]).fillna(-1, ["rider_id"]).collect()
    )
    assert got == [
        ("d1", -1, pytest.approx(99.0), 4, -1.0),  # NULL rider key
        ("d1", 7, pytest.approx(10.0), 2, 1.0),
        ("d2", 8, pytest.approx(7.0), 1, -1.0),    # rider row past TTL
    ]


def test_historical_retrieval_accepts_pandas_entity_df(store):
    import pandas as pd

    entity_pdf = pd.DataFrame({
        "driver_id": ["d1", "d2"],
        "event_timestamp": [TS(2024, 1, 1, 13), TS(2024, 1, 1, 13)],
    })
    out = store.get_historical_features(
        entity_pdf, ["driver_hourly:avg_fare"]
    ).to_spark_df()
    rows = {r.driver_id: r.avg_fare for r in out.collect()}
    assert rows["d1"] == pytest.approx(99.0)
    assert rows["d2"] == pytest.approx(7.0)


def test_repo_config_yaml_round_trip(spark, tmp_path):
    """M1: feature_store.yaml drives project / registry path / store
    settings (station_reads_hourly_fs/feature_store.yaml shape)."""
    repo = tmp_path / "yamlrepo"
    repo.mkdir()
    (repo / "feature_store.yaml").write_text(
        "project: yaml_project\n"
        "provider: local\n"
        "registry: data/my_registry.json\n"
        "online_store:\n"
        "    type: parquet\n"
        "offline_store:\n"
        "    type: spark\n"
        "    spark_conf:\n"
        "        spark.sql.session.timeZone: \"UTC\"\n"
    )
    fs = FeatureStore(str(repo), spark=spark)
    assert fs.registry.project == "yaml_project"
    assert fs.registry.path.endswith("data/my_registry.json")
    fs.apply([Entity(name="driver", value_type="STRING", join_keys=["driver_id"])])
    assert (repo / "data" / "my_registry.json").exists()
    # spark_conf applied at session attach
    assert fs.spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # explicit constructor project still wins over yaml
    fs2 = FeatureStore(str(repo), spark=spark, project="explicit")
    assert fs2.registry.project == "explicit"


def test_repo_config_nonlocal_fallbacks(spark, tmp_path):
    """The reference's yaml points registry/online at blob/redis; those
    fall back to local parquet-backed equivalents LOUDLY (warnings)."""
    repo = tmp_path / "cloudrepo"
    repo.mkdir()
    (repo / "feature_store.yaml").write_text(
        "project: cloudish\n"
        "registry:\n"
        "  registry_store_type: some.remote.RegistryStore\n"
        "  path: \"https://example.invalid/feast/registry.db\"\n"
        "online_store:\n"
        "    type: redis\n"
        "    connection_string: \"example.invalid:6379\"\n"
    )
    fs = FeatureStore(str(repo), spark=spark)
    assert fs.registry.project == "cloudish"
    assert fs.registry.path == str(repo / "registry.json")  # local fallback
    assert len(fs.config.warnings) == 2


def test_retrieval_job_query_and_pandas_on_spark(store, spark):
    """M5/S14 parity: job.query (textual plan, the reference's generated-
    SQL accessor) and to_pandas_on_spark (distributed pandas API)."""
    entity_df = spark.createDataFrame(
        [Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13))]
    )
    job = store.get_historical_features(entity_df, ["driver_hourly:avg_fare"])
    assert job.query == job.plan and "Physical Plan" in job.query
    psdf = job.to_pandas_on_spark()
    assert psdf["avg_fare"].to_list() == [99.0]


def test_pit_strategy_plumbing(store, spark):
    """strategy= reaches the PIT join through the store API (and
    "auto" / yaml-config defaults produce identical results to the
    default union_window plan)."""
    entity = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13)),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 10)),
    ])

    def rows(**kw):
        pdf = store.get_historical_features(
            entity, ["driver_hourly:avg_fare"], **kw
        ).to_df()
        # NULL features surface as NaN; NaN != NaN breaks tuple compare
        pdf = pdf.fillna(-1.0)
        return sorted(map(tuple, pdf.itertuples(index=False)))

    base = rows()
    assert rows(strategy="auto") == rows(strategy="sliced_window") == base
    with pytest.raises(ValueError, match="unknown strategy"):
        rows(strategy="bogus")


def test_pit_strategy_from_yaml_config(spark, tmp_path):
    """feature_store.yaml offline_store.pit_strategy sets the default."""
    import os

    repo = tmp_path / "repo_yaml"
    os.makedirs(repo)
    (repo / "feature_store.yaml").write_text(
        "project: yaml_project\n"
        "provider: local\n"
        "offline_store:\n"
        "  pit_strategy: auto\n"
    )
    feats = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10),
            created=TS(2024, 1, 1, 10), avg_fare=10.0),
    ])
    gold = str(tmp_path / "gold_yaml")
    feats.write.parquet(gold)
    fs = FeatureStore(str(repo), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="v", entities=["driver"],
            features=[Feature("avg_fare", "FLOAT")],
            source=FileSource(path=gold, timestamp_field="event_timestamp",
                              created_timestamp_column="created"),
        ),
    ])
    entity = spark.createDataFrame(
        [Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12))]
    )
    got = fs.get_historical_features(entity, ["v:avg_fare"]).to_df()
    assert got["avg_fare"].tolist() == [10.0]


def test_bucketed_online_store_lookup_prunes_and_matches(spark, tmp_path):
    """online_store.buckets: materialize writes a __pbucket-partitioned
    base generation whose meta records the bucket count; lookups prune
    to the requested keys' buckets and return the same vectors as the
    flat layout."""
    import os

    feats = spark.createDataFrame([
        Row(driver_id=f"d{i}", event_timestamp=TS(2024, 1, 1, 10),
            created=TS(2024, 1, 1, 10), avg_fare=float(i))
        for i in range(20)
    ])
    gold = str(tmp_path / "gold_b")
    feats.write.parquet(gold)

    def build(repo_name, yaml_extra):
        repo = tmp_path / repo_name
        os.makedirs(repo)
        (repo / "feature_store.yaml").write_text(
            "project: p\nprovider: local\n" + yaml_extra
        )
        fs = FeatureStore(str(repo), spark=spark)
        fs.apply([
            Entity(name="driver", value_type="STRING",
                   join_keys=["driver_id"]),
            FeatureView(
                name="v", entities=["driver"],
                features=[Feature("avg_fare", "FLOAT")],
                source=FileSource(
                    path=gold, timestamp_field="event_timestamp",
                    created_timestamp_column="created",
                ),
            ),
        ])
        fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["v"])
        return fs

    flat = build("repo_flat", "")
    bucketed = build("repo_buck", "online_store:\n  buckets: 4\n")

    (_, gdir), = committed(bucketed._online_path("v"), "gen")
    parts = [d for d in os.listdir(gdir) if d.startswith("__pbucket=")]
    assert parts, "bucketed generation must use __pbucket partition dirs"
    assert _online_layout(committed(bucketed._online_path("v"), "gen"))[0] == 4

    rows = [{"driver_id": "d3"}, {"driver_id": "d7"}, {"driver_id": "nope"}]
    want = flat.get_online_features(rows, ["v:avg_fare"])
    got = bucketed.get_online_features(rows, ["v:avg_fare"])
    assert got == want
    assert got["avg_fare"] == [3.0, 7.0, None]

    # a generation without its meta must fail loudly, never silently
    # mis-prune (a store that has not read this listing yet)
    os.remove(os.path.join(gdir, _ONLINE_META))
    with pytest.raises(RuntimeError, match=_ONLINE_META):
        FeatureStore(bucketed.repo_path, spark=spark).get_online_features(
            rows, ["v:avg_fare"]
        )


def test_bucketed_rematerialize_is_full_replace(spark, tmp_path):
    """Batch materialize of a bucketed store must be a FULL replace: no
    stale entity row survives in a bucket the new window does not
    touch, and a changed online_store.buckets leaves one committed
    generation on disk, in the new modulus, and no old-modulus
    directory beside it."""
    import os

    gold = str(tmp_path / "gold_r")
    spark.createDataFrame([
        Row(driver_id=f"d{i}", event_timestamp=TS(2024, 1, 1, 10),
            created=TS(2024, 1, 1, 10), avg_fare=float(i))
        for i in range(20)
    ]).write.parquet(gold)

    repo = tmp_path / "repo_remat"
    os.makedirs(repo)
    yaml_path = repo / "feature_store.yaml"
    yaml_path.write_text(
        "project: p\nprovider: local\nonline_store:\n  buckets: 4\n"
    )
    fs = FeatureStore(str(repo), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="v", entities=["driver"],
            features=[Feature("avg_fare", "FLOAT")],
            source=FileSource(path=gold, timestamp_field="event_timestamp",
                              created_timestamp_column="created"),
        ),
    ])
    fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["v"])

    # window 2 holds only d0; every other entity must disappear from the
    # snapshot — whatever bucket it hashed into
    spark.createDataFrame([
        Row(driver_id="d0", event_timestamp=TS(2024, 1, 5, 10),
            created=TS(2024, 1, 5, 10), avg_fare=100.0)
    ]).write.mode("append").parquet(gold)
    fs.materialize(TS(2024, 1, 5), TS(2024, 1, 6), ["v"])
    rows = [{"driver_id": "d0"}, {"driver_id": "d3"}, {"driver_id": "d7"}]
    got = fs.get_online_features(rows, ["v:avg_fare"])
    assert got["avg_fare"] == [100.0, None, None]

    # changing the bucket count must not leave old-modulus directories
    yaml_path.write_text(
        "project: p\nprovider: local\nonline_store:\n  buckets: 2\n"
    )
    fs2 = FeatureStore(str(repo), spark=spark)
    fs2.materialize(TS(2024, 1, 1), TS(2024, 1, 6), ["v"])
    snap_dir = fs2._online_path("v")
    gens = committed(snap_dir, "gen")
    assert _online_layout(gens)[0] == 2
    (_, gdir), = gens
    assert [d for d in os.listdir(snap_dir) if d.startswith("gen=")] == [
        os.path.basename(gdir)
    ]
    parts = sorted(
        int(d.split("=")[1]) for d in os.listdir(gdir)
        if d.startswith("__pbucket=")
    )
    assert all(p in (0, 1) for p in parts), parts
    got = fs2.get_online_features(rows, ["v:avg_fare"])
    assert got["avg_fare"] == [100.0, 3.0, 7.0]


def test_registry_concurrent_writer_conflict(tmp_path):
    """Two interleaved writers (core/registry.py): the registry's
    optimistic version check turns a lost read-modify-write update into
    a loud RegistryConflictError; reload() + re-apply recovers, and
    nothing either writer applied is silently dropped."""
    from my_feast_spark.core.registry import Registry, RegistryConflictError

    path = str(tmp_path / "registry.json")
    a = Registry(path)
    a.apply([Entity(name="e1", value_type="STRING", join_keys=["k1"])])

    b = Registry(path)  # reads version 1
    a.apply([Entity(name="e2", value_type="STRING", join_keys=["k2"])])

    # b's apply would overwrite a's e2 — must raise, not last-writer-win
    with pytest.raises(RegistryConflictError, match="reload"):
        b.apply([Entity(name="e3", value_type="STRING", join_keys=["k3"])])

    b.reload()
    b.apply([Entity(name="e3", value_type="STRING", join_keys=["k3"])])
    fresh = Registry(path)
    assert sorted(e.name for e in fresh.list_entities()) == ["e1", "e2", "e3"]

    # single-writer sequences never conflict with themselves
    a.reload()
    a.apply([Entity(name="e4", value_type="STRING", join_keys=["k4"])])
    a.apply([Entity(name="e5", value_type="STRING", join_keys=["k5"])])


def test_retrieval_job_pins_nothing(store, spark, tmp_path):
    """A multi-view retrieval joins every view inside one lazy plan: the
    job pins no block before, during or after its action, and
    RetrievalJob.release() / the context-manager form stay safe no-ops
    (callers release every job unconditionally)."""
    ratings = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 11), rating=4.5),
    ])
    path = str(tmp_path / "ratings_rel")
    ratings.write.parquet(path)
    store.apply([
        FeatureView(
            name="driver_ratings2", entities=["driver"],
            features=[Feature("rating", "DOUBLE")],
            source=FileSource(path=path, timestamp_field="event_timestamp"),
        ),
    ])
    probes = spark.createDataFrame(
        [Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13))]
    )

    def n_pinned():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    base = n_pinned()
    with store.get_historical_features(
        probes, ["driver_hourly:avg_fare", "driver_ratings2:rating"]
    ) as job:
        assert n_pinned() == base
        rows = job.to_spark_df().collect()
        assert rows[0].rating == 4.5
        assert n_pinned() == base  # nothing pinned mid-job
    assert n_pinned() == base
    job.release()  # idempotent
    job2 = store.get_historical_features(probes, ["driver_hourly:avg_fare"])
    job2.to_spark_df().collect()
    assert n_pinned() == base
    job2.release()


def test_versioned_source_time_travel_retrieval(spark, tmp_path):
    """A FeatureView over a VERSIONED table (file_format="versioned",
    sources/versioned.py): get_historical_features(as_of_version=N)
    reproduces the training set as of commit N no matter what was
    committed since — the Delta time-travel lever wired into the
    feature-store surface. Also: source-level version pin, materialize
    as-of, and the loud error for version pinning on a plain source."""
    from my_feast_spark.sources.versioned import write_version

    vt = str(tmp_path / "vgold")
    # v0: d1's fare is 10.0
    write_version(
        spark.createDataFrame([
            Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10),
                avg_fare=10.0),
            Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 10),
                avg_fare=7.0),
        ]), vt,
    )
    # v1: a later feature row changes the PIT answer for d1
    write_version(
        spark.createDataFrame([
            Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12),
                avg_fare=50.0),
        ]), vt, mode="append",
    )

    fs = FeatureStore(str(tmp_path / "repo"), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="drv", entities=["driver"],
            features=[Feature("avg_fare", "DOUBLE")],
            source=FileSource(path=vt, file_format="versioned",
                              timestamp_field="event_timestamp"),
            ttl=dt.timedelta(days=2),
        ),
    ])
    entity_df = spark.createDataFrame(
        [Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 13))]
    )

    def fare(**kw):
        return fs.get_historical_features(
            entity_df, ["drv:avg_fare"], **kw
        ).to_spark_df().collect()[0]["avg_fare"]

    assert fare() == 50.0                       # latest (v1)
    assert fare(as_of_version=0) == 10.0        # time travel
    assert fare(as_of_version={"drv": 0}) == 10.0
    # TIMESTAMP AS OF: an instant between the two commits reads v0
    from my_feast_spark.sources.versioned import _fs as _vfs
    from my_feast_spark.sources.versioned import _read_manifest

    jvm, vfs = _vfs(spark, vt)
    t_mid = (_read_manifest(jvm, vfs, vt, 0)["committed_at"]
             + _read_manifest(jvm, vfs, vt, 1)["committed_at"]) / 2
    assert fare(as_of_timestamp=t_mid) == 10.0
    with pytest.raises(ValueError, match="not both"):
        fare(as_of_version=0, as_of_timestamp=t_mid)
    # a dict naming a view not in the call is a typo that would
    # silently read mutable latest — loud instead
    with pytest.raises(KeyError, match="not in this call"):
        fare(as_of_version={"other": 0})
    with pytest.raises(KeyError, match="not in this call"):
        fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["drv"],
                       as_of_version={"othre": 0})

    # registry round-trip preserves a SOURCE-LEVEL pin: the view is
    # frozen at v0 for every consumer until re-applied
    fv = fs.get_feature_view("drv")
    fv.source.version = 0
    fs.apply([fv])
    fs2 = FeatureStore(str(tmp_path / "repo"), spark=spark)
    assert fs2.get_feature_view("drv").source.version == 0
    assert fs2.get_historical_features(
        entity_df, ["drv:avg_fare"]
    ).to_spark_df().collect()[0]["avg_fare"] == 10.0
    # call-site override still wins over the pin
    assert fs2.get_historical_features(
        entity_df, ["drv:avg_fare"], as_of_version=1
    ).to_spark_df().collect()[0]["avg_fare"] == 50.0

    # materialize as-of: the online snapshot serves v0's latest row
    fs2.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["drv"],
                    as_of_version=0)
    online = fs2.get_online_features([{"driver_id": "d1"}], ["drv:avg_fare"])
    assert online["avg_fare"] == [10.0]

    # version pinning a plain file source is loud
    gold = str(tmp_path / "plain")
    spark.createDataFrame(
        [Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10),
             avg_fare=1.0)]
    ).write.parquet(gold)
    fs2.apply([FeatureView(
        name="plain_v", entities=["driver"],
        features=[Feature("avg_fare", "DOUBLE")],
        source=FileSource(path=gold, timestamp_field="event_timestamp"),
    )])
    with pytest.raises(ValueError, match="version pinning requires"):
        fs2.get_historical_features(
            entity_df, ["plain_v:avg_fare"], as_of_version=0
        ).to_spark_df().collect()
