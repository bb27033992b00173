"""Streaming materialization test: foreachBatch merge keeps the online
snapshot at latest-per-entity as new gold files arrive."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from my_feast_spark.core import Entity, Feature, FeatureStore, FeatureView, FileSource
from my_feast_spark.core.store import _online_layout
from my_feast_spark.sources.generations import committed
from my_feast_spark.streaming import materialize_stream, read_event_stream

TS = dt.datetime


@pytest.fixture()
def gold_dir(spark, tmp_path):
    d = str(tmp_path / "gold_stream")
    batch1 = spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10), avg_fare=10.0),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 10), avg_fare=7.0),
    ])
    batch1.write.mode("overwrite").parquet(d)
    return d


def test_materialize_stream_tracks_latest(spark, gold_dir, tmp_path):
    fs = FeatureStore(str(tmp_path / "repo"), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="driver_hourly",
            entities=["driver"],
            features=[Feature("avg_fare", "DOUBLE")],
            source=FileSource(path=gold_dir, timestamp_field="event_timestamp"),
        ),
    ])

    stream = read_event_stream(spark, gold_dir)
    q = materialize_stream(
        fs, "driver_hourly", stream,
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)

    out = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d2"}], ["driver_hourly:avg_fare"]
    )
    assert out["avg_fare"] == [10.0, 7.0]

    # a later capture file arrives: d1 advances, d3 appears
    spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12), avg_fare=12.5),
        Row(driver_id="d3", event_timestamp=TS(2024, 1, 1, 12), avg_fare=3.0),
    ]).write.mode("append").parquet(gold_dir)

    q2 = materialize_stream(
        fs, "driver_hourly", read_event_stream(spark, gold_dir),
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q2.awaitTermination(120)

    out = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d2"}, {"driver_id": "d3"}],
        ["driver_hourly:avg_fare"],
    )
    # d1 advanced to the newer hour; d2 unchanged (merge, not replace)
    assert out["avg_fare"] == [12.5, 7.0, 3.0]

    # an OLD row arriving late must not regress the snapshot
    spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 9), avg_fare=1.0),
    ]).write.mode("append").parquet(gold_dir)
    q3 = materialize_stream(
        fs, "driver_hourly", read_event_stream(spark, gold_dir),
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q3.awaitTermination(120)
    out = fs.get_online_features([{"driver_id": "d1"}], ["driver_hourly:avg_fare"])
    assert out["avg_fare"] == [12.5]

def test_batch_then_stream_materialize_preserves_entities(spark, tmp_path):
    """Regression: batch materialize writes the snapshot (WITH a created
    column on the view), then streaming materialization of a later capture
    must MERGE — entities absent from the micro-batch must survive. The
    old bare-except treated the schema mismatch as 'first batch' and
    silently dropped them."""
    gold = str(tmp_path / "gold")
    spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10),
            created=TS(2024, 1, 1, 10, 5), avg_fare=10.0),
        Row(driver_id="d2", event_timestamp=TS(2024, 1, 1, 10),
            created=TS(2024, 1, 1, 10, 5), avg_fare=7.0),
    ]).write.mode("overwrite").parquet(gold)

    fs = FeatureStore(str(tmp_path / "repo"), spark=spark)
    fs.apply([
        Entity(name="driver", value_type="STRING", join_keys=["driver_id"]),
        FeatureView(
            name="driver_hourly",
            entities=["driver"],
            features=[Feature("avg_fare", "DOUBLE")],
            source=FileSource(
                path=gold, timestamp_field="event_timestamp",
                created_timestamp_column="created",
            ),
        ),
    ])
    fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["driver_hourly"])
    out = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d2"}], ["driver_hourly:avg_fare"]
    )
    assert out["avg_fare"] == [10.0, 7.0]

    # new capture: only d1 advances — d2 must NOT vanish
    spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12),
            created=TS(2024, 1, 1, 12, 5), avg_fare=12.5),
    ]).write.mode("append").parquet(gold)
    q = materialize_stream(
        fs, "driver_hourly", read_event_stream(spark, gold),
        checkpoint=str(tmp_path / "ckpt2"), available_now=True,
    )
    q.awaitTermination(120)
    out = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d2"}], ["driver_hourly:avg_fare"]
    )
    assert out["avg_fare"] == [12.5, 7.0]


def test_streaming_merge_preserves_bucketed_layout(spark, tmp_path):
    """materialize_stream on a store configured with online_store.buckets
    publishes each micro-batch as a __pbucket-partitioned delta whose
    meta records the bucket count, and lookups stay correct."""
    import os

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from my_feast_spark.core import (
        Entity, Feature, FeatureStore, FeatureView, FileSource,
    )
    from my_feast_spark.streaming.online import materialize_stream

    TS = dt.datetime
    gold = str(tmp_path / "gold_sb")
    spark.createDataFrame([
        Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 9),
            created=TS(2024, 1, 1, 9), avg_fare=1.0),
    ]).write.parquet(gold)
    repo = tmp_path / "repo_sb"
    os.makedirs(repo)
    (repo / "feature_store.yaml").write_text(
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
    in_dir = str(tmp_path / "stream_in")
    os.makedirs(in_dir)
    ckpt = str(tmp_path / "ck_sb")

    def push(rows):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(
            in_dir
        )
        sdf = spark.readStream.schema(
            "driver_id string, event_timestamp timestamp, "
            "created timestamp, avg_fare double"
        ).parquet(in_dir)
        q = materialize_stream(fs, "v", sdf, checkpoint=ckpt,
                               available_now=True)
        assert q.awaitTermination(120)

    push([Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 10),
              created=TS(2024, 1, 1, 10), avg_fare=5.0),
          Row(driver_id="d7", event_timestamp=TS(2024, 1, 1, 10),
              created=TS(2024, 1, 1, 10), avg_fare=7.0)])
    push([Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 11),
              created=TS(2024, 1, 1, 11), avg_fare=9.0)])

    snap_dir = fs._online_path("v")
    gens = committed(snap_dir, "gen")
    assert len(gens) == 2
    for _, gdir in gens:
        assert all(
            d.startswith("__pbucket=") for d in os.listdir(gdir)
            if not d.startswith((".", "_"))
        )
    assert _online_layout(gens)[0] == 4
    got = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d7"}], ["v:avg_fare"]
    )
    assert got["avg_fare"] == [9.0, 7.0]

    # incremental merge: a batch touching ONLY d1's bucket publishes a
    # delta holding only that bucket, and rewrites no file of any
    # committed generation (per-batch cost is the batch, not the store)
    def gen_files():
        return {
            os.path.relpath(os.path.join(d, f), snap_dir):
                os.path.getmtime(os.path.join(d, f))
            for d, _, files in os.walk(snap_dir)
            for f in files if not f.startswith(".")
        }

    before = gen_files()
    push([Row(driver_id="d1", event_timestamp=TS(2024, 1, 1, 12),
              created=TS(2024, 1, 1, 12), avg_fare=11.0)])
    after = gen_files()
    # d1 and d7 must hash to different buckets for the assertion below
    import pyspark.sql.functions as F2
    pbs = {
        r.k: r.pb
        for r in spark.createDataFrame(
            [Row(k="d1"), Row(k="d7")]
        ).select(
            "k", F2.pmod(F2.xxhash64("k"), F2.lit(4)).alias("pb")
        ).collect()
    }
    assert pbs["d1"] != pbs["d7"], "fixture needs distinct buckets"
    assert {f: after[f] for f in before} == before, "committed file rewritten"
    (new, new_dir), = [g for g in committed(snap_dir, "gen") if g not in gens]
    assert new > max(n for n, _ in gens)
    assert sorted(
        d for d in os.listdir(new_dir) if d.startswith("__pbucket=")
    ) == [f"__pbucket={pbs['d1']}"]
    got = fs.get_online_features(
        [{"driver_id": "d1"}, {"driver_id": "d7"}], ["v:avg_fare"]
    )
    assert got["avg_fare"] == [11.0, 7.0]


def _keyed_store(spark, tmp_path, buckets):
    """A store with view ``v`` (entity key ``k``, feature ``x``) whose
    base holds x=0.0 for k0..k7 at hour 0."""
    import os

    src = str(tmp_path / "src")
    repo = tmp_path / "repo"
    os.makedirs(repo)
    (repo / "feature_store.yaml").write_text(
        f"project: p\nprovider: local\nonline_store:\n  buckets: {buckets}\n"
    )
    fs = FeatureStore(str(repo), spark=spark)
    fs.apply([
        Entity(name="e", value_type="STRING", join_keys=["k"]),
        FeatureView(
            name="v", entities=["e"], features=[Feature("x", "DOUBLE")],
            source=FileSource(path=src, timestamp_field="ts"),
        ),
    ])
    spark.createDataFrame(
        [(f"k{i}", TS(2024, 1, 1), 0.0) for i in range(8)],
        "k string, ts timestamp, x double",
    ).write.parquet(src)
    fs.materialize(TS(2024, 1, 1), TS(2024, 1, 2), ["v"])
    return fs


def _batch(spark, i):
    """Merge ``i``: every entity at minute ``i``, x = i."""
    return spark.createDataFrame(
        [(f"k{j}", TS(2024, 1, 1, 0, i), float(i)) for j in range(8)],
        "k string, ts timestamp, x double",
    )


def test_lookup_retries_on_generations_a_fold_replaced(spark, tmp_path):
    """A lookup whose listing a fold has since replaced (the sources it
    listed are deleted) runs again on the new listing and answers."""
    from my_feast_spark.streaming.online import _fold, _merge

    fs = _keyed_store(spark, tmp_path, 4)
    for i in (1, 2):
        _merge(fs, "v", _batch(spark, i))
    stale = fs._online_committed("v")
    assert len(stale) == 3
    _fold(fs, "v")
    assert len(fs._online_committed("v")) == 1
    keys = [(f"k{j}",) for j in range(8)]
    hits = fs._online_hits("v", stale, ["k"], ["ts"], ["x"], keys)
    assert hits == [(2.0,)] * 8


def test_lookups_racing_merges_never_miss_or_regress(spark, tmp_path):
    """Lookups on one thread while merges run on another, past a delta
    fold: a lookup never misses an existing key and never returns a
    value older than a merge that finished before it started."""
    import threading
    import time

    from my_feast_spark.streaming.online import FOLD_DELTAS, _merge

    fs = _keyed_store(spark, tmp_path, 4)
    merges = FOLD_DELTAS + 3
    finished = [0.0] * (merges + 1)  # finished[i]: when merge i returned
    errors = []

    def merge_all():
        try:
            for i in range(1, merges + 1):
                _merge(fs, "v", _batch(spark, i))
                finished[i] = time.monotonic()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    writer = threading.Thread(target=merge_all)
    writer.start()
    lookups = []
    rows = [{"k": f"k{j}"} for j in range(8)]
    while writer.is_alive() or not lookups:
        start = time.monotonic()
        floor = max(i for i in range(merges + 1) if finished[i] < start
                    and (i == 0 or finished[i] > 0))
        got = fs.get_online_features(rows, ["v:x"])["x"]
        lookups.append((floor, got))
    writer.join()
    assert not errors, errors
    assert len(lookups) >= 5
    for floor, got in lookups:
        assert None not in got
        assert min(got) >= floor, (floor, got)
    assert fs.get_online_features(rows, ["v:x"])["x"] == [float(merges)] * 8
    # one fold ran: the base and the deltas since
    assert len(fs._online_committed("v")) == merges - FOLD_DELTAS + 1
