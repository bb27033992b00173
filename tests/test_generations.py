"""The generation commit (sources/generations.py) every ``<key>=N``
store shares: one crash matrix of store x crash point (the online
store's rows read every entity through ``get_online_features``, so a
lookup at each crash point serves the pre- or post-write value, never
None; an IVF-PQ rebuild serves every published vector under the old
or the new quantizers), the heal log, model reads that start no job,
and the rule that a root this engine did not lay out fails loudly and
is left as it was."""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from my_feast_spark.operators.sketches import cms_build, kmv_sketch
from my_feast_spark.sources.generations import committed, heal, publish
from my_feast_spark.streaming.ingest import compact_index
from my_feast_spark.streaming.sketches import (
    compact_cms,
    read_cms_sketch,
    read_hll_sketch,
    read_kmv_sketch,
)


def _values(spark, n):
    """Generation ``n``'s input: 5 values of its own plus one every
    generation shares, so folds meet duplicates."""
    return spark.createDataFrame(
        [(f"v{n}-{i}",) for i in range(5)] + [("shared",)], "v string"
    )


class _SetStore:
    """A set-semantics store: KMV sketch generations, folded by the
    dropDuplicates fold ``compact_index``."""

    key = "batch_id"

    def __init__(self, spark, root):
        self.spark, self.root = spark, root

    def publish(self, n):
        publish(
            self.root, self.key, n,
            kmv_sketch(_values(self.spark, n), "v", 1000).write.parquet,
        )

    def fold(self):
        compact_index(self.spark, self.root)

    def read(self):
        return sorted(
            r.h for r in read_kmv_sketch(self.spark, self.root, k=1000)
            .collect()
        )


class _SumStore(_SetStore):
    """A sum-semantics store: count-min generations, folded by the sum
    fold ``compact_cms``."""

    def publish(self, n):
        publish(
            self.root, self.key, n,
            cms_build(_values(self.spark, n), "v", d=2, w=64).write.parquet,
        )

    def fold(self):
        compact_cms(self.spark, self.root)

    def read(self):
        return sorted(
            (r.r, r.c, r.cnt)
            for r in read_cms_sketch(self.spark, self.root).collect()
        )


class _AppendStore:
    """An append-only store: IVF-PQ generations (the build, a fold at
    -1, then ``ivfpq_append`` at n), never folded again."""

    key = "append_id"

    def __init__(self, spark, path):
        self.spark, self.path = spark, path
        self.root = os.path.join(path, "cells")

    def _vectors(self, n):
        return self.spark.range(n * 20, n * 20 + 20).select(
            F.col("id").alias("corpus_id"),
            F.array(*[
                F.sin(F.col("id") * (j + 1)).cast("double") for j in range(4)
            ]).alias("embedding"),
        )

    def publish(self, n):
        from my_feast_spark.operators.pq import (
            ivfpq_append,
            ivfpq_build,
            write_ivfpq_index,
        )

        if n == 0:
            enc, model = ivfpq_build(
                self._vectors(0), m=2, k_codes=4, num_centroids=4
            )
            write_ivfpq_index(enc, model, self.path)
        else:
            ivfpq_append(self.spark, self.path, self._vectors(n), append_id=n)

    def read(self):
        from my_feast_spark.operators.pq import read_ivfpq_index

        enc, _ = read_ivfpq_index(self.spark, self.path)
        return sorted(tuple(r) for r in enc.collect())


class _RebuildStore(_AppendStore):
    """IVF-PQ with the rebuild as the fold: ``write_ivfpq_index`` over
    every vector published so far. A rebuild re-encodes every vector,
    so the read is the served ids plus the centroid count."""

    def publish(self, n):
        super().publish(n)
        self.top = n

    def fold(self):
        from my_feast_spark.operators.pq import ivfpq_build, write_ivfpq_index

        corpus = self._vectors(0)
        for n in range(1, self.top + 1):
            corpus = corpus.unionByName(self._vectors(n))
        enc, model = ivfpq_build(corpus, m=2, k_codes=4, num_centroids=4)
        write_ivfpq_index(enc, model, self.path)

    def read(self):
        from my_feast_spark.operators.pq import read_ivfpq_index

        enc, model = read_ivfpq_index(self.spark, self.path)
        ids = sorted(r.corpus_id for r in enc.select("corpus_id").collect())
        return ids, len(model["centroids"])


class _OnlineStore:
    """The online store of a feature view: generation n is a streamed
    micro-batch's delta (``streaming.online._merge``), the fold is the
    stream's delta fold; the read is a lookup of every entity."""

    key = "gen"
    keys = [f"k{i}" for i in range(5)] + ["shared"]

    def __init__(self, spark, path):
        from my_feast_spark.core import (
            Entity, Feature, FeatureStore, FeatureView, FileSource,
        )

        self.spark, self.src = spark, os.path.join(path, "src")
        self.fs = FeatureStore(os.path.join(path, "repo"), spark=spark)
        self.fs.apply([
            Entity(name="e", value_type="STRING", join_keys=["k"]),
            FeatureView(
                name="v", entities=["e"], features=[Feature("x", "DOUBLE")],
                source=FileSource(path=self.src, timestamp_field="ts",
                                  created_timestamp_column="created"),
            ),
        ])
        self.root = self.fs._online_path("v")

    def publish(self, n):
        """Entities k<n>, k<n+1> and "shared" at hour n, value n."""
        from my_feast_spark.streaming.online import _merge

        ts = dt.datetime(2024, 1, 1, n)
        rows = self.spark.createDataFrame(
            [(k, ts, ts, float(n)) for k in (f"k{n}", f"k{n + 1}", "shared")],
            "k string, ts timestamp, created timestamp, x double",
        )
        rows.write.mode("append").parquet(self.src)
        _merge(self.fs, "v", rows)

    def fold(self):
        from my_feast_spark.streaming.online import _fold

        _fold(self.fs, "v")

    def read(self):
        return self.fs.get_online_features(
            [{"k": k} for k in self.keys], ["v:x"]
        )["x"]


class _MaterializeStore(_OnlineStore):
    """The online store with batch ``materialize`` as the fold: a full
    replace from the source, which holds every published row."""

    def fold(self):
        self.fs.materialize(
            dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), ["v"]
        )


STORES = {"set": _SetStore, "sum": _SumStore, "append": _AppendStore,
          "rebuild": _RebuildStore, "online": _OnlineStore,
          "materialize": _MaterializeStore}

#: crash point -> (generation-store step that dies, calls it completes)
CRASH = {
    "publish_before_marker": ("_mark", 0),
    "fold_before_marker": ("_mark", 0),
    "fold_before_deletes": ("_remove", 0),
    "fold_mid_deletes": ("_remove", 2),
}

CASES = [
    (store, point)
    for store in ("set", "sum", "online")
    for point in CRASH
] + [("append", "publish_before_marker")] + [
    (store, point)
    for store in ("rebuild", "materialize")
    for point in CRASH if point.startswith("fold")
]


def _on_disk(root, key):
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(root)
        if d.startswith(f"{key}=")
    )


@pytest.mark.parametrize("store,point", CASES)
def test_crash_matrix(spark, tmp_path, generation_crash, store, point):
    """At every crash point the read equals the uncrashed read (for a
    torn publish: the read without that generation), and the store's
    recovery — the same-id retry, then heal and fold — converges to the
    uncrashed read with no generation left on disk beyond the committed
    ones."""
    st = STORES[store](spark, str(tmp_path / "crashed"))
    twin = STORES[store](spark, str(tmp_path / "uncrashed"))
    for n in range(4):
        twin.publish(n)
    want = twin.read()
    assert None not in want
    for n in range(3):
        st.publish(n)
    step, k = CRASH[point]
    if point == "publish_before_marker":
        before = st.read()
        with generation_crash(step, k):
            st.publish(3)
        assert 3 in _on_disk(st.root, st.key)
        assert st.read() == before  # the torn generation is invisible
        st.publish(3)  # the same-id retry
        assert st.read() == want
    else:
        st.publish(3)
        with generation_crash(step, k):
            st.fold()
        assert st.read() == want
        torn = min(_on_disk(st.root, st.key))
        healed = heal(st.root, st.key)
        if point == "fold_before_marker":
            assert healed == [torn]  # the fold, torn before its marker
        else:
            assert len(healed) == 4 - k  # the sources the crash left
        assert st.read() == want
    if store != "append":
        st.fold()
        assert st.read() == want
        assert len(committed(st.root, st.key)) == 1
    assert heal(st.root, st.key) == []
    assert _on_disk(st.root, st.key) == [
        n for n, _ in committed(st.root, st.key)
    ]


def _jobs(spark, fn) -> int:
    """The Spark jobs ``fn()`` starts, read from the status tracker
    under a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_model_reads_start_no_job(spark, tmp_path):
    """A persisted model's read takes its scalars from the fold's
    ``_model.json`` and scans its rows with the stored schema, so
    ``read_ivfpq_index`` and ``read_dsir_model`` start no Spark job."""
    from my_feast_spark.operators.dsir import (
        fit_dsir,
        read_dsir_model,
        write_dsir_model,
    )
    from my_feast_spark.operators.pq import read_ivfpq_index

    ivf = _AppendStore(spark, str(tmp_path / "ivf"))
    ivf.publish(0)
    ivf.publish(1)
    assert _jobs(spark, lambda: read_ivfpq_index(spark, ivf.path)) == 0

    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "spam spam fox")],
        "doc_id long, text string",
    )
    model = fit_dsir(docs.limit(1), docs, num_buckets=64)
    write_dsir_model(model, str(tmp_path / "dsir"))
    for c in model.ratio._owned_caches:
        c.unpersist(blocking=True)
    assert _jobs(
        spark, lambda: read_dsir_model(spark, str(tmp_path / "dsir"))
    ) == 0


def test_heal_logs_each_deletion(spark, tmp_path, generation_crash, caplog):
    """Every deletion a heal makes is one WARNING record on the
    ``my_feast_spark`` logger naming the root, the generation id and
    the reason."""
    st = _SumStore(spark, str(tmp_path / "cms"))
    for n in range(2):
        st.publish(n)
    with generation_crash("_remove", 0):
        st.fold()  # fold -1 committed, sources 0 and 1 left behind
    st.publish(2)
    with generation_crash("_mark", 0):
        st.fold()  # heals 0 and 1, then tears fold -2
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="my_feast_spark"):
        assert heal(st.root, "batch_id") == [-2]
    (rec,) = [r for r in caplog.records if r.name == "my_feast_spark"]
    assert rec.levelno == logging.WARNING
    msg = rec.getMessage()
    assert st.root in msg and "batch_id=-2" in msg and "torn fold" in msg

    caplog.clear()
    with generation_crash("_remove", 0):
        st.fold()  # fold -2 over -1 and 2, committed, sources left
    with caplog.at_level(logging.WARNING, logger="my_feast_spark"):
        assert heal(st.root, "batch_id") == [2, -1]
    msgs = [r.getMessage() for r in caplog.records
            if r.name == "my_feast_spark"]
    assert len(msgs) == 2
    for gen, msg in zip((2, -1), msgs):
        assert st.root in msg and f"batch_id={gen}," in msg
        assert "absorbed by fold -2" in msg


def test_publish_refuses_a_folded_id(spark, tmp_path):
    """A folded id stays absorbed, so publishing it again — a stream
    restarted on a fresh checkpoint over a folded root — raises instead
    of writing a generation no read would see."""
    st = _SetStore(spark, str(tmp_path / "kmv"))
    for n in range(3):
        st.publish(n)
    st.fold()
    want = st.read()
    with pytest.raises(ValueError, match="batch_id=1 .* was folded"):
        st.publish(1)
    assert st.read() == want
    st.publish(3)  # a fresh id still publishes
    assert [n for n, _ in committed(st.root, st.key)] == [-1, 3]


def _files(root):
    return sorted(
        (os.path.relpath(os.path.join(d, f), root),
         os.path.getsize(os.path.join(d, f)))
        for d, _, fs in os.walk(root) for f in fs
    )


def _old_ingest(spark, tmp):
    """An exact-ingest index: its layout marker, one unmarked
    generation; the start raises."""
    from my_feast_spark.streaming import dedup_ingest_stream

    idx = os.path.join(tmp, "index")
    spark.createDataFrame([("f1",)], "fingerprint string").write.parquet(
        os.path.join(idx, "batch_id=0")
    )
    with open(os.path.join(idx, "_mfs_index_meta.json"), "w") as f:
        json.dump({"kind": "exact_fingerprint", "index_buckets": None}, f)
    in_dir = os.path.join(tmp, "in")
    spark.createDataFrame([Row(doc_id=1, text="t")]).write.parquet(in_dir)

    def start():
        dedup_ingest_stream(
            spark.readStream.schema("doc_id long, text string").parquet(
                in_dir
            ),
            out_path=os.path.join(tmp, "out"), index_path=idx,
            checkpoint=os.path.join(tmp, "ck"), available_now=True,
        )

    return idx, start


def _old_hll(spark, tmp):
    """HLL registers in one unmarked generation; the read raises."""
    sk = os.path.join(tmp, "hll")
    spark.createDataFrame(
        [("a", 1, 2)], "g string, bucket int, rho int"
    ).write.parquet(os.path.join(sk, "batch_id=0"))
    return sk, lambda: read_hll_sketch(spark, sk, group_cols=["g"])


def _old_cms(spark, tmp):
    """CMS counters in one generation vouched for by Spark's _SUCCESS
    only; the read raises."""
    sk = os.path.join(tmp, "cms")
    cms_build(_values(spark, 0), "v", d=2, w=64).write.parquet(
        os.path.join(sk, "batch_id=0")
    )
    assert os.path.exists(os.path.join(sk, "batch_id=0", "_SUCCESS"))
    return sk, lambda: read_cms_sketch(spark, sk)


def _old_scd2(spark, tmp):
    """An SCD2 event log with one unmarked __kb-partitioned
    generation; the start raises."""
    from my_feast_spark.streaming import scd2_maintain_stream

    ev = os.path.join(tmp, "events")
    schema = "user_id long, ts timestamp, event_id long, state string"
    rows = spark.createDataFrame(
        [(1, None, 0, "a")], schema
    ).withColumn("__kb", F.lit(1))
    rows.write.partitionBy("__kb").parquet(os.path.join(ev, "batch_id=0"))
    in_dir = os.path.join(tmp, "in")
    spark.createDataFrame([(2, None, 1, "b")], schema).write.parquet(in_dir)

    def start():
        scd2_maintain_stream(
            spark.readStream.schema(schema).parquet(in_dir),
            events_path=ev, intervals_path=os.path.join(tmp, "iv"),
            checkpoint=os.path.join(tmp, "ck"), keys=["user_id"],
            ts_col="ts", state_col="state", n_buckets=4,
            available_now=True,
        )

    return ev, start


@pytest.mark.parametrize(
    "build", [_old_ingest, _old_hll, _old_cms, _old_scd2],
    ids=["ingest", "hll", "cms", "scd2"],
)
def test_root_without_marker_fails_loudly(spark, tmp_path, build):
    """Generation roots in the layout that predates the root marker
    (generation directories, no markers) are refused: the stream start
    or the read raises ValueError, and no file under the root
    changes."""
    root, use = build(spark, str(tmp_path))
    before = _files(root)
    assert any(f.endswith(".parquet") for f, _ in before)
    with pytest.raises(ValueError, match="no _GENERATIONS root marker"):
        use()
    assert _files(root) == before
