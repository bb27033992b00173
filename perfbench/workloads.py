"""The two workloads: set-up, warm-up, one timed step, and its correctness checks.

Each workload drives the engine only through its public API and times
each call into a layer inside a ``Tracer.span`` named after that layer's
module.  An operation returns an ``Op``: its latency, the items it
served, whether its output was correct, and (traced) its per-layer
numbers.  Checks run after the timed call and are not part of it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

VIEW_A, VIEW_B, VIEW_ONLINE = "drv_hourly", "drv_events", "drv_online"


@dataclass
class Op:
    seconds: float
    items: int
    ok: bool
    layers: dict = field(default_factory=dict)
    kind: str = "op"


def _entity():
    from my_feast_spark import Entity

    return Entity(name="driver", value_type="INT64", join_keys=["driver_id"])


def _view(name, path, features, *, created=None, ttl=None):
    from my_feast_spark import Feature, FeatureView, FileSource

    return FeatureView(
        name=name, entities=["driver"],
        features=[Feature(f, "DOUBLE") for f in features],
        source=FileSource(path=path, timestamp_field="event_timestamp",
                          created_timestamp_column=created),
        ttl=ttl,
    )


def _open_store(spark, tracer, repo: str, views, yaml: str | None = None):
    from my_feast_spark import FeatureStore

    shutil.rmtree(repo, ignore_errors=True)
    os.makedirs(repo)
    if yaml:
        with open(os.path.join(repo, "feature_store.yaml"), "w") as fh:
            fh.write(yaml)
    fs = FeatureStore(repo, spark=spark)
    with tracer.span("core.registry.apply") as sp:
        fs.apply([_entity(), *views])
    return fs, sp.seconds


# --------------------------------------------------------------------------
# training_set
# --------------------------------------------------------------------------

# DuckDB replay of the PIT contract for the probes in table ``ids``:
# the latest feature row with ts <= probe ts (inclusive, ASOF >=); view A
# only within its 2-day TTL (inclusive); view B ties on ts broken by the
# greatest created; every probe kept (LEFT).
_PIT_SQL = """
WITH s AS (
    SELECT probe_id, driver_id, event_timestamp FROM read_parquet('{probes}')
    WHERE probe_id IN (SELECT id FROM ids)
), a AS (
    SELECT driver_id, event_timestamp AS a_ts, * EXCLUDE (driver_id, event_timestamp)
    FROM read_parquet('{view_a}')
), b AS (
    SELECT driver_id, event_timestamp AS b_ts, b0, b1 FROM read_parquet('{view_b}')
    QUALIFY row_number() OVER (
        PARTITION BY driver_id, event_timestamp ORDER BY created DESC) = 1
)
SELECT s.probe_id, s.driver_id, s.event_timestamp, {a_cols}, b.b0, b.b1
FROM s
ASOF LEFT JOIN a ON s.driver_id = a.driver_id AND s.event_timestamp >= a.a_ts
ASOF LEFT JOIN b ON s.driver_id = b.driver_id AND s.event_timestamp >= b.b_ts
"""
_A_TTL_COLS = ", ".join(
    f"CASE WHEN a.a_ts >= s.event_timestamp - INTERVAL 2 DAY THEN a.a{i} END"
    for i in range(8))

TRAIN_FEATURES = [f"a{i}" for i in range(8)] + ["b0", "b1"]
TRAIN_SAMPLE = 2_000


class TrainingSet:
    """PIT retrieval over two views, written to parquet; closed loop, one
    client."""

    name = "training_set"
    primary = "op"

    def __init__(self, inputs: gen.TrainInputs, work: str, seed: int):
        self.inp, self.work, self.seed = inputs, work, seed
        self.features = [f"{VIEW_A}:{f}" for f in TRAIN_FEATURES[:8]] + [
            f"{VIEW_B}:{f}" for f in TRAIN_FEATURES[8:]]
        self.rows = inputs.sizes["probe_rows"]
        self._n = 0

    def setup(self, spark, tracer) -> dict:
        self.spark = spark
        self.fs, apply_s = _open_store(spark, tracer, os.path.join(self.work, "repo"), [
            _view(VIEW_A, self.inp.view_a, TRAIN_FEATURES[:8], ttl=dt.timedelta(days=2)),
            _view(VIEW_B, self.inp.view_b, TRAIN_FEATURES[8:], created="created"),
        ])
        return {"core.registry.apply_s": apply_s}

    def step(self, tracer) -> list:
        return [self.op(tracer)]

    def op(self, tracer) -> Op:
        self._n += 1
        out = os.path.join(self.work, f"train-{self._n}")
        probes = self.spark.read.parquet(self.inp.probes)
        with tracer.span("plans.retrieval") as plan:
            job = self.fs.get_historical_features(probes, self.features)
        with tracer.span("operators.asof_join") as ex:
            job.to_spark_df().write.parquet(out)
        job.release()
        layers = {}
        if tracer.enabled:
            pl = tracer.spark_layer(plan)
            ax = tracer.spark_layer(ex, skew=True)
            layers = {"plans.retrieval.plan_s": plan.seconds,
                      "plans.retrieval.jobs": pl["jobs"],
                      "operators.asof_join.exec_s": ex.seconds}
            for k in ("jobs", "stages", "tasks", "driver_gap_s", "exec_run_s",
                      "exec_cpu_s", "gc_s", "shuffle_write_mb", "input_mb",
                      "spill_mb", "task_skew"):
                layers[f"operators.asof_join.{k}"] = ax[k]
        ok = self.check(out)
        shutil.rmtree(out, ignore_errors=True)
        return Op(plan.seconds + ex.seconds, self.rows, ok, layers)

    def check(self, out: str) -> bool:
        """Row count is left-preserving, and a seeded sample of probes
        matches the DuckDB replay column for column."""
        rng = np.random.default_rng([self.seed, self._n])
        ids = rng.choice(self.rows, size=TRAIN_SAMPLE, replace=False)
        con = duckdb.connect()
        try:
            con.register("ids", pa.table({"id": ids}))
            got_n = con.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
            want = con.sql(_PIT_SQL.format(
                probes=self.inp.probes, view_a=self.inp.view_a,
                view_b=self.inp.view_b, a_cols=_A_TTL_COLS)).fetchall()
            got = con.sql(
                f"SELECT probe_id, driver_id, event_timestamp, "
                f"{', '.join(TRAIN_FEATURES)} FROM read_parquet('{out}/*.parquet') "
                f"WHERE probe_id IN (SELECT id FROM ids)").fetchall()
        finally:
            con.close()
        return got_n == self.rows and sorted(got) == sorted(want)


# --------------------------------------------------------------------------
# online_serving
# --------------------------------------------------------------------------

ONLINE_YAML = "project: perfbench\nonline_store:\n  type: parquet\n  buckets: 8\n"


class OnlineServing:
    """Online lookups with Zipf keys on a bucketed snapshot; every
    ``merge_every`` lookups one ``materialize_stream`` micro-batch
    (AvailableNow) merges fresh rows for hot entities."""

    def __init__(self, inputs: gen.OnlineInputs, work: str, seed: int):
        self.inp, self.work = inputs, work
        self.features = [f"{VIEW_ONLINE}:{f}" for f in inputs.feature_names]

    def setup(self, spark, tracer) -> dict:
        from pyspark.sql import types as T

        self.spark = spark
        repo = os.path.join(self.work, "repo")
        self.fs, apply_s = _open_store(spark, tracer, repo, [
            _view(VIEW_ONLINE, self.inp.history, self.inp.feature_names,
                  created="created")], ONLINE_YAML)
        start = dt.datetime.fromtimestamp(self.inp.start, dt.timezone.utc)
        end = dt.datetime.fromtimestamp(self.inp.end, dt.timezone.utc)
        with tracer.span("core.store.materialize") as mat:
            self.fs.materialize(start, end, [VIEW_ONLINE])
        layers = {"core.registry.apply_s": apply_s,
                  "core.store.materialize_s": mat.seconds}
        if tracer.enabled:
            m = tracer.spark_layer(mat)
            layers["core.store.materialize_jobs"] = m["jobs"]
            layers["core.store.materialize_output_mb"] = m["output_mb"]
        self.snapshot = self.fs._online_path(VIEW_ONLINE)
        self.src = os.path.join(self.work, "stream_src")
        self.checkpoint = os.path.join(self.work, "stream_ck")
        for d in (self.src, self.checkpoint):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        self.schema = T.StructType(
            [T.StructField("driver_id", T.LongType()),
             T.StructField("event_timestamp", T.TimestampType()),
             T.StructField("created", T.TimestampType())]
            + [T.StructField(f, T.DoubleType()) for f in self.inp.feature_names])
        self.expected = dict(self.inp.expected)
        self._lookups = self._merges = 0
        return layers

    def step(self, tracer) -> list:
        """One merge, then ``merge_every`` lookups: every step serves the
        same mix, so lookups per second do not depend on where the run's
        deadline falls."""
        return [self.merge(tracer)] + [
            self.op(tracer) for _ in range(gen.ONLINE["merge_every"])]

    def op(self, tracer) -> Op:
        keys = self.inp.requests[self._lookups % len(self.inp.requests)]
        self._lookups += 1
        rows = [{"driver_id": int(k)} for k in keys]
        with tracer.span("core.store.lookup") as sp:
            res = self.fs.get_online_features(rows, self.features)
        layers = {}
        if tracer.enabled:
            lk = tracer.spark_layer(sp, scans=True)
            snap = [s for s in lk["scans"] if self.inp.feature_names[0] in s["schema"]]
            layers = {
                "core.store.lookup_jobs": lk["jobs"],
                "core.store.lookup_tasks": lk["tasks"],
                "core.store.lookup_job_ms": lk["job_s"] * 1e3,
                "core.store.lookup_driver_gap_ms": lk["driver_gap_s"] * 1e3,
                "core.store.lookup_files_read": sum(
                    s.get("number of files read", 0) for s in snap),
                "core.store.lookup_rows_scanned_per_key": sum(
                    s.get("number of output rows", 0) for s in snap) / len(keys),
            }
        got = list(zip(*(res[f] for f in self.inp.feature_names)))
        want = [self.expected[int(k)] for k in keys]
        ok = res["driver_id"] == [int(k) for k in keys] and got == want
        return Op(sp.seconds, 1, ok, layers, kind="lookup")

    def _bucket_files(self) -> dict:
        out = {}
        for d in sorted(os.listdir(self.snapshot)):
            if d.startswith("__pbucket="):
                out[d] = sorted(os.listdir(os.path.join(self.snapshot, d)))
        return out

    def merge(self, tracer) -> Op:
        from my_feast_spark.streaming.online import materialize_stream

        # never wraps: an old merge replayed later would not be the latest row
        table = self.inp.merges[self._merges]
        self._merges += 1
        before = self._bucket_files() if tracer.enabled else None
        pq.write_table(table, os.path.join(self.src, f"merge-{self._merges:05d}.parquet"))
        stream = self.spark.readStream.schema(self.schema).parquet(self.src)
        with tracer.span("streaming.online.merge") as sp:
            q = materialize_stream(self.fs, VIEW_ONLINE, stream,
                                   checkpoint=self.checkpoint, available_now=True)
            q.awaitTermination()
        layers = {}
        if tracer.enabled:
            prog = q.lastProgress
            dur = prog["durationMs"]
            st = tracer.spark_layer(sp, str(q.runId))
            after = self._bucket_files()
            layers = {
                "streaming.online.merge_ms": sp.seconds * 1e3,
                "streaming.online.add_batch_ms": dur.get("addBatch", 0),
                "streaming.online.commit_ms": dur.get("walCommit", 0) + dur.get("commitOffsets", 0),
                "streaming.online.planning_ms": dur.get("queryPlanning", 0) + dur.get("getBatch", 0),
                "streaming.online.jobs_per_batch": st["jobs"],
                "streaming.online.buckets_rewritten": sum(
                    before.get(b) != f for b, f in after.items()),
                "streaming.online.bytes_written_per_row": st["output_mb"] * 2**20 / table.num_rows,
            }
        ok = q.exception() is None
        if ok:
            for k, feats in zip(table.column("driver_id").to_pylist(),
                                zip(*(table.column(f).to_pylist() for f in self.inp.feature_names))):
                self.expected[k] = feats
        return Op(sp.seconds, table.num_rows, ok, layers, kind="merge")


# --------------------------------------------------------------------------
# neardup_ingest
# --------------------------------------------------------------------------


class NeardupIngest:
    """Near-duplicate streaming ingest over seeded micro-batches, one
    micro-batch in flight: each op adds the next batch file and runs the
    stream with AvailableNow on the same checkpoint.  The warm-up step
    ingests batch 0 into a fresh index, so every timed op probes an index
    that already holds earlier batches and has cross-batch copies to
    drop.  A step is one op."""

    def __init__(self, inputs: gen.NeardupInputs, work: str, seed: int):
        self.inp, self.work = inputs, work
        self._round = 0
        self._batch = 0
        self.batch_ids = [
            set(pq.read_table(p, columns=["doc_id"]).column(0).to_pylist())
            for p in inputs.batches
        ]

    def setup(self, spark, tracer) -> dict:
        from pyspark.sql import types as T

        self.spark = spark
        self.schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())])
        self._batch = 0
        return {}

    def step(self, tracer) -> list:
        return [self.op(tracer)]

    def op(self, tracer) -> Op:
        from my_feast_spark.streaming.ingest import near_dedup_ingest_stream

        b = self._batch
        if b == 0:
            if self._round:
                shutil.rmtree(self.root, ignore_errors=True)
            self._round += 1
            self.root = os.path.join(self.work, f"round-{self._round}")
            shutil.rmtree(self.root, ignore_errors=True)
            os.makedirs(os.path.join(self.root, "src"))
        self._batch = (b + 1) % len(self.inp.batches)
        shutil.copyfile(self.inp.batches[b], os.path.join(
            self.root, "src", os.path.basename(self.inp.batches[b])))
        out = os.path.join(self.root, "out")
        stream = self.spark.readStream.schema(self.schema).parquet(
            os.path.join(self.root, "src"))
        with tracer.span("streaming.ingest.batch") as sp:
            q = near_dedup_ingest_stream(
                stream, out_path=out, index_path=os.path.join(self.root, "index"),
                checkpoint=os.path.join(self.root, "ck"), index_buckets=8,
                available_now=True)
            q.awaitTermination()
        docs = self.inp.docs_per_batch[b]
        accepted = self._accepted(out, q.lastProgress["batchId"])
        layers = {}
        if tracer.enabled:
            dur = q.lastProgress["durationMs"]
            st = tracer.spark_layer(sp, str(q.runId), scans=True)
            index = [s for s in st["scans"] if "bsig" in s["schema"] or "sig:array" in s["schema"]]
            layers = {
                "streaming.ingest.add_batch_ms": dur.get("addBatch", 0),
                "streaming.ingest.commit_ms": dur.get("walCommit", 0) + dur.get("commitOffsets", 0),
                "streaming.ingest.jobs_per_batch": st["jobs"],
                "streaming.ingest.stages_per_batch": st["stages"],
                "streaming.ingest.single_task_stages": st["single_task_stages"],
                "streaming.ingest.driver_gap_s": st["driver_gap_s"],
                "streaming.ingest.exec_run_s": st["exec_run_s"],
                "streaming.ingest.exec_cpu_s": st["exec_cpu_s"],
                "streaming.ingest.python_gap_s": st["exec_run_s"] - st["exec_cpu_s"],
                "streaming.ingest.shuffle_write_mb": st["shuffle_write_mb"],
                "streaming.ingest.index_read_mb": sum(
                    s.get("size of files read", 0) for s in index) / 2**20,
                "streaming.ingest.index_files": sum(
                    s.get("number of files read", 0) for s in index),
                "streaming.ingest.accept_ratio": len(accepted) / docs,
            }
        ok = q.exception() is None and self._check(b, accepted)
        return Op(sp.seconds, docs, ok, layers, kind="batch")

    @staticmethod
    def _accepted(out: str, batch_id: int) -> list:
        path = os.path.join(out, f"batch_id={batch_id}")
        if not os.path.isdir(path):
            return []
        return pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()

    def _check(self, b: int, accepted: list) -> bool:
        """No doc accepted twice; accepted + dropped = docs in; every
        planted copy dropped and every original accepted."""
        ids = self.batch_ids[b]
        acc = set(accepted)
        dropped = ids - acc
        return (len(acc) == len(accepted) and acc <= ids
                and len(acc) + len(dropped) == len(ids)
                and acc == ids & self.inp.originals
                and dropped == ids & self.inp.copies)


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


class Streaming:
    """Online serving beside two stream writers, closed loop, one client.
    A step is one ``materialize_stream`` merge, ``merge_every`` lookups
    that must see it, and one near-dup ingest micro-batch; an op is one
    lookup, and lookups per second count the whole step's time, so a
    slower merge or ingest shows there too."""

    name = "streaming"
    primary = "lookup"

    def __init__(self, inputs: gen.StreamingInputs, work: str, seed: int):
        self.inp = inputs
        self.online = OnlineServing(inputs.online, os.path.join(work, "online"), seed)
        self.ingest = NeardupIngest(inputs.neardup, os.path.join(work, "ingest"), seed)

    def setup(self, spark, tracer) -> dict:
        return {**self.online.setup(spark, tracer), **self.ingest.setup(spark, tracer)}

    def step(self, tracer) -> list:
        return self.online.step(tracer) + self.ingest.step(tracer)


WORKLOADS = {w.name: w for w in (TrainingSet, Streaming)}
