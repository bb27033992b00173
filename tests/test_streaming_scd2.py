"""Streaming SCD2 maintenance: the maintained table must equal a batch
rebuild over all events seen so far — including after LATE events that
split existing intervals — while untouched key buckets' files are left
alone."""

from __future__ import annotations

import pytest

import datetime as dt
import os

from pyspark.sql import Row

from my_feast_spark.operators.aggregations import scd2_intervals
from my_feast_spark.streaming.scd2 import read_scd2_table, scd2_maintain_stream

TS = dt.datetime


def _run(spark, in_dir, ev, iv, ckpt):
    sdf = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long, state string"
    ).parquet(in_dir)
    q = scd2_maintain_stream(
        sdf, events_path=ev, intervals_path=iv, checkpoint=ckpt,
        keys=["user_id"], ts_col="ts", state_col="state",
        tie_breakers=["event_id"], n_buckets=4, available_now=True,
    )
    assert q.awaitTermination(120)


def _snapshot(spark, iv):
    return sorted(
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in read_scd2_table(spark, iv).collect()
    )


def _batch_rebuild(spark, rows):
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, state string"
    )
    return sorted(
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(
            df, ["user_id"], "ts", "state", tie_breakers=["event_id"]
        ).collect()
    )


def test_maintained_table_tracks_batch_rebuild(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ev, iv, ckpt = (str(tmp_path / d) for d in ("events", "intervals", "ck"))
    os.makedirs(in_dir)

    b1 = [(1, TS(2024, 1, 1, 10), 0, "a"), (1, TS(2024, 1, 1, 12), 1, "b"),
          (2, TS(2024, 1, 1, 11), 2, "x")]
    spark.createDataFrame(
        b1, "user_id long, ts timestamp, event_id long, state string"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    _run(spark, in_dir, ev, iv, ckpt)
    assert _snapshot(spark, iv) == _batch_rebuild(spark, b1)

    # batch 2: a LATE event for user 1 that splits interval (a: 10->12)
    # and a brand-new user 3; user 2 is untouched
    b2 = [(1, TS(2024, 1, 1, 11), 3, "c"), (3, TS(2024, 1, 1, 9), 4, "z")]
    spark.createDataFrame(
        b2, "user_id long, ts timestamp, event_id long, state string"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    _run(spark, in_dir, ev, iv, ckpt)
    want = _batch_rebuild(spark, b1 + b2)
    got = _snapshot(spark, iv)
    assert got == want
    # the late event really split the interval
    u1 = [t for t in got if t[0] == 1]
    assert [s for _, s, *_ in sorted(u1, key=lambda t: t[2])] == ["a", "c", "b"]


def test_replay_converges(spark, tmp_path):
    """Re-processing the same input with a fresh checkpoint (the crash
    replay shape) must leave the table identical, not duplicated."""
    in_dir = str(tmp_path / "in")
    ev, iv = str(tmp_path / "events"), str(tmp_path / "intervals")
    os.makedirs(in_dir)
    rows = [(1, TS(2024, 1, 1, 10), 0, "a"), (1, TS(2024, 1, 1, 11), 1, "b")]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, state string"
    ).coalesce(1).write.mode("append").parquet(in_dir)

    _run(spark, in_dir, ev, iv, str(tmp_path / "ck1"))
    first = _snapshot(spark, iv)
    _run(spark, in_dir, ev, iv, str(tmp_path / "ck2"))  # replay batch 0
    assert _snapshot(spark, iv) == first == _batch_rebuild(spark, rows)


@pytest.mark.slow  # 20-batch growth-bound probe (54s) — slow tier, see pytest.ini
def test_compact_every_bounds_log_growth_over_twenty_batches(spark, tmp_path):
    """Without compaction the event log gains one batch_id=N generation
    per micro-batch forever, like the dedup indexes. compact_every=5
    folds history in-stream: the generation count stays FLAT (one
    compacted gen + batches since the last fold), and the maintained
    table still equals the batch rebuild after every fold."""
    in_dir = str(tmp_path / "in")
    ev, iv, ckpt = (str(tmp_path / d) for d in ("events", "intervals", "ck"))
    os.makedirs(in_dir)

    def _gens():
        return sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(ev)
            if d.startswith("batch_id=")
        )

    def _files():
        n = 0
        for root, _dirs, files in os.walk(ev):
            n += sum(1 for f in files if not f.startswith((".", "_")))
        return n

    all_rows = []
    gen_counts, file_counts = [], []
    for b in range(20):
        rows = [
            (uid, TS(2024, 1, 1, 6 + (b * 3 + uid) % 12), b * 10 + uid,
             "s" + str((b + uid) % 3))
            for uid in range(5)
        ]
        all_rows += rows
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, state string"
        ).coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, state string"
        ).parquet(in_dir)
        q = scd2_maintain_stream(
            sdf, events_path=ev, intervals_path=iv, checkpoint=ckpt,
            keys=["user_id"], ts_col="ts", state_col="state",
            tie_breakers=["event_id"], n_buckets=4, available_now=True,
            compact_every=5,
        )
        assert q.awaitTermination(120)
        gen_counts.append(len(_gens()))
        file_counts.append(_files())

    # flat, not linear: never more generations than one compacted gen +
    # the batches since the last fold (compact runs on b%5==4 and
    # excludes the live batch, so the ceiling is 1 + 5)
    assert max(gen_counts) <= 6, gen_counts
    assert gen_counts[-1] <= 2, gen_counts  # b=19 just folded 15..18
    # file count flat too (the folded generation keeps __kb partitions)
    assert max(file_counts[10:]) <= max(file_counts[:10]), file_counts
    # and the maintained table is still exactly the batch rebuild
    # (null-safe sort: this corpus has same-key same-ts ties, so tuples
    # can agree up to valid_to where one side is the open interval)
    far = TS(9999, 1, 1)

    def _key(t):
        return tuple(far if v is None else v for v in t)

    got = sorted((
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in read_scd2_table(spark, iv).collect()
    ), key=_key)
    df = spark.createDataFrame(
        all_rows, "user_id long, ts timestamp, event_id long, state string"
    )
    want = sorted((
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(
            df, ["user_id"], "ts", "state", tie_breakers=["event_id"]
        ).collect()
    ), key=_key)
    assert got == want
    # __kb partition pruning still works on the compacted log
    one = spark.read.parquet(ev).where("__kb = 1")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "__kb" in plan
