"""Tests of the benchmark's own parts: the seeded generator and the
status-store collector.  Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.collect import Tracer, _union_ms, metric_value  # noqa: E402


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    make = gen.GENERATORS[workload]
    a, b, c = (str(tmp_path / n) for n in "abc")
    make(a, 7), make(b, 7), make(c, 8)
    files = _files(a)
    assert files and files == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch == files


def test_reported_sizes_match_files(tmp_path):
    t = gen.training_set(str(tmp_path / "t"), 3)
    assert pq.read_metadata(t.view_a).num_rows == t.sizes["view_a_rows"]
    assert pq.read_metadata(t.view_b).num_rows == t.sizes["view_b_rows"]
    assert pq.read_metadata(t.probes).num_rows == t.sizes["probe_rows"]
    assert t.sizes["view_b_dup_rows"] > 0
    o = gen.online_serving(str(tmp_path / "o"), 3)
    assert pq.read_metadata(o.history).num_rows == o.sizes["history_rows"]
    assert len(o.expected) == o.sizes["entities"]
    n = gen.neardup_ingest(str(tmp_path / "n"), 3)
    rows = [pq.read_metadata(p).num_rows for p in n.batches]
    assert rows == n.docs_per_batch and sum(rows) == n.sizes["docs"]
    assert len(n.copies) == n.sizes["planted_copies"]
    assert not n.copies & n.originals


def test_metric_value_parses_status_store_text():
    assert metric_value("1,204") == 1204
    assert metric_value("5.8 KiB") == pytest.approx(5.8 * 1024)
    assert metric_value("total (min, med, max (stageId: taskId))\n"
                        "2.0 MiB (0.0 B, 1.0 MiB, 1.0 MiB (stage 3.0: task 7))") == 2 * 2**20


def test_union_of_overlapping_job_intervals():
    assert _union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert _union_ms([]) == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from my_feast_spark import get_session

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = get_session(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                    extra_confs={"spark.driver.memory": "1g",
                                 "spark.local.dir": tmp,
                                 "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_known_two_job_call_reports_two_jobs(spark):
    tracer = Tracer(True)
    tracer.attach(spark)
    spark.range(5).collect()  # outside every span: not counted
    with tracer.span("two.jobs") as sp:
        spark.range(10).collect()
        spark.range(20).collect()
    layer = tracer.spark_layer(sp)
    assert layer["jobs"] == 2
    assert layer["stages"] == 2
    assert layer["tasks"] == 4  # two partitions per job at local[2]
    assert 0 <= layer["job_s"] <= sp.seconds + 0.05
    # the group is cleared after the span: later jobs are not attributed
    spark.range(5).collect()
    assert tracer.spark_layer(sp)["jobs"] == 2
    assert sp.counts["jobs"] == 2


def test_disabled_tracer_records_nothing(spark):
    tracer = Tracer(False)
    tracer.attach(spark)
    with tracer.span("plain") as sp:
        spark.range(3).collect()
    assert sp.seconds > 0 and tracer.spans == []
