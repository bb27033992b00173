"""Job labels: which engine phase ran a Spark job.

:func:`op_scope` sets ``spark.job.description`` for the jobs its block
starts and restores the caller's description afterwards, so the Spark
UI, the status store and the event log name the phase of every job. It
never sets the job group: callers (a stream's ``runId``, a benchmark's
per-call group) attribute jobs by group, and the label must not take
that away.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import SparkSession


@contextlib.contextmanager
def op_scope(spark: SparkSession, name: str):
    """Describe the jobs the block starts as ``name``; the previous
    description (or none) is restored on exit, also on an exception."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
