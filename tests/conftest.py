from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_feast_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # 8 task slots keep concurrent tasks racing; 4 shuffle partitions
    # still split every shuffle while halving the per-partition tasks
    # and files that dominate a test's tiny jobs
    s = get_session(
        app_name="my_feast_spark-tests",
        master="local[8]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class SimulatedCrash(Exception):
    """Raised where a test kills a generation publish or fold mid-way."""


def lose_commit(checkpoint, batch_id):
    """Delete a stream checkpoint's commit entry for ``batch_id``, the
    state a crash between a batch's sink writes and its commit leaves:
    a restart on ``checkpoint`` runs that batch again."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        path = os.path.join(checkpoint, "commits", name)
        if os.path.exists(path):
            os.remove(path)


@pytest.fixture
def generation_crash():
    """``with generation_crash(step, k) as done:`` lets the generation
    store (``sources/generations.py``) run ``step`` — ``"_mark"``, the
    commit-marker write, or ``"_remove"``, a generation delete — ``k``
    times, then raises :class:`SimulatedCrash` at the next call, as a
    process dying there would; ``done`` lists the generation
    directories the ``k`` calls touched. The block must reach that
    call."""
    import contextlib

    from my_feast_spark.sources import generations

    @contextlib.contextmanager
    def crash(step, k):
        real = getattr(generations, step)
        done = []

        def injected(*args, **kwargs):
            if len(done) == k:
                raise SimulatedCrash(f"crash after {k} x {step}")
            target = args[2] if step == "_mark" else args[1].getName()
            done.append(str(target).rsplit("/", 1)[-1])
            return real(*args, **kwargs)

        setattr(generations, step, injected)
        try:
            with pytest.raises(SimulatedCrash):
                yield done
        finally:
            setattr(generations, step, real)

    return crash
