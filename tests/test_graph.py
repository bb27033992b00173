"""Connected components: driver union-find shortcut and two-phase star
contraction.

Tiny materialized pair graphs resolve in a driver-side union-find
(bounded, deterministic); the distributed star loop is forced here by
patching the driver bound ``_DRIVER_CC_MAX_EDGES`` to 0. Non-convergence
must RAISE, never silently return partial labels (a wrong clustering
merges/splits dedup groups undetectably).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from my_feast_spark.operators import graph
from my_feast_spark.operators.graph import connected_components

MIXED = [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22),
         (22, 23), (23, 24), (5, 40)]


def _edges(spark, pairs):
    return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])


def _labels(df):
    return {r.id: r.cluster_id for r in df.collect()}


def _force_star(monkeypatch):
    """Route every graph, however small, to the distributed star loop."""
    monkeypatch.setattr(graph, "_DRIVER_CC_MAX_EDGES", 0)


def _both_paths(monkeypatch):
    """Yield once under the default bound (driver union-find), then
    once with the bound patched to 0 (forced star)."""
    yield "union-find"
    _force_star(monkeypatch)
    yield "star"


def test_union_find_and_star_agree_on_mixed_components(spark, monkeypatch):
    e = _edges(spark, MIXED)
    fast = _labels(connected_components(e))  # driver union-find (default)
    _force_star(monkeypatch)
    star = _labels(connected_components(e))
    assert fast == star
    assert fast[3] == 1 and fast[24] == 20 and fast[40] == 5


def test_long_chain_star_converges_and_exhausted_budget_raises(
    spark, monkeypatch
):
    # 60-vertex chain: diameter 59 > default max_iter=25, yet the star
    # loop's round count is diameter-free — it converges within budget
    chain = [(i, i + 1) for i in range(59)]
    e = _edges(spark, chain)
    # the driver shortcut resolves the same chain instantly
    fast = _labels(connected_components(e))
    _force_star(monkeypatch)
    star = _labels(connected_components(e))
    assert set(star.values()) == {0}
    assert len(star) == 60
    assert fast == star
    # a budget too small for the fixpoint must raise, not return
    # partial labels
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(e, max_iter=1)


def test_default_call_on_long_chain_past_driver_bound_converges(
    spark, monkeypatch
):
    # above the driver bound the DEFAULT call must still label a chain
    # whose diameter exceeds max_iter: the distributed path's round
    # count may not depend on the diameter
    _force_star(monkeypatch)
    chain = [(i, i + 1) for i in range(59)]
    out = connected_components(_edges(spark, chain))
    try:
        labels = _labels(out)
    finally:
        for c in getattr(out, "_owned_checkpoints", ()):
            graph.release_checkpoint(c)
    assert labels == {i: 0 for i in range(60)}


def test_mixed_width_id_columns_widen_label_type(spark, monkeypatch):
    # src INT, dst BIGINT: labels propagate across both endpoints, so
    # the output schema must take the COMMON (wider) type — deriving it
    # from the src column alone would overflow int on a long-only label
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    big = 2**40
    schema = StructType([
        StructField("id_a", IntegerType()),
        StructField("id_b", LongType()),
    ])
    e = spark.createDataFrame([(1, big), (2, big + 1), (1, 2)], schema)
    for path in _both_paths(monkeypatch):
        out = connected_components(e)
        types = {f.name: f.dataType for f in out.schema.fields}
        assert isinstance(types["id"], LongType), path
        assert isinstance(types["cluster_id"], LongType), path
        labels = _labels(out)
        assert labels == {1: 1, 2: 1, big: 1, big + 1: 1}, path


def test_duplicate_edges_do_not_change_shortcut_threshold(
    spark, monkeypatch
):
    # 3 distinct edges repeated 4x each: the deduplicated count (3) is
    # what the driver bound is compared against — a bound of 3 must
    # take the driver shortcut, which pins nothing
    monkeypatch.setattr(graph, "_DRIVER_CC_MAX_EDGES", 3)
    pairs = [(1, 2), (2, 3), (10, 11)] * 4
    out = connected_components(_edges(spark, pairs))
    assert not getattr(out, "_owned_checkpoints", None)
    assert _labels(out) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_empty_edge_set_yields_empty_labels(spark, monkeypatch):
    e = spark.createDataFrame([], "id_a long, id_b long")
    for path in _both_paths(monkeypatch):
        assert connected_components(e).count() == 0, path


def test_connected_components_releases_checkpoints(spark, monkeypatch):
    """Repeated CC calls must not accumulate pinned blocks: the driver
    union-find path pins nothing; the forced-distributed path pins
    exactly the final-round edge checkpoint, which it hands back via
    _owned_checkpoints for the caller to release."""
    from my_feast_spark.operators.graph import release_checkpoint

    def pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    base = pinned()
    for _ in range(3):  # driver shortcut path
        connected_components(edges, "id_a", "id_b").collect()
    # growth-only compare: Spark's ContextCleaner may drop OTHER tests'
    # GC'd RDDs concurrently, so `pinned()` can shrink below base
    assert pinned() - base == set(), "driver-path CC leaked pinned RDDs"

    _force_star(monkeypatch)  # forced distributed path
    out = connected_components(edges, "id_a", "id_b")
    out.collect()
    ck = getattr(out, "_owned_checkpoints", None)
    assert ck, "distributed CC must hand back its result checkpoint"
    assert len(pinned() - base) == 1, (
        "exactly the result checkpoint should stay pinned"
    )
    for c in ck:
        assert release_checkpoint(c)
    assert pinned() - base == set(), "release left pinned RDDs"


def test_curate_releases_checkpoints_and_caches(spark):
    """Back-to-back full-pipeline curate() calls accumulate ONLY the
    per-call dropped-id checkpoint their returned plans anti-join
    against — contamination/cluster checkpoints and all caches are
    released before curate() returns."""
    from my_feast_spark.operators.curation import CurationConfig, curate
    from my_feast_spark.sources.readers import load_table
    from tests.conftest import SF_DIR_ORACLE

    def pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    bench = docs.filter("doc_id % 50 = 0").select("doc_id", "text")
    train = docs.filter("doc_id % 50 <> 0")
    cfg = CurationConfig(
        id_col="doc_id", text_col="text", stratum_col="lang",
        near_dup="minhash",
    )
    base = pinned()
    counts = []
    for _ in range(2):
        curate(train, config=cfg, benchmark_df=bench).count()
        counts.append(len(pinned() - base))
    assert counts[0] == 1, f"first curate() left {counts[0]} pinned RDDs"
    # the first call's drop_ids may already have been reclaimed by the
    # ContextCleaner (its Python frame went unreferenced), so the second
    # call leaves at most its own checkpoint plus the not-yet-collected
    # first one — never contamination/cluster/cache blocks on top
    assert counts[1] <= 2, f"second curate() left {counts[1]} pinned RDDs"


class TestPagerankFixedpoint:
    def _py_reference(self, edge_list, iterations=10, dnum=85, dden=100,
                      scale=10**12):
        from collections import Counter, defaultdict

        deg = Counter(s for s, _ in edge_list)
        nodes = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
        n = len(nodes)
        base = (scale * (dden - dnum)) // (dden * n)
        rank = {v: scale // n for v in nodes}
        for _ in range(iterations):
            incoming = defaultdict(int)
            for s, d in edge_list:
                incoming[d] += (rank[s] * dnum) // (dden * deg[s])
            rank = {v: base + incoming.get(v, 0) for v in nodes}
        return rank

    def test_matches_pure_python_reference(self, spark):
        import random

        from my_feast_spark.operators.graph import (
            pagerank_fixedpoint,
            release_checkpoint,
        )

        rng = random.Random(11)
        edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(200)]
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = pagerank_fixedpoint(df, iterations=10)
        got = {r["node"]: r["rank_int"] for r in out.collect()}
        want = self._py_reference(edges)
        for c in out._owned_checkpoints:
            release_checkpoint(c)
        assert got == want
        # damped mass conservation (flooring only ever loses mass)
        assert sum(got.values()) <= 10**12

    def test_releases_all_checkpoints(self, spark):
        from my_feast_spark.operators.graph import (
            pagerank_fixedpoint,
            release_checkpoint,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
        )
        before = set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )
        out = pagerank_fixedpoint(df, iterations=5)
        out.collect()
        for c in out._owned_checkpoints:
            release_checkpoint(c)
        after = set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )
        assert after <= before, "pagerank leaked checkpoint blocks"

    def test_rejects_bad_args(self, spark):
        import pytest

        from my_feast_spark.operators.graph import pagerank_fixedpoint

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            pagerank_fixedpoint(df, iterations=0)
        with pytest.raises(ValueError):
            pagerank_fixedpoint(df, damping_num=100)


def test_pagerank_empty_graph_returns_empty(spark):
    """Empty edge relation: previously ZeroDivisionError (scale // 0)
    masked by a NameError on the unbound ranks in the release handler;
    now an empty (node, rank_int) result."""
    from my_feast_spark.operators.graph import pagerank_fixedpoint

    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank_fixedpoint(empty)
    assert out.columns == ["node", "rank_int"]
    assert out.count() == 0
