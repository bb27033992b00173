"""Connected components over duplicate-pair edges — dedup clustering.

Near-dup detection (MinHash/SimHash/embedding pairs) emits EDGES; a
curation pipeline needs CLUSTERS: transitive groups of documents that
are all variants of one another, so it can keep one canonical doc per
cluster. (Pairwise keep-one is wrong under transitivity: keep(a of a-b),
keep(b of b-c) can drop nothing from {a,b,c}.)

One algorithm, two execution sites. The edge list is canonicalized
(hi, lo), self-loops dropped, deduplicated and materialized; a graph at
or under ``_DRIVER_CC_MAX_EDGES`` edges resolves in a driver-side
union-find (the near-dup case: a handful of edges out of a huge
corpus), and a larger one runs the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond":
alternating star contractions, O(log^2 n) rounds worst case, ~log n in
practice). Each star round is one groupBy + one join keyed on the star
center, with ``localCheckpoint`` truncating the plan between rounds (an
iterative loop otherwise builds an exponentially deep lineage); the
round count does not depend on the component diameter, so long chains
converge as fast as pairs. The loop RAISES if the round budget runs
out: a non-converged label set silently merges/splits clusters, and a
wrong dedup clustering is worse than a failed job.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

#: target edges per partition inside the iterative loops — the edge
#: graph is orders of magnitude smaller than the corpus that produced
#: it, so the loop re-partitions to match ITS size, not the corpus scan
#: parallelism (at 32 default partitions, a few-hundred-edge graph pays
#: ~32x scheduler overhead per round for nothing; with billions of
#: edges the cap below keeps the session default).
_EDGES_PER_PARTITION = 100_000


def release_checkpoint(df: DataFrame) -> bool:
    """Drop the blocks pinned by ``df``'s ``localCheckpoint``.

    ``localCheckpoint`` pins its blocks for the session lifetime —
    ``Dataset.unpersist``/``spark.catalog`` can't see them, so an
    iterative algorithm that checkpoints per round leaks every round's
    blocks unless it releases them explicitly. CAUTION: the frame (and
    anything derived from it) becomes UNUSABLE — the checkpoint
    truncated its lineage, so dropped blocks cannot be recomputed.
    Release is per-frame (the exact pinned RDD is resolved from the
    frame's own plan), so concurrent checkpoints owned by other threads
    are never touched.

    Returns True if a pinned RDD was found and released.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return False
    rid = plan.rdd().id()
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    jrdd = jmap.get(rid)
    if jrdd is None:
        return False
    jrdd.unpersist(False)
    return True


#: edge-count bound for the driver union-find: 1M edges is a few tens
#: of MB on the driver and resolves in milliseconds, where the
#: distributed loop pays several scheduler round-trips per round. The
#: threshold is checked against the MATERIALIZED edge count, so a
#: billion-edge graph at corpus scale always takes the distributed path.
_DRIVER_CC_MAX_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
    out_id: str = "id",
    out_label: str = "cluster_id",
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    the component id is the minimum vertex id in the component.

    The edges are canonicalized (hi, lo), self-loops dropped,
    deduplicated and materialized first. When that edge count is at or
    below ``_DRIVER_CC_MAX_EDGES`` the components come from a driver
    union-find — the near-dup pair graph is typically a handful of
    edges out of a huge corpus, and one distributed round costs more
    scheduler latency than the whole resolution. Larger graphs run the
    two-phase large-star/small-star loop: alternate large-star (hook
    every larger neighbor to the neighborhood minimum) and small-star
    (hook a node and its smaller neighbors to their minimum) until the
    edge set is a union of disjoint stars centered at component minima.
    The round count scales with log(component size), not diameter.
    Edges stay canonical and deduplicated, are checkpointed per round,
    and the fixpoint test compares an exact multiset checksum (count +
    decimal sums + hash sum).

    Raises RuntimeError if ``max_iter`` rounds don't reach the fixpoint:
    a non-converged edge set leaves vertices hooked to a non-minimum
    center, which silently splits clusters, and a wrong dedup
    clustering is worse than a failed job.

    Block ownership: every intermediate ``localCheckpoint`` (edges,
    per-round star edges) is released before returning. On the
    distributed path the RESULT still depends on the final round's
    checkpoint; that frame is handed back as
    ``result._owned_checkpoints`` so a caller that materializes the
    labels elsewhere can ``release_checkpoint`` it (the curation
    pipeline does). The driver union-find path returns plain driver
    rows and pins nothing.
    """
    spark = edges.sparkSession
    # `live` tracks every checkpoint this call has pinned and not yet
    # released: a round's inputs are released as soon as its output is
    # materialized (peak pinned state = two edge generations,
    # independent of round count), and any exception releases whatever
    # is still live before propagating.
    live: list[DataFrame] = []

    def _pin(df):
        out = df.localCheckpoint()
        live.append(out)
        return out

    def _release(df):
        release_checkpoint(df)
        live.remove(df)

    try:
        # Canonicalize (hi, lo), drop self-loops, deduplicate: the
        # driver bound is compared against this deduplicated count, and
        # duplicate input edges would only inflate every round's join
        # fan-out.
        e = _pin(
            edges.select(
                F.greatest(F.col(src), F.col(dst)).alias("hi"),
                F.least(F.col(src), F.col(dst)).alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        n_edges = e.count()
        if n_edges <= _DRIVER_CC_MAX_EDGES:
            sym = e.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
            out = _cc_driver_union_find(sym, spark, out_id, out_label)
            # union-find already collected the edges; the result is
            # plain driver rows — nothing pinned outlives this call
            _release(e)
            return out
        # size loop parallelism to the materialized edge count, capped
        # at the session default
        loop_p = _loop_partitions(spark, n_edges)

        def checksum(df):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("hi").cast("decimal(38,0)")).alias("sh"),
                F.sum(F.col("lo").cast("decimal(38,0)")).alias("sl"),
                F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("sx"),
            ).collect()[0]
            return tuple(row)

        def large_star(df):
            sym = df.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
                df.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
            )
            m = (
                sym.repartition(loop_p, "u")
                .groupBy("u")
                .agg(F.min("v").alias("mv"))
                .withColumn("m", F.least(F.col("mv"), F.col("u")))
                .select("u", "m")
            )
            out = (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            )
            return _pin(out.filter(F.col("hi") != F.col("lo")).distinct())

        def small_star(df):
            # group by the LARGER endpoint; m = min over {u} + smaller
            # neighbors = min(lo) (u exceeds every lo by construction)
            m = (
                df.repartition(loop_p, "hi")
                .groupBy("hi")
                .agg(F.min("lo").alias("m"))
            )
            j = df.join(m, "hi")
            rewired = j.filter(F.col("lo") != F.col("m")).select(
                F.col("lo").alias("hi"), F.col("m").alias("lo")
            )
            hooks = m.select(F.col("hi"), F.col("m").alias("lo"))
            out = rewired.union(hooks)
            return _pin(out.filter(F.col("hi") != F.col("lo")).distinct())

        prev = checksum(e)
        for _ in range(max_iter):
            large = large_star(e)
            new_e = small_star(large)
            # the round's output is materialized: its two inputs die here
            _release(large)
            _release(e)
            e = new_e
            cur = checksum(e)
            if cur == prev:
                # fixpoint: disjoint stars — every hi points at its
                # component minimum lo; centers label themselves. The
                # result depends ONLY on the final round's edge checkpoint,
                # handed to the caller via _owned_checkpoints
                for c in [c for c in live if c is not e]:
                    _release(c)
                nodes = e.select(F.col("hi").alias("id"), F.col("lo").alias("label"))
                roots = e.select(F.col("lo").alias("id")).distinct().withColumn(
                    "label", F.col("id")
                )
                out = nodes.union(roots).distinct().select(
                    F.col("id").alias(out_id), F.col("label").alias(out_label)
                )
                out._owned_checkpoints = [e]
                return out
            prev = cur
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"— raise max_iter (round count is logarithmic in component "
            f"size; this indicates a pathological or adversarial graph)"
        )
    except BaseException:
        for c in list(live):
            release_checkpoint(c)
        raise


def _loop_partitions(spark, n_edges: int) -> int:
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default_p, math.ceil(n_edges / _EDGES_PER_PARTITION)))


def _cc_driver_union_find(sym, spark, out_id, out_label) -> DataFrame:
    """Union-find over a driver-collected edge list — the bounded
    driver-side step for SMALL materialized pair graphs (the near-dup
    case: a handful of edges out of a huge corpus), where even one
    distributed round costs more in scheduler latency than the whole
    resolution. Components get their minimum vertex id as the label,
    identical to the star loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root is the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    ids = list(parent)
    # Label type = the COMMON type of both endpoints (coalesce forces
    # Catalyst's least-common-type resolution): labels propagate across
    # src and dst, so deriving both fields from the src column alone
    # could overflow the narrower type on mixed-width id columns.
    common = F.coalesce(F.col("a"), F.col("b"))
    schema = sym.select(
        common.alias(out_id), common.alias(out_label)
    ).schema
    # an Arrow table is decoded in the JVM; a list of tuples would
    # become a pickled Python RDD, and every job over the labels would
    # start Python workers to read it back
    table = pa.table({
        out_id: pa.array(ids),
        out_label: pa.array([find(x) for x in ids]),
    })
    return spark.createDataFrame(table, schema)


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic — the
    domain-ranking tier of a crawl pipeline (Common Crawl publishes
    host/domain ranks; CCNet/RefinedWeb-style curation uses them as a
    URL-level quality prior before any text is read).

    Every rank is a BIGINT in units of ``1/scale``: the damped
    contribution along an edge is ``(rank * damping_num) div
    (damping_den * out_deg)`` — one exact integer division — and the
    per-node update sums bigints, so the result is bit-identical on any
    engine (no float sums whose partial-agg ORDER could wobble a
    boundary — the cross-engine divergence class the float PageRank
    would inherit). Deterministic variant, documented: flooring drops
    up to 1/scale of mass per edge and dangling nodes' damped mass
    vanishes (no redistribution) — standard simplifications; ranking
    ORDER matches float PageRank far beyond any curation use.

    Scale shape: per iteration ONE join of the (|nodes|-row) rank
    relation against the degree-annotated edges — rank side broadcasts
    under AQE when small, shuffles on the join key when not — and ONE
    groupBy(dst) sum with map-side partial aggregation; the rank
    relation is ``localCheckpoint``-ed each round (iterative lineage
    truncation, previous round's blocks released — the
    connected_components discipline). ``iterations`` is FIXED, not
    convergence-tested: a fixed-depth unroll is what a SQL oracle can
    replay, and 10 damped iterations ranks a host graph to well within
    curation tolerance.

    Returns (node, rank_int) with ``sum(rank_int) <= scale``.
    """
    if iterations < 1:
        raise ValueError("iterations must be positive")
    if not 0 < damping_num < damping_den:
        raise ValueError("need 0 < damping_num < damping_den")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    ed = e.join(deg, "__s")
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    spark = edges.sparkSession
    n_edges = e.count()
    if n_edges == 0:
        # empty edge relation -> no nodes: return the (node, rank_int)
        # shape instead of seeding rank = scale // 0 (previously a
        # ZeroDivisionError masked by a NameError on the unbound
        # ``ranks`` in the release handler)
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_int")
        )
    parts = _loop_partitions(spark, n_edges)
    ed = ed.repartition(parts, "__s").localCheckpoint()
    nodes = nodes.repartition(parts, "node").localCheckpoint()
    ranks = None
    try:
        n = nodes.count()
        base = (scale * (damping_den - damping_num)) // (damping_den * n)
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("long").alias("rank_int")
        ).localCheckpoint()
        for _ in range(iterations):
            contribs = (
                ed.join(ranks, ed["__s"] == ranks["node"])
                .select(
                    F.col("__d").alias("node"),
                    F.expr(
                        f"(rank_int * {damping_num}) div "
                        f"({damping_den} * __deg)"
                    ).alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__in"))
            )
            new_ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("__in"), F.lit(0))
                ).alias("rank_int"),
            ).localCheckpoint()
            release_checkpoint(ranks)
            ranks = new_ranks
    except BaseException:
        for frame in (ed, nodes, ranks):
            if frame is not None:
                release_checkpoint(frame)
        raise
    release_checkpoint(ed)
    release_checkpoint(nodes)
    out = ranks.select("node", "rank_int")
    out._owned_checkpoints = [ranks]
    return out
