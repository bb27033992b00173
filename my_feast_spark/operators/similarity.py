"""Similarity search over embedding columns (array<float>).

Two paths:
  * cosine_topk — brute-force exact top-k: broadcast the (small) query
    set against the corpus scan; dot products via native higher-order
    array functions (zip_with + aggregate — sequential fold, so results
    are bit-deterministic), window top-k per query. Per-corpus-row work
    is O(|queries| * dim) with NO shuffle of the corpus — the right
    baseline up to a few thousand queries even at huge corpus size.
  * ann_lsh_topk — random-hyperplane LSH: H deterministic hyperplanes ->
    H sign bits -> buckets; candidates only from the query's bucket
    (optionally multi-probe by flipping bits); exact re-rank of
    candidates. Sub-linear candidate volume at corpus scale; recall
    depends on H and probes.

Embedding-cosine near-dup detection (``embedding_dup_pairs``) verifies
all pairs, or LSH-blocked candidate pairs, by exact cosine against a
threshold; ``workload.q_embedding_near_dupes_lsh`` is its oracle-checked
query.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window, functions as F

from my_feast_spark.sources.readers import spread_partitions

#: k-means sample floor, points per requested cluster — ``semdedup``
#: auto-raises its driver sample to ``num_cells * _MIN_SAMPLE_PER_CELL``
#: so growing the cell count toward the paper's 50k-cluster regime can
#: never silently hand Lloyd fewer sample points than clusters.
_MIN_SAMPLE_PER_CELL = 8


def _dot(a, b):
    """Left-to-right dot product as a higher-order-function fold (seed
    0.0). 64-term verify dots keep this HOF fold because an unrolled
    ``GetArrayItem`` chain measured slower."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def with_unit_norm(df: DataFrame, vec_col: str, out_col: str = "__unit") -> DataFrame:
    """Pre-normalize embeddings (double precision) so cosine = dot."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out_col, F.transform(v, lambda x: x / _norm(v)))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
    sim_decimals: int = 6,
    impl: str = "expr",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    ``queries``/``corpus``: DataFrames with (id, vec_col). Ranking is by
    (rounded sim DESC, neighbor id ASC) — fully deterministic.

    ``impl="expr"`` (default, oracle-adjudicated): the per-pair dot is
    a codegen'd sequential fold — bit-deterministic, zero Python.
    ``impl="numpy"`` is the scale fast path: ONE Arrow pass over the
    corpus, one gemm per (corpus batch x query matrix), per-batch
    local top-k (top-k distributes over partition unions, so the
    global window sees k rows per query per batch instead of the full
    |corpus| x |queries| pair relation — the shuffle shrinks from
    O(N*q) to O(batches*q*k)). Sims round to ``sim_decimals`` before
    ranking in both paths, so the two implementations agree except on
    dots within float-rounding distance of a rounding edge.
    """
    if impl == "numpy":
        return _cosine_topk_numpy(
            queries, corpus,
            query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
            k=k, exclude_self=exclude_self, sim_decimals=sim_decimals,
        )
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    # norms are per-ROW: compute once before the pair join, not per pair
    # (same float ops on the same inputs -> bit-identical sim, 3x less
    # per-pair work than folding dot+norm+norm inside the join)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = spread_partitions(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    sims = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            sim_decimals,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _cosine_topk_numpy(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
    sim_decimals: int,
) -> DataFrame:
    """gemm-based exact cosine top-k (see ``cosine_topk`` impl="numpy").
    Queries collect driver-side (the broadcast-batch stance); the
    normalized query matrix ships in the closure; each Arrow batch
    computes one (nb, nq) gemm and emits only its local top-k rows per
    query."""
    import numpy as np

    qrows = queries.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    spark = queries.sparkSession
    if not qrows:
        from pyspark.sql import types as T

        empty = spark.createDataFrame(
            [],
            T.StructType([
                T.StructField("query_id", queries.schema[query_id].dataType),
                T.StructField("neighbor_id", corpus.schema[corpus_id].dataType),
                T.StructField("sim", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]),
        )
        return empty
    qids = np.asarray([r.qid for r in qrows])
    Q = np.asarray([r.qv for r in qrows], dtype=np.float64)
    Qn = (Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)).T
    nq = len(qids)
    kk = k + (1 if exclude_self else 0)  # self may occupy a local slot

    def batch_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["corpus_id"].to_numpy()
            B = np.vstack([
                np.asarray(v, dtype=np.float64) for v in pdf["cv"]
            ])
            B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
            S = np.round(B @ Qn, sim_decimals)  # (nb, nq)
            take = min(kk, len(ids))
            out_q, out_n, out_s = [], [], []
            for j in range(nq):
                col = S[:, j]
                # local top-take by the FULL (sim desc, id asc) order:
                # argpartition on sim alone would pick an arbitrary
                # subset of rows TIED at the boundary value, dropping
                # smaller-id tied candidates the global contract keeps
                # (rounded sims tie often — not just float noise)
                order = np.lexsort((ids, -col))
                for i in order[:take]:
                    out_q.append(qids[j])
                    out_n.append(ids[i])
                    out_s.append(col[i])
            yield pd.DataFrame({
                "query_id": out_q, "neighbor_id": out_n, "sim": out_s,
            })

    c = spread_partitions(corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    qt = queries.schema[query_id].dataType.simpleString()
    ct = corpus.schema[corpus_id].dataType.simpleString()
    local = c.mapInPandas(
        batch_topk, schema=f"query_id {qt}, neighbor_id {ct}, sim double"
    )
    if exclude_self:
        local = local.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    sim_decimals: int = 6,
    deterministic: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine >= threshold — the semantic-dedup tier of a
    training-data pipeline.

    ``num_planes=None``: exact — all-pairs self-join (O(N²) candidate
    volume; only for modest N or verification). With ``num_planes=H``:
    random-hyperplane LSH blocking with OR-amplification — ``num_tables``
    independent H-bit sign buckets; a pair is a candidate if it collides
    in ANY table, then exact cosine verify. Precision stays 1.0; recall =
    1-(1-p^H)^L where p = 1-acos(sim)/π — e.g. sim 0.9 → ~1.0, sim 0.4,
    H=4, L=8 → ~0.75. Candidate volume ~L·N²/2^H under uniform buckets;
    tune H up for scale, L up for recall.

    LSH result carries ``_owned_caches`` (the persisted bucketed
    relation feeding both join sides) — callers release it after
    materializing, per the repo cache-ownership rule.
    """
    e = spread_partitions(df).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("n", _norm(F.col("v")))
    if num_planes is not None:
        bucket_udf = _lsh_buckets_udf(
            [_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)],
            deterministic=deterministic,
        )
        # persist + eager materialize: the bucketed relation feeds BOTH
        # sides of the self-join, and a lazy persist would let the two
        # join stages race — each recomputing the pandas-UDF bucketing
        # before the cache is populated. One count() action serializes
        # that: one UDF pass, then both sides read the cache.
        e = e.select(
            "id", "v", "n", F.posexplode(bucket_udf(F.col("v"))).alias("table", "bucket")
        ).persist()
        e.count()
        a, b = e.alias("a"), e.alias("b")
        # Verify-then-dedup: compute the cosine inside the bucket join's
        # projection and threshold it BEFORE the pair dedup, so the dedup
        # shuffle carries only surviving (id_a, id_b, sim) triples instead
        # of every candidate with two full embedding arrays. A pair that
        # collides in k tables costs k dot products (JVM-side, cheap) but
        # shuffles once — at corpus scale the shuffle, not the FMA, is the
        # bottleneck.
        out = (
            a.join(
                b,
                (F.col("a.table") == F.col("b.table"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round(
                    _dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.n") * F.col("b.n")),
                    sim_decimals,
                ).alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )
        # cache-ownership rule (see minhash_lsh_dup_pairs): the persisted
        # bucketed relation (embeddings exploded x num_tables) is handed
        # to the caller via _owned_caches — a caller that materializes
        # the pairs must unpersist it, or every call pins an
        # embeddings-sized block set for the session lifetime.
        out._owned_caches = [e]
        return out
    else:
        a, b = e.alias("a"), e.alias("b")
        cand = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
    pairs = cand.select(
        "id_a", "id_b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
            sim_decimals,
        ).alias("sim"),
    )
    return pairs.filter(F.col("sim") >= threshold)


def make_cell_assigner(centers, *, deterministic: bool = True):
    """Nearest-centroid assignment as a self-contained closure (the repo's
    worker-pickle pattern — serializes by value, executors never import
    this package). ``assign(vecs, n_cells) -> (n, n_cells) int32`` of
    nearest-cell ids.

    ``deterministic=True`` (default — all oracle-adjudicated runs): the
    per-centroid ``((v-c)^2).sum(axis=1)`` row reduction is
    bit-deterministic regardless of the batch row-count, so executor
    Arrow batches of any size and the oracle generator's single
    full-table pass agree exactly (BLAS gemm blocking is shape-dependent,
    which can flip argmin on near-ties). argsort is ``kind='stable'`` for
    the same reason.

    ``deterministic=False``: one BLAS gemm per batch
    (``d2 = |v|^2 - 2 v @ C^T + |c|^2``) — the production fast path
    (~2-3x on wide batches); ranking can differ from the deterministic
    path only on exact distance ties.
    """
    import numpy as np

    cmat = np.asarray(centers, dtype=np.float64)

    def assign(vecs, n_cells: int):
        vecs = np.asarray(vecs, dtype=np.float64)
        if deterministic:
            d2 = np.empty((vecs.shape[0], len(cmat)), dtype=np.float64)
            for j in range(len(cmat)):
                diff = vecs - cmat[j]
                d2[:, j] = (diff * diff).sum(axis=1)
        else:
            d2 = (
                (vecs * vecs).sum(axis=1, keepdims=True)
                - 2.0 * (vecs @ cmat.T)
                + (cmat * cmat).sum(axis=1)
            )
        return np.argsort(d2, axis=1, kind="stable")[:, :n_cells].astype("int32")

    return assign


def train_ivf_centroids(X, num_centroids: int, *, seed: int = 42, iters: int = 8):
    """Driver-side Lloyd k-means over a bounded sample — the FAISS-style
    IVF index build. Pure numpy with shape-stable reductions; shared by
    ``ivf_topk`` and the workload's DuckDB oracle generator so both derive
    bit-identical centroids from the same (id-ordered) sample.
    """
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    centers = X[rng.choice(len(X), size=min(num_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = make_cell_assigner(centers)(X, 1)[:, 0]
        for j in range(len(centers)):
            members = X[assign == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return centers


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 3,
    exclude_self: bool = True,
    sim_decimals: int = 6,
    seed: int = 42,
    deterministic: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partition the corpus,
    rank each query only against its ``nprobe`` nearest cells.

    The second ANN family next to hyperplane LSH (``ann_lsh_topk``):
    data-adaptive cells follow the embedding distribution, so cell sizes
    are balanced where LSH sign-buckets can collapse under correlated
    dims. Candidate volume ~ nprobe/num_centroids of the corpus per query.
    Centroids are trained on a driver-side sample (numpy Lloyd
    iterations, the FAISS-style index build — a distributed fit is one
    Spark job per iteration, scheduler-bound at any corpus size) and
    enter the plan as a closure over the assignment UDF; at scale persist
    them and reuse across query batches.
    """
    import numpy as np

    c = spread_partitions(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))

    # Train centroids on a DRIVER-SIDE SAMPLE, the way production IVF
    # indexes do (sample -> tiny k-means -> frozen centroids): a
    # distributed fit spends one Spark job per Lloyd iteration, which is
    # scheduler-bound at any corpus size, while the centroids themselves
    # are k*dim floats that the executors need broadcast anyway. The
    # sample is capped at 4096 vectors regardless of corpus size (cells
    # need rough balance, not convergence). Sorted by id so the sample —
    # and therefore the trained centroids — is a pure function of the
    # corpus, replayable by the DuckDB oracle generator (a TopK plan, not
    # a global sort: orderBy+limit -> TakeOrderedAndProject).
    sample = c.orderBy("neighbor_id").select("cv").limit(4096).collect()
    X = np.asarray([r.cv for r in sample], dtype=np.float64)
    cmat = train_ivf_centroids(X, num_centroids, seed=seed)  # (k, dim)
    assigner = make_cell_assigner(cmat, deterministic=deterministic)

    def _cell_udf(n_cells: int):
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def cells(col: pd.Series) -> pd.Series:
            if len(col) == 0:
                return pd.Series([], dtype=object)
            vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
            return pd.Series(list(assigner(vecs, n_cells)))

        # optimizer fence, not a semantics claim: the cell join's
        # implicit isnotnull(cell) otherwise pushes below the spread
        # Exchange and the corpus assignment pass evaluates TWICE
        # (same fix as pq.ivfpq_topk; plan-pinned in test_plans)
        return cells.asNondeterministic()

    # corpus rows go to their single nearest cell; queries probe nprobe
    # cells — both via one Arrow-batched matmul per batch
    c = c.withColumn("cell", _cell_udf(1)(F.col("cv"))[0])
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    q = q.withColumn("cell", F.explode(_cell_udf(nprobe)(F.col("qv"))))

    joined = c.join(F.broadcast(q), "cell")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    sims = joined.select(
        "query_id", "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            sim_decimals,
        ).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def distributed_centroids(
    df: DataFrame, vec_col: str, k: int, *, seed: int = 42, max_iter: int = 8
):
    """Distributed k-means index build (pyspark.ml KMeans over the FULL
    relation) returning frozen centers as a (k, dim) numpy array — the
    escape hatch for cell counts too large for a driver-sample fit (the
    paper's 50k-cluster LAION regime). Costs one Spark job per Lloyd
    round; the centers then broadcast through the same assignment UDF
    as the driver-sample path, so everything downstream is identical.
    Deterministic for a FIXED input partitioning (seeded kmeans||), but
    NOT replayable by a driver-side oracle generator — adjudicated
    queries stay on the driver-sample build."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vdf = df.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(vdf)
    # clusterCenters() rows are numpy arrays on recent pyspark, ml
    # Vectors on older — normalize both
    return np.asarray([
        c if not hasattr(c, "toArray") else c.toArray()
        for c in model.clusterCenters()
    ], dtype=np.float64)


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    num_cells: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
    sample_cap: int = 4096,
    sim_decimals: int = 6,
    deterministic: bool = True,
    fit: str = "driver",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    semantic dedup by k-means cell blocking — cluster the embeddings,
    compare cosine ONLY within each cell, and drop every doc that has a
    higher-priority neighbor at sim >= threshold. Returns
    ``(id, cell, keep)`` for every input row; survivors are the
    per-group representatives. Priority = min id (the paper keeps an
    arbitrary member per duplicate group; min-id is the deterministic
    choice, matching the curation pipeline's keep policy).

    Scale shape — the reason this exists next to ``embedding_dup_pairs``:
    LSH blocking needs a threshold-tuned table family, while SemDeDup's
    cells adapt to the embedding distribution and give O(N²/num_cells)
    candidate volume with ``num_cells`` grown ~linearly with the corpus
    (the paper uses 50k clusters for LAION) so per-cell work stays
    bounded. Centroids train on a bounded id-ordered driver sample and
    broadcast in the assignment UDF's closure (the FAISS-style index
    build, see ``ivf_topk``); the bucketed relation persists across its
    two self-join sides and ships back via ``_owned_caches``.
    ``fit="distributed"`` switches the index build to a full-relation
    pyspark.ml KMeans (``distributed_centroids``) for cell counts a
    driver sample cannot seed — the documented 50k-cluster escape
    hatch, now real code.

    ``sample_cap`` is COUPLED to ``num_cells``: k-means needs several
    points per cluster, so the cap auto-raises to ``num_cells *
    _MIN_SAMPLE_PER_CELL`` when the requested cell count approaches it
    (asking for the paper's 50k-cluster LAION regime with a 4096-row
    sample would hand Lloyd fewer points than clusters). The driver-side
    collect then grows linearly with ``num_cells`` — beyond a few
    hundred thousand cells switch the index build to a distributed fit
    (pyspark.ml KMeans over the full corpus) and pass the frozen
    centroids through the same assignment UDF.
    """
    import numpy as np

    e = spread_partitions(df).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("n", _norm(F.col("v")))

    if fit == "distributed":
        # the 50k-cell regime: full-relation pyspark.ml fit (see
        # distributed_centroids) instead of the driver sample — same
        # frozen-centers assignment downstream
        cmat = distributed_centroids(e, "v", num_cells, seed=seed)
    elif fit == "driver":
        sample_cap = max(sample_cap, num_cells * _MIN_SAMPLE_PER_CELL)
        sample = e.orderBy("id").select("v").limit(sample_cap).collect()
        X = np.asarray([r.v for r in sample], dtype=np.float64)
        cmat = train_ivf_centroids(X, num_cells, seed=seed)
    else:
        raise ValueError(f"unknown fit mode: {fit!r}")
    assigner = make_cell_assigner(cmat, deterministic=deterministic)

    def _cell_udf():
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def cell(col: pd.Series) -> pd.Series:
            if len(col) == 0:
                return pd.Series([], dtype="int32")
            vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
            return pd.Series(assigner(vecs, 1)[:, 0].astype("int32"))

        return cell

    # persist + eager materialize: the celled relation feeds BOTH
    # self-join sides and the final keep-flag join — one UDF pass, then
    # every consumer reads the cache (the embedding_dup_pairs pattern)
    celled = e.withColumn("cell", _cell_udf()(F.col("v"))).persist()
    celled.count()
    a, b = celled.alias("a"), celled.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("b.id").alias("id"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")),
                sim_decimals,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("id")
        .distinct()
    )
    out = (
        celled.select("id", "cell")
        .join(dropped.withColumn("__dropped", F.lit(True)), "id", "left")
        .select("id", "cell", F.col("__dropped").isNull().alias("keep"))
    )
    out._owned_caches = [celled]
    return out


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (numpy PCG64, fixed seed)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def make_lsh_bucketer(planes_tables, *, deterministic: bool = True):
    """Vectorized multi-table LSH bucketing as a self-contained closure:
    ``bucket_ids(vecs) -> (n, L) int64`` sign-bit bucket ids for L
    independent H-plane tables.

    ``deterministic=True`` (default — all oracle-adjudicated runs):
    per-plane ``(vecs * plane).sum(axis=1)`` row reductions instead of
    one BLAS matmul: numpy's pairwise sum over the (fixed-length,
    contiguous) dim axis is bit-identical for any batch row-count, so
    executor Arrow batches and the oracle generator's single full-table
    pass compute the SAME sign bits — a matmul's blocking is
    shape-dependent and a dot within rounding distance of 0 could flip
    sign between the two. L*H passes over an (n, dim) batch is still
    vectorized and cheap.

    ``deterministic=False``: one ``vecs @ flat.T`` gemm per batch — the
    production fast path; sign bits can differ from the deterministic
    path only for dots within float rounding of exactly 0.
    """
    import numpy as np

    mat = np.asarray(planes_tables, dtype=np.float64)  # (L, H, dim)
    n_tables, n_planes, _dim = mat.shape
    flat = mat.reshape(n_tables * n_planes, _dim)  # (L*H, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def bucket_ids(vecs):
        vecs = np.asarray(vecs, dtype=np.float64)
        n = vecs.shape[0]
        if deterministic:
            signs = np.empty((n, len(flat)), dtype=bool)
            for p in range(len(flat)):
                signs[:, p] = (vecs * flat[p]).sum(axis=1) >= 0.0
        else:
            signs = (vecs @ flat.T) >= 0.0
        return (signs.reshape(n, n_tables, n_planes) * weights).sum(axis=2)

    return bucket_ids


def _lsh_buckets_udf(planes_tables, *, deterministic: bool = True):
    """Arrow-batched pandas_udf over ``make_lsh_bucketer``. The
    expression-tree alternative (L*H separate ``aggregate(zip_with(...))``
    dots over literal arrays) is interpreted per-row AND costs seconds of
    Catalyst planning for the ~L*H*dim-literal tree — the one place in
    this module where a pandas UDF beats built-ins at every scale.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bucket_ids = make_lsh_bucketer(planes_tables, deterministic=deterministic)

    @pandas_udf("array<long>")
    def buckets(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        return pd.Series(list(bucket_ids(vecs)))

    return buckets


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id of a vector against fixed hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        dot = _dot(F.transform(vec_col, lambda x: x.cast("double")), arr)
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
    sim_decimals: int = 6,
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket both sides by hyperplane sign bits, rank
    only within the query's probed buckets. 2^num_planes buckets — at
    corpus scale each bucket holds ~N/2^H rows, and the bucket equi-join
    replaces the cross join.

    ``probe_radius``: multi-probe LSH — each query also probes buckets
    within this hamming distance of its own (radius 1 = flip each sign
    bit once, H+1 probes). The classic recall lever: raising it trades
    candidate volume for recall without re-hashing the corpus.
    """
    planes = _hyperplanes(dim, num_planes, seed)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv"))).withColumn(
        "bucket", lsh_bucket(F.col("qv"), planes)
    )
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << i for i in range(num_planes)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(num_planes)
            for j in range(i + 1, num_planes)
        ]
    if len(masks) > 1:
        flips = [F.col("bucket").bitwiseXOR(F.lit(m).cast("long")) for m in masks]
        q = q.withColumn("bucket", F.explode(F.array(*flips)))
    c = spread_partitions(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv"))).withColumn(
        "bucket", lsh_bucket(F.col("cv"), planes)
    )
    joined = c.join(F.broadcast(q), "bucket")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    sims = joined.select(
        "query_id", "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            sim_decimals,
        ).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])  # multi-probe overlap
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
