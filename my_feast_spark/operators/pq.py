"""Product quantization — compressed embeddings for billion-scale ANN.

The third ANN family next to hyperplane LSH and IVF (``similarity.py``),
and the one that changes the STORAGE equation: PQ (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
splits each d-dim vector into ``m`` subvectors, k-means-quantizes each
subspace to ``k`` centroids, and stores a vector as ``m`` small codes —
a 64-dim float32 embedding (256 bytes) becomes 8 bytes at m=8, k=256.
Search uses the asymmetric distance computation (ADC): the query stays
exact, each corpus vector's distance is the sum of ``m`` table lookups.

Spark mapping, stage by stage:

  * codebook training — driver-side: per-subspace k-means over a
    bounded id-ordered sample (exactly the ``ivf_topk`` index-build
    stance: a distributed fit is one job per Lloyd round, scheduler-
    bound at any corpus size, while the codebooks are m*k*dsub floats
    the executors need broadcast anyway).
  * encode — ONE Arrow-batched pass over the corpus (vectorized argmin
    per subspace); output is (id, codes array<int>), the only relation
    a 100 TB search tier needs to keep hot.
  * ADC top-k — NO Python: each query precomputes its (m*k)-float
    lookup table driver-side, queries+tables broadcast, and the
    distance is a pure-expression fold over the code array
    (``element_at(lut, i*k + code_i)``), so the corpus-side scan stays
    in whole-stage codegen and shuffles nothing.

Vectors are L2-normalized inside encode/search, so squared L2 = 2 -
2*cosine and ADC ranking matches cosine ranking up to quantization
error (the standard cosine-via-PQ reduction).

The billion-vector composition lives here too: ``ivfpq_topk`` (IVFADC
— coarse k-means cells prune the candidate set to ``nprobe`` cells per
query; ``residual=True`` quantizes the within-cell residual, the
paper's full structure) and the serving API around it
(``ivfpq_build`` / ``write_ivfpq_index`` / ``read_ivfpq_index`` /
``ivfpq_search``), which persists the encoded relation under cell=K
partition directories and pushes each probe batch's cell set into the
scan as a partition filter.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from my_feast_spark.operators.similarity import train_ivf_centroids
from my_feast_spark.sources.generations import (
    committed,
    fold,
    next_id,
    publish,
    read,
    read_base_json,
    write_json,
)
from my_feast_spark.sources.readers import spread_partitions


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
):
    """Per-subspace codebooks as an (m, k, d/m) float64 numpy array,
    trained on an id-ordered capped sample. ``d`` must divide by ``m``.

    ``id_col`` is REQUIRED: the sample is ``orderBy(id).limit(cap)``, so
    the codebooks are a pure function of the corpus + seed — the
    deterministic, oracle-replayable property every adjudicated PQ query
    depends on. (An unordered ``limit().collect()`` would make them
    partition-order-dependent despite the fixed seed.)"""
    import numpy as np

    sample = df.select(
        F.col(vec_col).alias("v"), F.col(id_col).alias("sid")
    ).orderBy("sid")
    X = np.asarray(
        [r["v"] for r in sample.limit(sample_cap).collect()], dtype=np.float64
    )
    return codebooks_from_sample(X, m=m, k=k, seed=seed)


def codebooks_from_sample(X, *, m: int, k: int, seed: int = 42,
                          normalize: bool = True):
    """Pure-numpy codebook fit over an already-collected sample matrix
    (rows = vectors): normalize (unless the rows are already RESIDUALS
    — re-normalizing those would distort them), slice into ``m``
    subspaces, k-means each with its own derived seed. Shared verbatim
    by the DataFrame trainer above, ``ivfpq_topk``'s combined index
    build, and the workload's oracle generators — so every consumer
    derives bit-identical codebooks from the same sample."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64).copy()
    if normalize:
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack([
        train_ivf_centroids(
            np.ascontiguousarray(X[:, j * dsub:(j + 1) * dsub]), k,
            seed=seed + j,
        )
        for j in range(m)
    ])


def make_pq_encoder(codebooks, *, deterministic: bool = True,
                    normalize: bool = True):
    """Vectorized encoder closure: ``encode(vecs) -> (n, m) int32``
    nearest-centroid codes per subspace (self-contained — executors
    never import this package). The per-subspace argmin IS
    ``similarity.make_cell_assigner`` (one assigner per subspace, same
    shape-stable/deterministic semantics), so a determinism fix there
    automatically covers PQ."""
    import numpy as np

    from my_feast_spark.operators.similarity import make_cell_assigner

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _k, dsub = cb.shape
    assigners = [
        make_cell_assigner(cb[j], deterministic=deterministic)
        for j in range(m)
    ]

    def encode(vecs):
        vecs = np.asarray(vecs, dtype=np.float64)
        if normalize:
            vecs = vecs / np.maximum(
                np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
            )
        n = vecs.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            sub = np.ascontiguousarray(vecs[:, j * dsub:(j + 1) * dsub])
            codes[:, j] = assigners[j](sub, 1)[:, 0]
        return codes

    return encode


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks,
    *,
    deterministic: bool = True,
    out_col: str = "codes",
) -> DataFrame:
    """(id, codes array<int>): one Arrow pass over the corpus — the
    compressed search relation (m ints per vector)."""
    from pyspark.sql.functions import pandas_udf

    encode = make_pq_encoder(codebooks, deterministic=deterministic)

    @pandas_udf("array<int>")
    def codes(col: pd.Series) -> pd.Series:
        import numpy as np

        if len(col) == 0:
            return pd.Series([], dtype=object)
        vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        return pd.Series(list(encode(vecs)))

    return spread_partitions(df).select(
        F.col(id_col), codes(F.col(vec_col)).alias(out_col)
    )


def query_luts(codebooks, vecs, *, normalize: bool = True):
    """(n, m*k) float64 ADC lookup tables: row i, slot j*k+c = squared
    L2 between query i's j-th (normalized — or raw, for residual
    inputs) subvector and centroid c. Shared by ``pq_topk`` /
    ``ivfpq_topk`` and the oracle generators so both sides fold the
    SAME doubles."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = cb.shape
    vecs = np.asarray(vecs, dtype=np.float64)
    if normalize:
        vecs = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
        )
    out = np.empty((vecs.shape[0], m * kc))
    for i, v in enumerate(vecs):
        for j in range(m):
            diff = cb[j] - v[j * dsub:(j + 1) * dsub]
            out[i, j * kc:(j + 1) * kc] = (diff * diff).sum(axis=1)
    return out


def _adc_dist(m: int, kc: int, codes_col: str):
    """The ADC fold expression: dist = sum_j ``__lut[j*k + codes[j]]``
    (element_at is 1-based), summed LEFT-TO-RIGHT so an oracle can
    replay the exact double-fold order. Unrolled over the STATIC m:
    the sequence/transform/aggregate HOF chain is
    CodegenFallback — interpreted once per (corpus row x query), the
    hottest expression of the ADC scan — while this flat Add tree is
    the identical left-to-right double fold (seed 0.0) compiled by
    whole-stage codegen."""
    acc = F.lit(0.0)
    for j in range(m):
        acc = acc + F.element_at(
            F.col("__lut"),
            (
                F.lit(j * kc) + F.element_at(F.col(codes_col), j + 1)
                + F.lit(1)
            ).cast("int"),
        )
    return acc


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    *,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    k: int = 5,
    exclude_self: bool = True,
    dist_decimals: int = 6,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_dist, rank) with the
    SMALLEST approximate squared-L2 distances (= cosine ranking on the
    normalized vectors). Each query's (m*k)-float lookup table is built
    driver-side from its exact vector and broadcast with the query; the
    corpus side folds its code array through the table with pure
    expressions — no Python, no shuffle of the codes relation beyond
    the final per-query top-k window."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)
    m, kc, _dsub = cb.shape
    qrows = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    spark = queries.sparkSession
    if qrows:
        tables = query_luts(cb, [r["qv"] for r in qrows])
        lut_rows = [
            (r.query_id, [float(x) for x in lut])
            for r, lut in zip(qrows, tables)
        ]
        luts = spark.createDataFrame(lut_rows, ["query_id", "__lut"])
    else:
        # zero queries: inference has no rows — build the empty relation
        # with the query-id type taken from the INPUT schema so the
        # result schema matches the non-empty path exactly
        from pyspark.sql import types as T

        luts = spark.createDataFrame(
            [],
            T.StructType([
                T.StructField(
                    "query_id", queries.schema[query_id].dataType, True
                ),
                T.StructField("__lut", T.ArrayType(T.DoubleType()), True),
            ]),
        )

    adc = _adc_dist(m, kc, codes_col)
    joined = corpus_codes.crossJoin(F.broadcast(luts))
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col("query_id"))
    dists = joined.select(
        "query_id",
        F.col(corpus_id).alias("neighbor_id"),
        F.round(adc, dist_decimals).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def _ivfpq_index(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    *,
    m: int,
    k_codes: int,
    num_centroids: int,
    seed: int,
    sample_cap: int,
    deterministic: bool,
    residual: bool,
):
    """Shared IVFADC index build: one id-ordered driver sample trains
    BOTH quantizers, one Arrow pass encodes the corpus. Returns
    ``(enc, centroids, cb)`` where ``enc`` is the (corpus_id, cell,
    codes) relation — the only thing a serving tier persists."""
    import numpy as np

    from my_feast_spark.operators.similarity import make_cell_assigner

    c = spread_partitions(corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )

    # one id-ordered capped sample feeds BOTH quantizers (TopK plan:
    # orderBy+limit -> TakeOrderedAndProject, never a global sort)
    sample = (
        c.orderBy("corpus_id").select("cv").limit(sample_cap).collect()
    )
    X = np.asarray([r.cv for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    centroids = train_ivf_centroids(Xn, num_centroids, seed=seed)
    assigner = make_cell_assigner(centroids, deterministic=deterministic)
    if residual:
        # codebooks on the within-cell residuals of the SAME sample —
        # no re-normalization (a residual's length is its information)
        Rs = Xn - centroids[assigner(Xn, 1)[:, 0]]
        cb = codebooks_from_sample(
            Rs, m=m, k=k_codes, seed=seed, normalize=False
        )
    else:
        cb = codebooks_from_sample(X, m=m, k=k_codes, seed=seed)

    enc = _encode_with_quantizers(
        c, centroids, cb, residual=residual, deterministic=deterministic
    )
    return enc, centroids, cb


def _encode_with_quantizers(
    c: DataFrame, centroids, cb, *, residual: bool, deterministic: bool,
) -> DataFrame:
    """The IVFADC encode pass with FROZEN quantizers: one Arrow pass
    from (corpus_id, cv) to (corpus_id, cell, codes). Shared by the
    initial build and :func:`ivfpq_append` (which must encode new
    vectors with the index's existing quantizer state, never retrain)."""
    from my_feast_spark.operators.similarity import make_cell_assigner

    assigner = make_cell_assigner(centroids, deterministic=deterministic)
    encode = make_pq_encoder(
        cb, deterministic=deterministic, normalize=not residual
    )

    # encode: ONE Arrow pass -> (corpus_id, cell, codes)
    @F.pandas_udf("struct<cell: int, codes: array<int>>")
    def cell_codes(col: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(col) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype=object)})
        vecs = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        vn = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
        )
        cells_ = assigner(vn, 1)[:, 0]
        target = (vn - centroids[cells_]) if residual else vecs
        return pd.DataFrame({
            "cell": pd.Series(cells_.astype("int32")),
            "codes": pd.Series(list(encode(target))),
        })

    # asNondeterministic is an OPTIMIZER FENCE, not a semantics claim:
    # the probe join's implicit isnotnull(cell) otherwise pushes below
    # the spread_partitions Exchange and Catalyst re-evaluates the UDF
    # there — the whole encode pass would run TWICE over the corpus
    # (measured in .explain: two ArrowEvalPython nodes). The encode is
    # deterministic; it just must not be cloned.
    cell_codes = cell_codes.asNondeterministic()
    return c.select(
        "corpus_id", cell_codes(F.col("cv")).alias("cc")
    ).select("corpus_id", F.col("cc.cell").alias("cell"),
             F.col("cc.codes").alias("codes"))


def _ivfpq_probe_plan(
    spark,
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    centroids,
    cb,
    *,
    nprobe: int,
    deterministic: bool,
    residual: bool,
):
    """The broadcastable probe relation (query_id, cell, __lut) plus its
    probed-cell SET: queries collected driver-side (bounded batch — the
    pq_topk/ivf_topk stance), ``nprobe`` rows per query; under
    ``residual`` each row's table comes from the query's residual
    against THAT cell. The cell set is already known driver-side, so
    consumers never pay a Spark job to re-derive it."""
    import numpy as np

    from my_feast_spark.operators.similarity import make_cell_assigner

    assigner = make_cell_assigner(centroids, deterministic=deterministic)
    qrows = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    if not qrows:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType([
                T.StructField(
                    "query_id", queries.schema[query_id].dataType, True
                ),
                T.StructField("cell", T.IntegerType(), True),
                T.StructField("__lut", T.ArrayType(T.DoubleType()), True),
            ]),
        ), set()
    Q = np.asarray([r.qv for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probes = assigner(Qn, nprobe)  # (nq, nprobe)
    if residual:
        # one table per (query, probed cell): the query's residual
        # against THAT cell is what the cell's codes approximate
        probe_rows = [
            (r.query_id, int(cell), [float(x) for x in lut])
            for r, cells, qn in zip(qrows, probes, Qn)
            for cell, lut in zip(
                cells,
                query_luts(
                    cb, qn[None, :] - centroids[list(cells)],
                    normalize=False,
                ),
            )
        ]
    else:
        luts = query_luts(cb, Q)   # (nq, m*k)
        probe_rows = [
            (r.query_id, int(cell), [float(x) for x in lut])
            for r, cells, lut in zip(qrows, probes, luts)
            for cell in cells
        ]
    plan = spark.createDataFrame(probe_rows, ["query_id", "cell", "__lut"])
    return plan, {cell for _qid, cell, _lut in probe_rows}


def _ivfpq_rank(
    enc: DataFrame,
    plan: DataFrame,
    *,
    m: int,
    k_codes: int,
    k: int,
    exclude_self: bool,
    dist_decimals: int,
) -> DataFrame:
    """Probe join + in-order ADC fold + per-query top-k window."""
    joined = enc.join(F.broadcast(plan), "cell")
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    dists = joined.select(
        "query_id",
        F.col("corpus_id").alias("neighbor_id"),
        F.round(_adc_dist(m, k_codes, "codes"), dist_decimals).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivfpq_build(
    corpus: DataFrame,
    *,
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    num_centroids: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
    deterministic: bool = True,
    residual: bool = True,
):
    """Build a reusable IVFADC index: returns ``(enc, model)`` where
    ``enc`` is the (corpus_id, cell, codes) relation and ``model`` the
    plain-dict quantizer state (centroids, codebooks, params) that
    ``ivfpq_search`` / ``write_ivfpq_index`` consume. The index is
    query-independent — build once, serve any number of probe batches."""
    enc, centroids, cb = _ivfpq_index(
        corpus, corpus_id, vec_col,
        m=m, k_codes=k_codes, num_centroids=num_centroids, seed=seed,
        sample_cap=sample_cap, deterministic=deterministic,
        residual=residual,
    )
    model = {
        "centroids": centroids.tolist(),
        "codebooks": cb.tolist(),
        "m": m,
        "k_codes": k_codes,
        "residual": residual,
    }
    return enc, model


#: the generation key of ``path/cells`` and its fold's model file
_KEY = "append_id"
_MODEL = "_model.json"


def write_ivfpq_index(enc: DataFrame, model: dict, path: str) -> None:
    """Persist the IVFADC index CELL-PARTITIONED with an append
    generation axis: ``path/cells`` is a generation root
    (``sources.generations``) whose ``append_id=N/cell=K`` directories
    hold the (corpus_id, codes) rows. The build is a fold (id -1 on a
    fresh root) whose ``_model.json`` holds the quantizer state and the
    rows' schema; :func:`ivfpq_append` publishes generations 0, 1, ...
    encoded with that state. The cell layout is the point: a probe
    batch touching ``p`` distinct cells reads ``p/num_cells`` of the
    index via directory-level partition pruning REGARDLESS of how many
    generations exist (the cell filter prunes inside every generation)
    — the serving-tier analogue of the streaming dedup index's pbucket
    layout.

    A (re)build folds EVERY committed generation into the new one
    (appends encoded with the OLD quantizers must never meet the new
    model): codes and model commit under one marker, so readers see the
    old index until then and the new one after, and the absorbed ids
    are never published again (a late retry of such an append raises
    ValueError)."""
    root = f"{path.rstrip('/')}/cells"
    meta = {
        "model": model,
        "schema": enc.drop("cell").schema.jsonValue(),
    }

    def write(gen_dir: str, _sources: list[str]) -> None:
        enc.repartition("cell").write.partitionBy("cell").parquet(gen_dir)
        write_json(f"{gen_dir}/{_MODEL}", meta)

    fold(root, _KEY, [n for n, _ in committed(root, _KEY)], write)


def _read_index(path: str):
    """``(cells root, committed generations, _model.json document)`` of
    the index at ``path``; FileNotFoundError when nothing is
    committed."""
    root = f"{path.rstrip('/')}/cells"
    gens, meta = read_base_json(root, _KEY, _MODEL)
    if not gens:
        raise FileNotFoundError(
            f"no index at {path!r}: no committed generations under "
            f"{root!r} (nothing written, a torn build or an unknown "
            "layout); build one with write_ivfpq_index"
        )
    return root, gens, meta


def read_ivfpq_index(spark, path: str):
    """Load ``(enc, model)`` written by :func:`write_ivfpq_index` (+ any
    :func:`ivfpq_append` generations) with no Spark job — ``enc`` scans
    the committed generations with ``basePath`` and the stored schema,
    so downstream probe filters prune cell directories. A torn append
    (no commit marker) never serves."""
    import numpy as np

    root, gens, meta = _read_index(path)
    enc = read(
        spark, root, _KEY, T.StructType.fromJson(meta["schema"]), gens=gens
    ).select("corpus_id", F.col("cell").cast("int").alias("cell"), "codes")
    model = meta["model"]
    model["centroids"] = np.asarray(model["centroids"], dtype=np.float64)
    model["codebooks"] = np.asarray(model["codebooks"], dtype=np.float64)
    return enc, model


def ivfpq_append(
    spark,
    path: str,
    new_corpus: DataFrame,
    *,
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    deterministic: bool = True,
    append_id: int | None = None,
) -> dict:
    """Append new vectors to a persisted IVFADC index WITHOUT
    retraining: encode them with the index's frozen quantizer state
    (one Arrow pass) and publish a fresh ``append_id=N`` generation
    under ``path/cells`` (``sources.generations.publish``) — the
    index-tier analogue of the dedup ingests' per-batch generations.

    Frozen quantizers are the IVF contract: cell centroids and PQ
    codebooks must not move under an existing index or every persisted
    code would be re-interpreted against the wrong geometry. The cost
    is drift — vectors from a distribution the training sample never
    saw can crowd a few cells and erode the nprobe/num_cells read
    fraction. The returned stats make that observable per append:
    ``cells_touched`` / ``max_cell_rows`` against an even split is the
    rebuild trigger (rebuild = ivfpq_build + write_ivfpq_index, which
    folds every generation into one).

    The quantizer state comes from the ``_model.json`` of the lowest
    committed generation, the latest build. Idempotent replay needs a
    STABLE generation id: the auto-assigned id is
    ``sources.generations.next_id`` (1 + the highest id committed or
    absorbed, so 0 right after the first build), and a retry after a
    crash-between-commit-and-ack would land a SECOND generation with
    the same vectors. Orchestrated callers (foreachBatch, workflow
    retries) must pass ``append_id`` (>= 0): a retry then replaces its
    whole generation — every cell, not only the cells it writes again —
    and a retry of an id a rebuild has absorbed raises ValueError. A
    torn append (crash before its commit marker) never serves, and the
    next append with its id (the retry, or the next auto-assigned
    append) overwrites it.

    Returns ``{"append_id", "rows", "cells_touched", "max_cell_rows"}``.
    """
    import numpy as np

    cells_root, _gens, meta = _read_index(path)
    if append_id is None:
        append_id = next_id(cells_root, _KEY)

    model = meta["model"]
    centroids = np.asarray(model["centroids"], dtype=np.float64)
    cb = np.asarray(model["codebooks"], dtype=np.float64)

    c = spread_partitions(new_corpus).select(
        F.col(corpus_id).alias("corpus_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    enc = _encode_with_quantizers(
        c, centroids, cb,
        residual=bool(model["residual"]),
        deterministic=deterministic,
    )
    gen_dir = publish(
        cells_root, _KEY, append_id,
        enc.repartition("cell").write.partitionBy("cell").parquet,
    )

    per_cell = (
        spark.read.parquet(gen_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {
        "append_id": append_id,
        "rows": int(sum(r["n"] for r in per_cell)),
        "cells_touched": len(per_cell),
        "max_cell_rows": int(max((r["n"] for r in per_cell), default=0)),
    }


def ivfpq_search(
    enc: DataFrame,
    model: dict,
    queries: DataFrame,
    *,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    nprobe: int = 3,
    k: int = 5,
    exclude_self: bool = True,
    dist_decimals: int = 6,
    deterministic: bool = True,
) -> DataFrame:
    """Serve a probe batch against a prebuilt (possibly disk-resident)
    IVFADC index. The probed-cell set is pushed into the index scan as
    a partition filter BEFORE the broadcast join, so a
    ``write_ivfpq_index`` layout reads only the probed cells'
    directories — the billion-vector serving shape."""
    import numpy as np

    spark = queries.sparkSession
    centroids = np.asarray(model["centroids"], dtype=np.float64)
    cb = np.asarray(model["codebooks"], dtype=np.float64)
    plan, probed = _ivfpq_probe_plan(
        spark, queries, query_id, vec_col, centroids, cb,
        nprobe=nprobe, deterministic=deterministic,
        residual=bool(model["residual"]),
    )
    pruned = (
        enc.filter(F.col("cell").isin(sorted(int(c) for c in probed)))
        if probed else enc
    )
    return _ivfpq_rank(
        pruned, plan, m=int(model["m"]), k_codes=int(model["k_codes"]),
        k=k, exclude_self=exclude_self, dist_decimals=dist_decimals,
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    num_centroids: int = 16,
    nprobe: int = 3,
    k: int = 5,
    seed: int = 42,
    sample_cap: int = 4096,
    exclude_self: bool = True,
    dist_decimals: int = 6,
    deterministic: bool = True,
    residual: bool = False,
) -> DataFrame:
    """IVFADC — the Jégou-2011 composition of the IVF coarse quantizer
    with PQ's asymmetric distance: the structure a billion-vector ANN
    tier actually runs, where ``pq_topk``'s exhaustive ADC scan is the
    verification baseline.

    Index build (ONE driver-side id-ordered sample, shared by both
    quantizers): coarse k-means centroids over the normalized sample
    (``similarity.train_ivf_centroids``) + per-subspace PQ codebooks
    (``codebooks_from_sample``). Encode is ONE Arrow pass emitting
    ``(corpus_id, cell, codes)`` — the only relation the search tier
    keeps, ~1 int + m bytes per vector. Search: each query probes its
    ``nprobe`` nearest cells and ADC-folds ONLY within them — candidate
    volume ~``nprobe/num_centroids`` of the corpus per query instead of
    all of it, and the per-row cost is the same m-lookup codegen fold as
    ``pq_topk`` (`_adc_dist`). The probe side (query, cell, lut) is
    broadcast; the corpus relation joins on ``cell`` with no shuffle —
    at scale, store it partitioned/bucketed by ``cell`` so the probe
    join also prunes the scan to the probed cells.

    ``residual=False`` quantizes the RAW normalized vector;
    ``residual=True`` is the full Jégou IVFADC: codebooks train on and
    codes encode the RESIDUAL ``x_n - centroid(cell)``, and each query
    builds ONE lookup table PER PROBED CELL from its own residual
    against that cell — the quantizer spends its bits on the
    within-cell distribution, which is tighter than the global one, so
    accuracy rises at the same code budget. Plan shape is identical in
    both modes (the probe relation just carries per-(query, cell)
    tables instead of per-query ones), and both stay fully
    deterministic / oracle-replayable from injected literals.

    Ranking matches cosine up to quantization error plus the probe
    approximation; recall vs exact cosine is measured in tests
    (``test_pq.py``), mirroring ``ivf_topk``.
    """
    enc, centroids, cb = _ivfpq_index(
        corpus, corpus_id, vec_col,
        m=m, k_codes=k_codes, num_centroids=num_centroids, seed=seed,
        sample_cap=sample_cap, deterministic=deterministic,
        residual=residual,
    )
    plan, _probed = _ivfpq_probe_plan(
        queries.sparkSession, queries, query_id, vec_col, centroids, cb,
        nprobe=nprobe, deterministic=deterministic, residual=residual,
    )
    return _ivfpq_rank(
        enc, plan, m=m, k_codes=k_codes, k=k,
        exclude_self=exclude_self, dist_decimals=dist_decimals,
    )
