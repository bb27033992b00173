"""Product quantization: encode determinism, the ADC expression fold vs
a pure-numpy reference (the indexing math is where an expression port
breaks), and retrieval sanity vs exact cosine."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from my_feast_spark.operators.pq import (
    make_pq_encoder,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)

M, K = 8, 16


@pytest.fixture(scope="module")
def emb(spark):
    from my_feast_spark.sources.readers import load_table

    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


@pytest.fixture(scope="module")
def codebooks(emb):
    cb = train_pq_codebooks(emb, "embedding", "vec_id", m=M, k=K)
    assert cb.shape == (M, K, 64 // M)
    return cb


def test_encode_shapes_and_determinism(spark, emb, codebooks):
    codes = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", codebooks).collect()
    }
    assert len(codes) == emb.count()
    for c in codes.values():
        assert len(c) == M and all(0 <= x < K for x in c)
    again = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "vec_id", "embedding", codebooks).collect()
    }
    assert codes == again, "deterministic encode must be batch-invariant"


def test_adc_fold_matches_numpy_reference(spark, emb, codebooks):
    """The Spark-side distance is a pure-expression fold
    element_at(lut, j*k + code_j) — verify every (query, neighbor,
    dist, rank) against an in-process ADC over the SAME codes."""
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus_codes = pq_encode(emb, "vec_id", "embedding", codebooks).select(
        F.col("vec_id").alias("corpus_id"), "codes"
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in pq_topk(
            queries, corpus_codes, codebooks, k=5
        ).collect()
    }

    # reference: same codes, numpy luts, same rounding and tie order
    codes = {r.corpus_id: np.array(r.codes) for r in corpus_codes.collect()}
    cb = np.asarray(codebooks)
    dsub = cb.shape[2]
    qv = {r.query_id: np.asarray(r.embedding, dtype=np.float64)
          for r in queries.collect()}
    for qid, v in qv.items():
        v = v / max(np.linalg.norm(v), 1e-12)
        lut = np.stack([
            ((cb[j] - v[j * dsub:(j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(cb.shape[0])
        ])
        dists = sorted(
            (round(float(sum(lut[j, c[j]] for j in range(cb.shape[0]))), 6), nid)
            for nid, c in codes.items() if nid != qid
        )
        for rank in range(1, 6):
            d, nid = dists[rank - 1]
            assert got[(qid, rank)] == (nid, pytest.approx(d, abs=1e-9)), (
                qid, rank
            )


def test_empty_query_set_returns_empty(spark, emb, codebooks):
    corpus_codes = pq_encode(emb, "vec_id", "embedding", codebooks).select(
        F.col("vec_id").alias("corpus_id"), "codes"
    )
    none = emb.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(none, corpus_codes, codebooks, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "adc_dist", "rank"]


def test_recall_vs_exact_cosine(spark, emb, codebooks):
    """PQ is lossy; pin the measured recall of the true cosine top-1
    inside ADC top-5 (deterministic data + seed => stable number)."""
    from my_feast_spark.operators.similarity import cosine_topk

    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    truth = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(queries, corpus, k=1).collect()
    }
    corpus_codes = pq_encode(emb, "vec_id", "embedding", codebooks).select(
        F.col("vec_id").alias("corpus_id"), "codes"
    )
    approx: dict = {}
    for r in pq_topk(queries, corpus_codes, codebooks, k=5).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, t in truth.items() if t in approx[q])
    assert hits / len(truth) >= 0.5, f"recall@5 collapsed: {hits}/{len(truth)}"


def test_ivfpq_equals_exhaustive_adc_within_probed_cells(spark, emb):
    """IVFADC must return EXACTLY what exhaustive ADC returns when the
    candidate set is restricted to the query's probed cells — same
    codes, same luts, same fold, the only difference being the coarse
    candidate pruning. Replay the pruning in-process and compare every
    (query, rank) -> (neighbor, dist)."""
    from my_feast_spark.operators.pq import (
        codebooks_from_sample,
        ivfpq_topk,
        make_pq_encoder,
        query_luts,
    )
    from my_feast_spark.operators.similarity import (
        make_cell_assigner,
        train_ivf_centroids,
    )

    nprobe, ncells = 3, 8
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in ivfpq_topk(
            queries, corpus, m=M, k_codes=K,
            num_centroids=ncells, nprobe=nprobe, k=5,
        ).collect()
    }

    # in-process replay of the same index build + pruning + ADC
    rows = sorted(
        (r.vec_id, np.asarray(r.embedding, dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = [i for i, _ in rows]
    V = np.stack([v for _, v in rows])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    centroids = train_ivf_centroids(Vn, ncells)
    cb = codebooks_from_sample(V, m=M, k=K)
    assign = make_cell_assigner(centroids)
    cells = assign(Vn, 1)[:, 0]
    codes = make_pq_encoder(cb)(V)
    qidx = [i for i, vid in enumerate(ids) if vid < 10]
    probes = assign(Vn[qidx], nprobe)
    luts = query_luts(cb, V[qidx])
    for qpos, qi in enumerate(qidx):
        qid = ids[qi]
        probed = set(probes[qpos])
        cand = sorted(
            (
                round(float(sum(luts[qpos][j * K + codes[i][j]]
                                for j in range(M))), 6),
                ids[i],
            )
            for i in range(len(ids))
            if cells[i] in probed and ids[i] != qid
        )
        for rank in range(1, min(5, len(cand)) + 1):
            d, nid = cand[rank - 1]
            assert got[(qid, rank)] == (nid, pytest.approx(d, abs=1e-9)), (
                qid, rank
            )
        for rank in range(len(cand) + 1, 6):
            assert (qid, rank) not in got


def test_ivfpq_empty_query_set(spark, emb):
    from my_feast_spark.operators.pq import ivfpq_topk

    none = emb.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = ivfpq_topk(none, corpus, m=M, k_codes=K, num_centroids=8, nprobe=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "adc_dist", "rank"]


def test_ivfpq_recall_vs_exact_cosine(spark, emb):
    """Coarse pruning stacks on PQ loss; pin recall@5 of the true
    cosine top-1 with a healthy probe setting."""
    from my_feast_spark.operators.pq import ivfpq_topk
    from my_feast_spark.operators.similarity import cosine_topk

    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    truth = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(queries, corpus, k=1).collect()
    }
    approx: dict = {}
    for r in ivfpq_topk(
        queries, corpus, m=M, k_codes=K, num_centroids=8, nprobe=4, k=5
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, t in truth.items() if t in approx.get(q, set()))
    assert hits / len(truth) >= 0.5, f"recall@5 collapsed: {hits}/{len(truth)}"


def test_ivfpq_residual_matches_numpy_replay(spark, emb):
    """residual=True is the paper's IVFADC: codes approximate the
    within-cell residual and each query folds a per-probed-cell table.
    Replay the full residual index build + pruning + ADC in-process and
    compare every (query, rank) -> (neighbor, dist)."""
    from my_feast_spark.operators.pq import (
        codebooks_from_sample,
        ivfpq_topk,
        make_pq_encoder,
        query_luts,
    )
    from my_feast_spark.operators.similarity import (
        make_cell_assigner,
        train_ivf_centroids,
    )

    nprobe, ncells = 3, 8
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in ivfpq_topk(
            queries, corpus, m=M, k_codes=K,
            num_centroids=ncells, nprobe=nprobe, k=5, residual=True,
        ).collect()
    }

    rows = sorted(
        (r.vec_id, np.asarray(r.embedding, dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = [i for i, _ in rows]
    V = np.stack([v for _, v in rows])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    centroids = train_ivf_centroids(Vn, ncells)
    assign = make_cell_assigner(centroids)
    Rs = Vn - centroids[assign(Vn, 1)[:, 0]]
    cb = codebooks_from_sample(Rs, m=M, k=K, normalize=False)
    cells = assign(Vn, 1)[:, 0]
    codes = make_pq_encoder(cb, normalize=False)(Vn - centroids[cells])
    qidx = [i for i, vid in enumerate(ids) if vid < 10]
    probes = assign(Vn[qidx], nprobe)
    for qpos, qi in enumerate(qidx):
        qid = ids[qi]
        luts = {
            int(cell): lut
            for cell, lut in zip(
                probes[qpos],
                query_luts(
                    cb,
                    Vn[qi][None, :] - centroids[list(probes[qpos])],
                    normalize=False,
                ),
            )
        }
        cand = sorted(
            (
                round(float(sum(luts[cells[i]][j * K + codes[i][j]]
                                for j in range(M))), 6),
                ids[i],
            )
            for i in range(len(ids))
            if cells[i] in luts and ids[i] != qid
        )
        for rank in range(1, min(5, len(cand)) + 1):
            d, nid = cand[rank - 1]
            assert got[(qid, rank)] == (nid, pytest.approx(d, abs=1e-9)), (
                qid, rank
            )
        for rank in range(len(cand) + 1, 6):
            assert (qid, rank) not in got


def test_ivfpq_index_roundtrip_and_cell_pruning(spark, emb, tmp_path):
    """build -> write (cell-partitioned) -> read -> search must return
    EXACTLY what the one-shot ivfpq_topk returns for the same params,
    and the served scan must read only the probed cells' partition
    directories (the billion-vector serving shape)."""
    from my_feast_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
        ivfpq_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    params = dict(m=M, k_codes=K, num_centroids=8)
    want = sorted(
        map(tuple, ivfpq_topk(
            queries, corpus, nprobe=3, k=5, residual=True, **params
        ).collect())
    )

    enc, model = ivfpq_build(corpus, residual=True, **params)
    path = str(tmp_path / "ivfpq_index")
    write_ivfpq_index(enc, model, path)
    enc2, model2 = read_ivfpq_index(spark, path)
    got_df = ivfpq_search(enc2, model2, queries, nprobe=3, k=5)
    got = sorted(map(tuple, got_df.collect()))
    assert got == want

    # pruning: the probed-cell filter reads a strict subset of the
    # partition directories (inputFiles() ignores pruning — probe the
    # executed scan via input_file_name)
    def files_read(df):
        return {
            r.f
            for r in df.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }

    every = files_read(enc2)
    assert any("cell=" in f for f in every)
    one_cell = files_read(enc2.filter(F.col("cell") == enc2.select(
        F.min("cell")).collect()[0][0]))
    assert one_cell and one_cell < every


def test_ivfpq_append_extends_index_without_retraining(spark, emb, tmp_path):
    """Append new vectors as a fresh append_id generation: search finds
    them, quantizer state never changes, a replayed append (same id)
    does not duplicate, and cell pruning still prunes across
    generations."""
    import os

    import pytest as _pytest

    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_search,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    corpus = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    newbies = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=8
    )
    path = str(tmp_path / "idx")
    write_ivfpq_index(enc, model, path)

    stats = ivfpq_append(spark, path, newbies)
    assert stats["append_id"] == 0  # the build is fold -1
    assert stats["rows"] == newbies.count()
    assert 1 <= stats["cells_touched"] <= 8
    assert stats["max_cell_rows"] >= stats["rows"] // 8

    enc2, model2 = read_ivfpq_index(spark, path)
    assert enc2.count() == corpus.count() + newbies.count()
    # quantizer state untouched by the append
    assert model2["centroids"].tolist() == model["centroids"]
    assert model2["codebooks"].tolist() == model["codebooks"]

    # appended vectors are SERVED: with every cell probed and k covering
    # the index, a query that is a new vector must see itself among the
    # neighbors (rank-1 self-retrieval is NOT guaranteed under PQ
    # quantization error — membership is the deterministic contract)
    q = newbies.limit(1).select(
        F.col("corpus_id").alias("query_id"), "embedding"
    )
    total = corpus.count() + newbies.count()
    got_ids = {
        r["neighbor_id"]
        for r in ivfpq_search(
            enc2, model2, q, nprobe=8, k=total, exclude_self=False
        ).collect()
    }
    assert q.collect()[0]["query_id"] in got_ids

    # crash replay: publishing generation 0 again with the same rows
    # replaces it, never duplicates
    gen0 = os.path.join(path, "cells", "append_id=0")
    before = spark.read.parquet(gen0).count()
    from my_feast_spark.operators.pq import _encode_with_quantizers
    from my_feast_spark.sources.generations import publish
    from my_feast_spark.sources.readers import spread_partitions

    c = spread_partitions(newbies).select(
        "corpus_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "cv"
        ),
    )
    publish(
        os.path.join(path, "cells"), "append_id", 0,
        _encode_with_quantizers(
            c, model2["centroids"], model2["codebooks"],
            residual=True, deterministic=True,
        ).repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet,
    )
    assert spark.read.parquet(gen0).count() == before
    assert read_ivfpq_index(spark, path)[0].count() == (
        corpus.count() + newbies.count()
    )

    # pruning across generations: one cell reads a strict subset
    # (re-read: enc2's file listing predates the replay overwrite above)
    enc2, _ = read_ivfpq_index(spark, path)

    def files_read(df):
        return {
            r.f
            for r in df.select(F.input_file_name().alias("f"))
            .distinct().collect()
        }

    every = files_read(enc2)
    assert any("append_id=0" in f for f in every)
    cmin = enc2.select(F.min("cell")).collect()[0][0]
    one = files_read(enc2.filter(F.col("cell") == cmin))
    assert one and one < every

    # a second append lands generation 1
    assert ivfpq_append(spark, path, newbies.limit(3))["append_id"] == 1

    with _pytest.raises(FileNotFoundError, match="no index"):
        ivfpq_append(spark, str(tmp_path / "nope"), newbies)


def test_ivfpq_append_stable_id_replay_and_torn_generation(
    spark, emb, tmp_path
):
    """Auto-assigned generation ids are not replay-idempotent (a retry
    after crash-between-commit-and-ack lands the same vectors twice); a
    caller-supplied append_id overwrites its own generation, and a torn
    generation (no commit marker) never serves and is overwritten by the
    next auto-assigned append."""
    import os

    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from my_feast_spark.sources.generations import publish

    corpus = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    newbies = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=8
    )
    path = str(tmp_path / "idx")
    write_ivfpq_index(enc, model, path)

    # stable-id replay: same append_id twice -> one generation's rows
    ivfpq_append(spark, path, newbies, append_id=7)
    ivfpq_append(spark, path, newbies, append_id=7)  # the retry
    enc2, _ = read_ivfpq_index(spark, path)
    assert enc2.count() == corpus.count() + newbies.count()

    # a torn generation must not serve: an append that crashed after
    # its data write, before its commit marker, at the next auto id
    def torn_write(gen_dir):
        newbies.limit(3).selectExpr(
            "corpus_id", "array(1, 2) AS codes"
        ).write.parquet(os.path.join(gen_dir, "cell=0"))
        raise RuntimeError("crash before the commit marker")

    with pytest.raises(RuntimeError, match="crash before"):
        publish(os.path.join(path, "cells"), "append_id", 8, torn_write)
    assert os.path.isdir(os.path.join(path, "cells", "append_id=8"))
    enc3, _ = read_ivfpq_index(spark, path)
    assert enc3.count() == corpus.count() + newbies.count()
    # the next auto-assigned append takes the torn id and replaces it
    stats = ivfpq_append(spark, path, newbies.limit(4))
    assert stats["append_id"] == 8 and stats["rows"] == 4
    enc4, _ = read_ivfpq_index(spark, path)
    assert enc4.count() == corpus.count() + newbies.count() + 4

    with pytest.raises(ValueError, match="generation ids >= 0 only"):
        ivfpq_append(spark, path, newbies, append_id=-1)


def test_ivfpq_append_retry_replaces_every_cell(spark, emb, tmp_path):
    """A same-id retry replaces its WHOLE generation: under the
    session's dynamic partition-overwrite mode a plain overwrite of
    ``append_id=N`` replaces only the cell directories the retry
    writes, and the first attempt's rows in every other cell would keep
    serving."""
    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    corpus = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    newbies = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=8
    )
    path = str(tmp_path / "idx")
    write_ivfpq_index(enc, model, path)

    first = ivfpq_append(spark, path, newbies, append_id=7)
    # 5 rows reach at most 5 cells: the first attempt has rows in cells
    # the retry does not write
    assert first["cells_touched"] > 5
    retry_rows = newbies.orderBy("corpus_id").limit(5)
    retry = ivfpq_append(spark, path, retry_rows, append_id=7)

    enc2, _ = read_ivfpq_index(spark, path)
    served = enc2.join(corpus, "corpus_id", "left_anti")
    assert sorted(r.corpus_id for r in served.collect()) == sorted(
        r.corpus_id for r in retry_rows.collect()
    )
    assert retry["rows"] == 5


def test_ivfpq_rebuild_replaces_every_generation(spark, emb, tmp_path):
    """A rebuild folds the whole cells root into one generation: prior
    append generations (encoded with the OLD quantizers) must never be
    unioned against the new model, and stale cell=K dirs from a
    previous larger build are gone too (the session's dynamic
    partition-overwrite mode would keep both under a plain partitioned
    overwrite)."""
    import os

    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from my_feast_spark.sources.generations import committed

    corpus = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    newbies = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    path = str(tmp_path / "idx")
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=8
    )
    write_ivfpq_index(enc, model, path)
    ivfpq_append(spark, path, newbies, append_id=1)
    assert read_ivfpq_index(spark, path)[0].count() == (
        corpus.count() + newbies.count()
    )

    # the documented drift remedy: rebuild over the FULL corpus with a
    # smaller cell count (so the old layout has cell dirs the new one
    # never writes)
    full = corpus.unionByName(newbies)
    enc2, model2 = ivfpq_build(
        full, residual=True, m=M, k_codes=K, num_centroids=4
    )
    write_ivfpq_index(enc2, model2, path)

    cells_root = os.path.join(path, "cells")
    (gen,) = committed(cells_root, "append_id")
    on_disk = [
        d for d in os.listdir(cells_root) if d.startswith("append_id=")
    ]
    assert on_disk == [os.path.basename(gen[1])], (
        f"stale generations survived: {on_disk}"
    )
    # no stale cell dirs beyond the new build's 4 centroids
    cells = [d for d in os.listdir(gen[1]) if d.startswith("cell=")]
    assert cells and all(int(c.split("=")[1]) < 4 for c in cells)
    enc3, model3 = read_ivfpq_index(spark, path)
    assert enc3.count() == full.count()
    assert model3["centroids"].shape[0] == 4


def test_ivfpq_stale_append_retry_after_rebuild_raises(spark, emb, tmp_path):
    """A rebuild absorbs every append id: a late retry of an append the
    rebuild already re-encoded raises instead of serving its vectors a
    second time, and the index serves exactly the rebuild's corpus."""
    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    corpus = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    newbies = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    params = dict(residual=True, m=M, k_codes=K, num_centroids=4)
    path = str(tmp_path / "idx")
    write_ivfpq_index(*ivfpq_build(corpus, **params), path)
    ivfpq_append(spark, path, newbies, append_id=1)
    full = corpus.unionByName(newbies)
    write_ivfpq_index(*ivfpq_build(full, **params), path)

    with pytest.raises(ValueError, match="append_id=1 .* was folded"):
        ivfpq_append(spark, path, newbies, append_id=1)
    assert read_ivfpq_index(spark, path)[0].count() == full.count()


def test_ivfpq_torn_initial_build_refuses_to_serve(spark, emb, tmp_path):
    """A cells root whose generation 0 crashed before its commit marker
    has zero committed generations: the reader raises instead of
    serving the half-written data. A cells root in a layout without the
    generation root marker raises too, and is left as it was."""
    import os

    from my_feast_spark.operators.pq import read_ivfpq_index
    from my_feast_spark.sources.generations import publish

    path = str(tmp_path / "idx")

    def torn_write(gen_dir):
        emb.limit(3).selectExpr(
            "vec_id AS corpus_id", "array(1, 2) AS codes"
        ).write.parquet(os.path.join(gen_dir, "cell=0"))
        raise RuntimeError("crash before the commit marker")

    with pytest.raises(RuntimeError, match="crash before"):
        publish(os.path.join(path, "cells"), "append_id", 0, torn_write)
    with pytest.raises(FileNotFoundError, match="torn build"):
        read_ivfpq_index(spark, path)

    # committed-looking generations without the root marker
    old = str(tmp_path / "old_idx")
    gen0 = os.path.join(old, "cells", "append_id=0")
    emb.limit(3).selectExpr(
        "vec_id AS corpus_id", "array(1, 2) AS codes"
    ).write.parquet(os.path.join(gen0, "cell=0"))
    open(os.path.join(gen0, "_GEN_COMMITTED"), "w").close()
    before = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(old) for f in fs
    )
    with pytest.raises(ValueError, match="no _GENERATIONS root marker"):
        read_ivfpq_index(spark, old)
    assert sorted(
        os.path.join(d, f) for d, _, fs in os.walk(old) for f in fs
    ) == before


def test_failed_rebuild_keeps_old_index_serving(spark, emb, tmp_path):
    """A rebuild must not destroy the serving index before its
    replacement exists: a rebuild whose write fails leaves the old
    index serving (its fold never commits). A cells root holding only
    cell=K directories is not a layout the writer produces and is
    refused."""
    import os

    from pyspark.sql import functions as F2
    from pyspark.sql.functions import udf

    from my_feast_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    path = str(tmp_path / "idx")
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=4
    )
    write_ivfpq_index(enc, model, path)
    n = read_ivfpq_index(spark, path)[0].count()

    # a rebuild whose WRITE fails leaves the old index fully serving
    @udf("int")
    def boom(c):
        raise ValueError("boom")

    bad = enc.withColumn("cell", boom(F2.col("cell")))
    with pytest.raises(Exception):
        write_ivfpq_index(bad, model, path)
    enc2, model2 = read_ivfpq_index(spark, path)
    assert enc2.count() == n
    q = corpus.limit(1).select(
        F.col("corpus_id").alias("query_id"), "embedding"
    )
    assert ivfpq_search(enc2, model2, q, nprobe=4, k=3).count() > 0

    # a cells root holding only cell=K directories (no committed
    # append_id= generation) is not a layout the writer produces: the
    # reader refuses it instead of serving unmarked parquet
    flat = str(tmp_path / "flat_idx")
    enc.repartition("cell").write.partitionBy("cell").parquet(
        os.path.join(flat, "cells")
    )
    with pytest.raises(FileNotFoundError, match="no committed generations"):
        read_ivfpq_index(spark, flat)


def test_ivfpq_root_without_model_file_fails_loudly(spark, emb, tmp_path):
    """An index whose base generation holds no _model.json (generation
    0 plus a ``cells/_model`` Spark JSON dataset, the layout before the
    build became a fold) is refused by the read and the append with a
    ValueError naming the path and asking for a rebuild, and no file
    changes; a rebuild over it serves again."""
    import json
    import os

    from my_feast_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from my_feast_spark.sources.generations import publish

    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    enc, model = ivfpq_build(
        corpus, residual=True, m=M, k_codes=K, num_centroids=4
    )
    path = str(tmp_path / "idx")
    cells = os.path.join(path, "cells")
    publish(
        cells, "append_id", 0,
        enc.repartition("cell").write.partitionBy("cell").parquet,
    )
    spark.createDataFrame(
        [(json.dumps(model),)], ["model_json"]
    ).coalesce(1).write.json(os.path.join(cells, "_model"))

    def files():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        )

    before = files()
    model_file = os.path.join(cells, "append_id=0", "_model.json")
    for use in (
        lambda: read_ivfpq_index(spark, path),
        lambda: ivfpq_append(spark, path, corpus.limit(3)),
    ):
        with pytest.raises(ValueError, match="rebuild") as err:
            use()
        assert model_file in str(err.value)
        assert files() == before
    write_ivfpq_index(enc, model, path)
    assert read_ivfpq_index(spark, path)[0].count() == corpus.count()
