"""Large-scale probes backing COVERAGE.md's two headline scale claims.

bench.py times the per-round probes at the driver's sf; the sf0.1
numbers can't separate scheduler overhead from real asymptotics, so
this script scales the inputs 10x+ (deterministic replication of the
sf0.1 tables — no synthetic distributions beyond an explicit hot-key
remap) and measures:

  1. PIT strategies at sf5-equivalent events (5M rows = sf0.1 x 50,
     REPLICATE_EVENTS): ``union_window`` vs ``sliced_window`` vs
     ``range_join`` on uniform keys, and union vs sliced with ~50% of
     ALL rows (HOT_FRACTION_MOD=2) remapped onto one deliberately hot
     key — a ~2.5M-row window partition, the scale where the one-task
     straggler actually shows on local[32]. ``range_join`` is excluded from the hot-key
     leg BY DESIGN: the non-equi join materializes
     |hot probes| x |hot history within TTL| pairs (~1e8 at this probe
     even with a 2h TTL) before its dedup window — the quadratic
     blow-up is the reason the engine defaults to union_window; the
     uniform leg measures its behavior where it is tractable.
  2. Exhaustive ADC vs IVFADC at 160k vectors (sf0.1 embeddings x 80)
     x 400 queries — 10x the round-8 bench probe (16k x 200), where
     fixed costs (codebook train + one encode pass, identical for both
     variants) stop dominating and the fold-volume ratio
     (nprobe/num_cells = 1/8 here) shows through.

Run: ``python probes_scale.py [sf_dir] [--multiview]`` (sf_dir defaults
to $SPARK_GRAFT_SF_DIR, else the sf0.1 test data; local[$SPARK_GRAFT_CPUS],
32 by default, like bench.py). Prints one JSON line; paste the numbers +
configs into COVERAGE.md when they change materially. ``--multiview``
runs probe 4 (multi-view retrieval shapes) alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

# probe 14 streams through the Python Data Source, whose class is
# pickled by reference into Spark's Python workers — the package must
# be importable there, so export PYTHONPATH before the JVM starts
# (running the script relies on Python's implicit script-dir sys.path,
# which workers do not inherit)
_REPO = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from pyspark.sql import functions as F

from my_feast_spark import get_session
from my_feast_spark.operators.graph import release_checkpoint
from my_feast_spark.sources.readers import load_table

REPLICATE_EVENTS = 50   # sf0.1 x 50 = 5M events (sf5-equivalent)
REPLICATE_VECS = 80     # sf0.1 x 80 = 160k vectors
N_QUERIES = 400
HOT_FRACTION_MOD = 2    # pmod(hash, 2) == 0 -> ~50% of rows on one key
                        # (at 1M rows / 20% hot the single window task
                        # sorts 400k rows in <1s locally and the skew
                        # penalty is invisible — the straggler needs a
                        # multi-million-row key to show on local[32])


def _replicate(df, id_col, n_copies, n_rows, jitter_ts=None):
    out = df
    for i in range(1, n_copies):
        c = df.select(
            (F.col(id_col) + F.lit(i * n_rows)).alias(id_col),
            *[col for col in df.columns if col != id_col],
        )
        if jitter_ts:
            # deterministic per-copy second offset keeps replicated
            # timestamps distinct without changing the distribution
            c = c.withColumn(
                jitter_ts,
                F.col(jitter_ts) + F.expr(f"INTERVAL {i * 7} SECONDS"),
            )
        out = out.unionByName(c)
    return out


def _n_execs(spark) -> int:
    """SQL executions recorded so far: a mark for :func:`_bytes_since`."""
    return spark._jsparkSession.sharedState().statusStore() \
        .executionsList().size()


def _bytes_since(spark, mark: int, metric: str) -> float:
    """Bytes of the SQL metric named ``metric`` ("shuffle bytes
    written", "spill size") summed over the executions after ``mark``,
    read from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0.0
    units = {"B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
             "TiB": 2**40}
    for i in range(mark, execs.size()):
        ex = execs.apply(i)
        names = {}
        ms = ex.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            names[m.accumulatorId()] = m.name()
        it = store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            if names.get(kv._1()) == metric:
                head = kv._2().split("\n")[-1].strip()
                num, unit = head.split(" ")[0], head.split(" ")[1]
                total += float(num) * units.get(unit.strip("("), 1.0)
    return total


def _shuffle_bytes(spark, mark: int) -> float:
    return _bytes_since(spark, mark, "shuffle bytes written")


def _probe_multiview(spark, ev, n_ev, timed) -> dict:
    """Probe 4: a two-view retrieval in three shapes. Two wide views (24
    double features each, REPLICATE_EVENTS copies of the events) against
    the sf's events as probes:

      * fused (``operators/asof_join.py::join_sides``, what
        ``plans/retrieval.py`` runs): both views and the probes in ONE
        window, one payload column per view;
      * narrow: a row id on a pinned probe base, one window per view over
        (row_id, key, ts), payloads left-joined back on the row id;
      * chained: view B's window re-shuffles view A's 24 attached
        features.

    Every attached feature is summed. Returns the best of two runs of
    each shape in seconds, and the shuffle and spill MiB one run wrote,
    summed over its SQL executions from the status store."""
    from my_feast_spark.operators.asof_join import (
        Side,
        join_sides,
        point_in_time_join,
    )

    bigw = _replicate(ev, "event_id", REPLICATE_EVENTS, n_ev,
                      jitter_ts="ts").localCheckpoint()
    # the views must differ: two identical view plans would let Spark
    # reuse one view's exchange for the other
    feat_a = bigw.select(
        "user_id", "ts",
        *[(F.col("value") * (i + 1)).alias(f"f{i}") for i in range(24)],
    )
    feat_b = bigw.select(
        "user_id", "ts",
        *[(F.col("value") + (i + 1)).alias(f"f{i}") for i in range(24)],
    )
    probes_mv = ev.select(
        "event_id", "user_id", F.col("ts").alias("event_timestamp")
    )
    fa_names = [f"f{i}" for i in range(24)]
    views = (("va", feat_a), ("vb", feat_b))

    def _sum(out):
        # every attached feature is read, as a training-set write would:
        # a plan that carries only the columns its consumer reads would
        # otherwise measure column pruning, not its shape
        total = sum(F.col(f"{tag}__{f}") for tag, _ in views for f in fa_names)
        return out.select(F.sum(total)).collect() and 1

    def _fused():
        sides = [
            Side(feat, fa_names, event_ts_col="ts",
                 out_names={f: f"{tag}__{f}" for f in fa_names})
            for tag, feat in views
        ]
        return _sum(join_sides(
            probes_mv, probes_mv.columns, sides, ["user_id"],
            "event_timestamp",
        ))

    def _chained():
        out = probes_mv
        for tag, feat in views:
            out = point_in_time_join(
                out, feat, ["user_id"], event_ts_col="ts",
                entity_ts_col="event_timestamp", features=fa_names,
                feature_view_name=tag, full_feature_names=True,
            )
        return _sum(out)

    def _narrow():
        row_id = "__probe_row_id"
        base = probes_mv.withColumn(
            row_id, F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        out = base
        for tag, feat in views:
            probe = base.select(row_id, "user_id", "event_timestamp")
            att = point_in_time_join(
                probe, feat, ["user_id"], event_ts_col="ts",
                entity_ts_col="event_timestamp", features=fa_names,
                feature_view_name=tag, full_feature_names=True,
            ).drop("user_id", "event_timestamp")
            out = out.join(att, on=row_id, how="left")
        n = _sum(out)
        release_checkpoint(base)
        return n

    results = {}
    for name, thunk in (("retrieval_2wide_fused", _fused),
                        ("retrieval_2wide_narrow", _narrow),
                        ("retrieval_2wide_chained", _chained)):
        mark = _n_execs(spark)
        results[name] = timed(name, thunk, repeats=2)
        for metric, key in (("shuffle bytes written", "_shuffle_mib"),
                            ("spill size", "_spill_mib")):
            mib = _bytes_since(spark, mark, metric) / 2 / 2**20  # per run
            results[name + key] = round(mib, 1)
    release_checkpoint(bigw)
    return results


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--multiview"]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    results: dict[str, float] = {}

    def timed(name, thunk, repeats=2):
        best, n = None, None
        for _ in range(repeats):  # min-of-k: discard JIT/warm-up noise
            t0 = time.perf_counter()
            n = thunk()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 3)
        print(f"# {name}: {results[name]}s ({n} rows)", file=sys.stderr)
        return results[name]

    # ---- probe 1: PIT strategies at 1M events --------------------------
    from my_feast_spark.operators.asof_join import point_in_time_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    n_ev = ev.count()
    if "--multiview" in sys.argv:
        print(json.dumps(_probe_multiview(spark, ev, n_ev, timed)))
        spark.stop()
        return
    big = _replicate(ev, "event_id", REPLICATE_EVENTS, n_ev,
                     jitter_ts="ts").localCheckpoint()

    def _pit(frame, strategy, **kw):
        feat = frame.select("user_id", "ts", "value")
        probes = frame.select(
            "user_id", F.col("ts").alias("probe_ts"), "event_id"
        )
        out = point_in_time_join(
            probes, feat, ["user_id"],
            event_ts_col="ts", entity_ts_col="probe_ts",
            strategy=strategy, **kw,
        )
        # force the ATTACHED FEATURE's evaluation: a bare count() lets
        # Catalyst prune the as-of window entirely (the output row
        # count never depends on the feature column), which is how the
        # first cut of this probe "measured" a 2.5M-row hot-key window
        # sort at 0.4s
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("value").cast("string"))).alias("h"),
        ).collect()[0]
        return row["n"]

    timed("pit_5m_uniform_union_window", lambda: _pit(big, "union_window"))
    timed("pit_5m_uniform_sliced_window", lambda: _pit(big, "sliced_window"))
    timed("pit_5m_uniform_range_join",
          lambda: _pit(big, "range_join", ttl=7200), repeats=1)

    hot = big.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(HOT_FRACTION_MOD)) == 0,
            F.lit(-1),
        ).otherwise(F.col("user_id")),
    ).localCheckpoint()
    timed("pit_5m_hotkey_union_window", lambda: _pit(hot, "union_window"))
    timed("pit_5m_hotkey_sliced_window", lambda: _pit(hot, "sliced_window"))
    # auto = probe (one column-pruned pass over key+ts) + the chosen
    # strategy: on the hot leg it must pick sliced_window with a fitted
    # slice width; the delta vs the manual sliced number IS the probe's
    # overhead — the price of not knowing the skew profile in advance
    from my_feast_spark.operators.asof_join import _choose_strategy

    chosen, _iv, _pf = _choose_strategy(
        hot.select("user_id", F.col("ts").alias("probe_ts"), "event_id"),
        hot.select("user_id", "ts", "value"),
        ["user_id"], "ts", "probe_ts", 1_000_000,
    )
    assert chosen == "sliced_window", chosen
    timed("pit_5m_hotkey_auto", lambda: _pit(hot, "auto"))

    # small-probe backfill: probes over ~1% of the KEY space (15 of the
    # ~1500 users) against the full 5M-row history — auto's
    # broadcast-keys prefilter confines the window shuffle to the
    # asked-for keys' rows; union_window shuffles the whole history.
    # (A probe COUNT alone does not isolate the regime: 1000 probes
    # over 1500 keys keep ~everything.)
    def _pit_small(strategy):
        feat = big.select("user_id", "ts", "value")
        probes = big.select(
            "user_id", F.col("ts").alias("probe_ts"), "event_id"
        ).filter(
            (F.col("user_id") % 100 == 0) & (F.col("event_id") % 200 == 0)
        )
        out = point_in_time_join(
            probes, feat, ["user_id"],
            event_ts_col="ts", entity_ts_col="probe_ts",
            strategy=strategy,
        )
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("value").cast("string"))).alias("h"),
        ).collect()[0]
        return row["n"]

    timed("pit_5m_smallprobe_union_window",
          lambda: _pit_small("union_window"))
    timed("pit_5m_smallprobe_auto", lambda: _pit_small("auto"))
    release_checkpoint(big)
    release_checkpoint(hot)

    # ---- probe 2: exhaustive ADC vs IVFADC at 160k x 400 ---------------
    from my_feast_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n_emb = emb.count()
    bigv = _replicate(emb, "vec_id", REPLICATE_VECS, n_emb).localCheckpoint()
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def _adc():
        cb = train_pq_codebooks(bigv, "embedding", "vec_id", m=8, k=16)
        codes = pq_encode(bigv, "vec_id", "embedding", cb).select(
            F.col("vec_id").alias("corpus_id"), "codes"
        )
        return pq_topk(q, codes, cb, k=5).count()

    def _ivfadc():
        return ivfpq_topk(
            q, bigv.select(F.col("vec_id").alias("corpus_id"), "embedding"),
            m=8, k_codes=16, num_centroids=32, nprobe=4, k=5,
        ).count()

    timed("adc_exhaustive_160k_q400", _adc)
    timed("ivfadc_160k_q400_cells32_nprobe4", _ivfadc)
    release_checkpoint(bigv)

    # ---- probe 4: multi-view retrieval — fused vs narrow vs chained ----
    results.update(_probe_multiview(spark, ev, n_ev, timed))

    # ---- probe 5: z-order + file-stats skipping ------------------------
    # 5M rows, two independent 10k-domain keys, 64 files. A selective
    # range predicate on either key must beat the full filter scan once
    # the sidecar prunes the file list (and the z layout is what makes
    # the boxes tight enough to prune).
    import shutil
    import tempfile

    from my_feast_spark.sources.skipping import (
        scan_with_skipping,
        write_file_stats,
    )
    from my_feast_spark.sources.zorder import zorder_table

    zroot = tempfile.mkdtemp(prefix="mfs_zprobe_")
    try:
        nat = os.path.join(zroot, "natural")
        (
            spark.range(5_000_000).select(
                F.col("id"),
                F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000))
                .alias("a"),
                F.pmod(F.xxhash64(F.col("id") + 2), F.lit(10_000))
                .alias("b"),
            )
            .repartition(64)
            .write.mode("overwrite").parquet(nat)
        )
        zo = zorder_table(
            spark, nat, ["a", "b"], out_path=os.path.join(zroot, "z"),
            num_files=64,
        )
        write_file_stats(zo, ["a", "b"], spark=spark)

        def _full():
            return (
                spark.read.parquet(nat)
                .filter((F.col("b") >= 100) & (F.col("b") <= 400))
                .agg(F.sum("id")).collect()
            ) and 1

        def _skip():
            df, rep = scan_with_skipping(spark, zo, {"b": (100, 400)})
            results["zorder_files_read_of_64"] = rep["files_read"]
            return df.agg(F.sum("id")).collect() and 1

        timed("scan_5m_select3pct_full_filter", _full)
        timed("scan_5m_select3pct_zorder_skip", _skip)
    finally:
        shutil.rmtree(zroot, ignore_errors=True)

    # ---- probe 5b: the footer sweep parallelizes ----------------------
    # 512 small files (the many-file regime the r12 verdict flagged the
    # serial driver loop for): the distributed sweep's wall-clock must
    # beat the sequential footer loop, and both must produce the
    # identical stats mapping.
    from my_feast_spark.sources.skipping import write_file_stats as _wfs

    swroot = tempfile.mkdtemp(prefix="mfs_sweepprobe_")
    try:
        sw = os.path.join(swroot, "many")
        (
            spark.range(2_000_000)
            .selectExpr("id", "CAST(id % 9973 AS BIGINT) AS k")
            .repartition(512)
            .write.mode("overwrite").parquet(sw)
        )
        serial_stats = {}
        dist_stats = {}

        def _serial():
            serial_stats["v"] = _wfs(sw, ["k", "id"])
            return 1

        def _dist():
            dist_stats["v"] = _wfs(sw, ["k", "id"], spark=spark)
            return 1

        timed("file_stats_sweep_512f_serial", _serial, repeats=1)
        timed("file_stats_sweep_512f_distributed", _dist, repeats=1)
        assert serial_stats["v"] == dist_stats["v"], \
            "serial and distributed sweeps diverged"
    finally:
        shutil.rmtree(swroot, ignore_errors=True)

    # ---- probe 6: unigram trainer scales with DISTINCT words ----------
    # The EM passes run over the word-count relation, so replicating the
    # corpus 20x (same word universe, 20x the rows) must cost roughly
    # the same train time — the claim operators/unigram.py makes.
    from my_feast_spark.operators.unigram import train_unigram

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs20 = _replicate(
        docs1, "doc_id", 20, docs1.count()
    ).localCheckpoint()
    kw = dict(vocab_size=400, seed_size=1500, max_piece_len=6,
              iterations=3)

    timed("unigram_train_docs_1x", lambda: train_unigram(
        docs1, "text", **kw).count(), repeats=1)
    timed("unigram_train_docs_20x", lambda: train_unigram(
        docs20, "text", **kw).count(), repeats=1)
    release_checkpoint(docs20)

    # ---- probe 7: sketch / bloom tier at 20x ---------------------------
    # (a) HLL vs exact count(DISTINCT) where it matters: HIGH distinct
    #     cardinality (~2M distinct keys from 20x events — replicated
    #     event_ids are unique by construction). The exact path must
    #     re-key every distinct value; the HLL shuffle carries <= m rows
    #     per group. (With LOW cardinality both collapse map-side and
    #     exact wins — the first cut of this probe measured exactly
    #     that, 0.11s exact vs 0.49s HLL at 150 distinct users; the
    #     sketch is for the regime where the distinct set itself is
    #     big.)
    # (b) Bloom prefilter vs direct semi join for cross-corpus
    #     membership with broadcast DISABLED — the 100 TB regime where
    #     the reference does not fit a broadcast: the bitmap filter
    #     drops ~94% of candidates map-side so only the maybe fraction
    #     reaches the shuffle join; the direct path shuffles everything.
    from my_feast_spark.operators.bloom import (
        bloom_bitmap, bloom_maybe_from_bitmap_hash,
    )
    from my_feast_spark.operators.sketches import sketch_hash
    from my_feast_spark.operators.dedup import doc_fingerprint
    from my_feast_spark.operators.sketches import hll_group_distinct

    ev_typed = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    ev20 = _replicate(ev_typed, "event_id", 20, n_ev).select(
        "event_type", F.col("event_id").cast("string").alias("u")
    ).localCheckpoint()
    # collect(), never count(): counting the aggregated relation lets
    # Catalyst PRUNE the aggregate expressions themselves (the first
    # cut of this probe measured a countDistinct that was optimized
    # away — both legs reported identical tiny shuffles)
    mark = _n_execs(spark)
    timed("hll_highcard_2m_20x", lambda: len(hll_group_distinct(
        ev20, "u", ["event_type"], p=12,
    ).collect()), repeats=1)
    results["hll_highcard_shuffle_bytes"] = _shuffle_bytes(spark, mark)
    mark = _n_execs(spark)
    timed("hll_highcard_2m_20x_xxhash", lambda: len(hll_group_distinct(
        ev20, "u", ["event_type"], p=12, hash_fn="xxhash64",
    ).collect()), repeats=1)
    results["hll_xxhash_shuffle_bytes"] = _shuffle_bytes(spark, mark)
    mark = _n_execs(spark)
    timed("exact_distinct_highcard_2m_20x", lambda: len(
        ev20.groupBy("event_type").agg(F.countDistinct("u")).collect()
    ), repeats=1)
    results["exact_highcard_shuffle_bytes"] = _shuffle_bytes(spark, mark)
    release_checkpoint(ev20)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    # ~5% of candidate copies keep the original text (true members);
    # the rest get a per-copy suffix -> unique fingerprints (non-members)
    cand20 = _replicate(docs, "doc_id", 20, n_docs).withColumn(
        "text",
        F.when(F.col("doc_id") % 20 == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" x"), F.col("doc_id"))
        ),
    ).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")
    ).localCheckpoint()
    ref = docs.select(doc_fingerprint(F.col("text")).alias("fp")).distinct() \
        .localCheckpoint()
    bm_m, bm_k = 1 << 20, 3
    bm = bloom_bitmap(ref, "fp", m_bits=bm_m, k_hashes=bm_k)

    def _bloom_path():
        # hash projected ONCE (the hot-path shape the workload query
        # uses); the convenience wrapper would inline the md5 chain
        # into every probe position
        hashed = cand20.withColumn("__h", sketch_hash(F.col("fp")))
        ann = hashed.withColumn(
            "maybe",
            bloom_maybe_from_bitmap_hash(
                F.col("__h"), bm, m_bits=bm_m, k_hashes=bm_k
            ),
        )
        hits = ann.where(F.col("maybe")).join(ref, "fp", "left_semi")
        return hits.count()

    def _direct_path():
        return cand20.join(ref, "fp", "left_semi").count()

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        mark = _n_execs(spark)
        timed("bloom_membership_nobroadcast_20x", _bloom_path, repeats=1)
        results["bloom_20x_shuffle_bytes"] = _shuffle_bytes(spark, mark)
        mark = _n_execs(spark)
        timed("direct_join_membership_nobroadcast_20x", _direct_path,
              repeats=1)
        results["direct_20x_shuffle_bytes"] = _shuffle_bytes(spark, mark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    release_checkpoint(cand20)
    release_checkpoint(ref)

    # ---- probe 8: versioned log at 120 commits -------------------------
    # The claims: version RESOLUTION is one manifest read (flat in
    # commit count), an append-chain READ costs Spark's multi-directory
    # scan (grows with chain length until checkpointed), and
    # checkpoint+vacuum restore single-directory reads. Honest local
    # numbers; the structural content is the flat resolution line.
    import shutil as _sh
    import tempfile as _tf

    from my_feast_spark.sources.versioned import (
        checkpoint_version, list_versions, read_version, vacuum,
        write_version,
    )

    vroot = _tf.mkdtemp(prefix="mfs_probe_vlog_")
    vpath = vroot + "/t"
    try:
        slice_df = load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        ).limit(500).localCheckpoint()
        for i in range(120):
            write_version(
                slice_df, vpath, mode="append" if i else "overwrite"
            )
        timed("vlog_list_120_commits", lambda: len(
            list_versions(spark, vpath)
        ), repeats=1)
        timed("vlog_read_chain_120dirs", lambda: read_version(
            spark, vpath
        ).count(), repeats=1)
        timed("vlog_read_v0_1dir", lambda: read_version(
            spark, vpath, 0
        ).count(), repeats=1)
        timed("vlog_checkpoint", lambda: checkpoint_version(
            spark, vpath, num_files=4
        ), repeats=1)
        timed("vlog_vacuum", lambda: vacuum(
            spark, vpath, keep_last=1, grace_seconds=0
        )["removed_dirs"], repeats=1)
        timed("vlog_read_after_checkpoint", lambda: read_version(
            spark, vpath
        ).count(), repeats=1)
        release_checkpoint(slice_df)
    finally:
        _sh.rmtree(vroot, ignore_errors=True)

    # ---- probe 9: versioned log at 1000 commits (r13 verdict ask #7) ----
    # The open question: checkpoint_version's read-through rewrite at a
    # WIDE chain inherits a 1000-directory listing — is resolution still
    # flat, what does the chain read cost, and does the incremental
    # checkpoint_if_due hook (chain-length trigger) keep readers bounded?
    # The directory list IS handed to Spark in one read (the manifest
    # names every dir; spark.read.parquet(*dirs) builds one
    # InMemoryFileIndex over them, parallelized above
    # spark.sql.sources.parallelPartitionDiscovery.threshold=32 dirs).
    vroot2 = _tf.mkdtemp(prefix="mfs_probe_vlog1k_")
    vpath2 = vroot2 + "/t"
    try:
        tiny = load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        ).limit(50).coalesce(1).localCheckpoint()
        t0 = time.monotonic()
        for i in range(1000):
            write_version(
                tiny, vpath2, mode="append" if i else "overwrite"
            )
        results["vlog1k_write_1000_commits"] = round(
            time.monotonic() - t0, 3
        )
        timed("vlog1k_list_versions", lambda: len(
            list_versions(spark, vpath2)
        ), repeats=1)
        timed("vlog1k_resolve_v500_1manifest", lambda: read_version(
            spark, vpath2, 500
        ), repeats=1)  # plan build only: resolution cost, no scan
        timed("vlog1k_read_chain_1000dirs", lambda: read_version(
            spark, vpath2
        ).count(), repeats=1)
        timed("vlog1k_checkpoint", lambda: checkpoint_version(
            spark, vpath2, num_files=4
        ), repeats=1)
        timed("vlog1k_read_after_checkpoint", lambda: read_version(
            spark, vpath2
        ).count(), repeats=1)
        release_checkpoint(tiny)
    finally:
        _sh.rmtree(vroot2, ignore_errors=True)

    # ---- probe 10: chain LISTING cost vs length -> compact_chain_at ----
    # (r14 verdict ask #6.) The versioned read hands Spark one directory
    # per append; building the relation LISTS each of them (one
    # FileSystem list call per dir — driver-serial below
    # spark.sql.sources.parallelPartitionDiscovery.threshold=32 paths, a
    # distributed job above it). Locally a list call is ~0.1ms so the
    # measured numbers only pin the SHAPE (flat resolution, listing
    # linear in dirs, the threshold crossover); the cloud projection is
    # arithmetic on the measured call COUNT: at ~50ms per object-store
    # LIST, a chain of N dirs costs N x 50ms serial, or
    # ceil(N/parallelism) x 50ms + one job round above the threshold.
    # That arithmetic is what sets versioned_ingest_stream's
    # compact_chain_at=64 default: 64 dirs stays ABOVE the parallel
    # threshold (discovery distributes: 2 x 50ms rounds on 32 cores,
    # ~0.1s + job overhead) while an unbounded chain pays ~1 LIST round
    # per 32 dirs forever — 1000 dirs ~ 1.6s of pure listing per read,
    # before any footer or data byte.
    vroot3 = _tf.mkdtemp(prefix="mfs_probe_vlog_list_")
    vpath3 = vroot3 + "/t"
    try:
        tiny3 = load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        ).limit(50).coalesce(1).localCheckpoint()
        for i in range(256):
            write_version(
                tiny3, vpath3, mode="append" if i else "overwrite"
            )
        for n_dirs in (16, 64, 256):
            v = n_dirs - 1  # version v has v+1 dirs (append chain)
            timed(
                f"vlog_planbuild_{n_dirs}dirs",
                lambda v=v: len(read_version(spark, vpath3, v).columns),
                repeats=2,
            )
        thresh = int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"
        ))
        results["parallel_discovery_threshold"] = thresh
        # the projection the compact_chain_at=64 default rests on
        for n_dirs in (64, 1000):
            serial_s = n_dirs * 0.05
            par_s = -(-n_dirs // int(cpus)) * 0.05
            results[f"cloud50ms_list_{n_dirs}dirs_serial_s"] = round(
                serial_s, 2
            )
            results[f"cloud50ms_list_{n_dirs}dirs_parallel_s"] = round(
                par_s, 2
            )
        release_checkpoint(tiny3)
    finally:
        _sh.rmtree(vroot3, ignore_errors=True)

    # ---- probe 13: optimized_write="auto" skew fan-out ------------------
    # (r15 verdict ask #7.) A 90%-hot partitioned write: True serializes
    # the hot value into ONE writer task; "auto" salts it across
    # ceil(rows/target) pinned tasks. COVERAGE.md probe 13 records the
    # committed numbers (min-of-4: auto 2.93s vs True 4.21s at 5M rows).
    vroot13 = _tf.mkdtemp(prefix="mfs_probe_owauto_")
    try:
        ev13 = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "ts"
        )
        skew = _replicate(
            ev13, "event_id", REPLICATE_EVENTS, ev13.count()
        ).withColumn(
            "d",
            F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9,
                   F.lit("2024-01-01"))
            .otherwise(F.concat(
                F.lit("2024-01-0"),
                (F.pmod(F.col("event_id"), F.lit(10)) - 7).cast("string")
            )),
        ).localCheckpoint()
        for mode, tag in ((True, "true"), ("auto", "auto")):
            def _w(mode=mode, tag=tag):
                p = f"{vroot13}/{tag}"
                _sh.rmtree(p, ignore_errors=True)
                kw = {"optimized_write": mode}
                if mode == "auto":
                    kw["optimized_write_split_rows"] = 500_000
                write_version(skew, p, partition_by=["d"], **kw)
                return skew.count()
            timed(f"owrite_{tag}_90pct_hot", _w, repeats=2)
        release_checkpoint(skew)
    finally:
        _sh.rmtree(vroot13, ignore_errors=True)

    # ---- probes 14+15: change feed — stream vs batch, apply cost -------
    # 14: the Python-data-source streaming tier vs the JVM batch path on
    # one bulk commit (COVERAGE: 2.9s vs 1.3s at 1M rows — the stream is
    # for following live commits, not bulk catch-up). 15: apply-changes
    # write amplification — the rewrite tracks TABLE size; netting folds
    # N commits into one rewrite (COVERAGE: 2.3s netted vs 11.8s as 5
    # sequential applies on a 2M-row mirror).
    from my_feast_spark.sources.changes_stream import read_changes_stream
    from my_feast_spark.sources.versioned import (
        apply_changes_version, read_changes, upsert_version,
    )

    vroot14 = _tf.mkdtemp(prefix="mfs_probe_cdf_")
    try:
        ev14 = load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        )
        big14 = _replicate(ev14, "event_id", 10, ev14.count()) \
            .localCheckpoint()
        feed_src = f"{vroot14}/fsrc"
        write_version(
            spark.createDataFrame([], big14.schema), feed_src
        )
        write_version(big14, feed_src, mode="append")
        n14 = big14.count()

        runs = [0]
        def _stream():
            runs[0] += 1
            q = (read_changes_stream(spark, feed_src, starting_version=0)
                 .writeStream.format("parquet")
                 .option("path", f"{vroot14}/out{runs[0]}")
                 .option("checkpointLocation", f"{vroot14}/ck{runs[0]}")
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)
            return n14
        timed("cdf_stream_1M_commit", _stream, repeats=2)

        def _batch():
            runs[0] += 1
            read_changes(spark, feed_src, 0, 1).write.mode(
                "overwrite").parquet(f"{vroot14}/b{runs[0]}")
            return n14
        timed("cdf_batch_1M_commit", _batch, repeats=2)

        # probe 15: fixed ~1k-event feed vs mirror size + netting
        src15 = f"{vroot14}/src15"
        write_version(
            spark.createDataFrame([(0, 0.0)], ["event_id", "value"]),
            src15,
        )
        for i in range(5):
            upsert_version(
                ev14.where(F.pmod(F.col("event_id"), 97) == i)
                .limit(200).withColumn("value", F.col("value") + i),
                src15, ["event_id"],
            )
        feed15 = read_changes(spark, src15, 0, 5).localCheckpoint()
        for tag, mult in (("2M", 20), ("5M", 50)):
            mpath = f"{vroot14}/m{tag}"
            write_version(
                _replicate(ev14, "event_id", mult, ev14.count()), mpath
            )
            timed(
                f"apply_1kfeed_{tag}_mirror",
                lambda mpath=mpath: apply_changes_version(
                    feed15, mpath, ["event_id"]
                ),
                repeats=1,
            )
        seqpath = f"{vroot14}/mseq"
        write_version(
            _replicate(ev14, "event_id", 20, ev14.count()), seqpath
        )
        def _seq():
            for v in range(5):
                apply_changes_version(
                    read_changes(spark, src15, v, v + 1),
                    seqpath, ["event_id"],
                )
            return 5
        timed("apply_5seq_2M_mirror", _seq, repeats=1)
        release_checkpoint(feed15)
        release_checkpoint(big14)
    finally:
        _sh.rmtree(vroot14, ignore_errors=True)

    print(json.dumps({
        "probes": results,
        "configs": {
            "events_rows": n_ev * REPLICATE_EVENTS,
            "hot_fraction": f"1/{HOT_FRACTION_MOD}",
            "vectors": n_emb * REPLICATE_VECS,
            "n_queries": N_QUERIES,
            "pq": "m=8 k=16",
            "ivf": "num_centroids=32 nprobe=4",
            "range_join_ttl": "2 hours",
        },
        "sf_dir": sf_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
