"""Streaming sketch maintenance: incremental HyperLogLog profiles.

The batch sketch tier (operators/sketches.py) estimates per-group
distinct counts from m-register state. A live pipeline wants that
profile maintained AS DATA ARRIVES — "distinct users per event type,
updated every micro-batch" — without ever re-keying history. HLL makes
this the cheapest maintenance problem in the repo, because its merge
is an elementwise MAX:

* **replay-idempotent twice over**: the per-batch ``batch_id=N``
  partition overwrite (the ingest-family protocol) makes a crash
  replay rewrite the same directory; and even if a batch's registers
  were somehow duplicated across generations, max-merge absorbs them —
  the algebra itself is idempotent, unlike the count-based state of a
  CMS or the set state of the dedup indexes.
* **compaction for free**: :func:`streaming.ingest.compact_index`'s
  contract is "set semantics hold" (it folds generations with
  dropDuplicates). Register rows satisfy it: the read path takes
  ``max(rho)`` per (group, bucket), and a set-union of generations
  never loses a maximum. So the same crash-safe fresh-generation
  protocol that maintains the dedup indexes maintains the sketch —
  zero new maintenance code, one shared invariant.
* **per-batch cost is batch-sized**: each micro-batch writes only ITS
  OWN registers (<= m rows per group seen in the batch); the
  accumulated state read by :func:`read_hll_sketch` is bounded by
  m * |groups| * generations, and compaction keeps generations flat.

Batch/stream equality contract (driver-adjudicated by the
``streaming_sketch_ingest`` workload query): the max-merge of per-batch
registers equals the registers of the full input — mergeability is
exactly what ``tests/test_sketches.py::test_hll_registers_merge_by_max``
pins — so the maintained estimate is bit-identical to the one-shot
batch ``hll_group_distinct``, which the DuckDB oracle replays.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_feast_spark.operators.sketches import hll_estimate, hll_registers
from my_feast_spark.streaming.ingest import (
    _fs_nonempty,
    _start_foreach_batch,
    compact_index,
    compaction_due,
)


def hll_ingest_stream(
    sdf: DataFrame,
    *,
    sketch_path: str,
    checkpoint: str,
    value_col: str,
    group_cols: list[str],
    p: int = 12,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Maintain a per-group HLL register table over a stream.

    Each micro-batch computes the registers of ITS rows only and
    overwrites ``sketch_path/batch_id=N`` (idempotent replay); the
    maintained sketch is the max-merge over all generations
    (:func:`read_hll_sketch`). ``compact_every=k`` folds the
    generations below the current batch every k batches via the shared
    :func:`compact_index` protocol. Returns the StreamingQuery.
    """

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(
            batch_df.select(*group_cols, value_col),
            value_col, p=p, group_by=group_cols,
        )
        regs.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch_id={batch_id}")
        )
        if compaction_due(batch_id, compact_every):
            compact_index(
                batch_df.sparkSession, sketch_path, exclude_from=batch_id
            )

    return _start_foreach_batch(
        sdf, ingest_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def read_hll_sketch(
    spark: SparkSession, sketch_path: str, *, group_cols: list[str],
) -> DataFrame:
    """The maintained register table: max-merge over every generation
    (live batches and compacted negative generations alike)."""
    if not _fs_nonempty(spark, sketch_path):
        raise FileNotFoundError(f"no sketch generations under {sketch_path}")
    return (
        spark.read.parquet(sketch_path)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_stream_estimate(
    spark: SparkSession, sketch_path: str, *, p: int,
    group_cols: list[str],
) -> DataFrame:
    """Per-group estimate from the maintained sketch — identical output
    contract to the batch ``hll_group_distinct``."""
    regs = read_hll_sketch(spark, sketch_path, group_cols=group_cols)
    return hll_estimate(regs, p=p, group_by=group_cols)


def kmv_ingest_stream(
    sdf: DataFrame,
    *,
    sketch_path: str,
    checkpoint: str,
    value_col: str,
    k: int = 256,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Maintain a KMV (bottom-k) distinct-value sketch over a stream:
    each micro-batch writes ITS OWN bottom-k (<= k rows!) to a
    ``batch_id=N`` generation; the maintained sketch is the bottom-k of
    the union (:func:`read_kmv_sketch`) — valid because every member of
    the union's true bottom-k is in some batch's bottom-k. Set
    semantics hold, so folding reuses :func:`compact_index` like the
    HLL ingest (a folded generation holds the distinct UNION of the
    batch sketches it absorbed — the generic set fold cannot
    re-truncate to bottom-k; truncation would be safe, since a member
    beyond one sketch's k-th cannot enter the union's bottom-k, but
    the union is already tiny: folded-batches × k longs). The lightest
    maintenance state in the repo: k longs per batch, regardless of
    batch size."""
    from my_feast_spark.operators.sketches import kmv_sketch

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = kmv_sketch(batch_df.select(value_col), value_col, k)
        sk.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch_id={batch_id}")
        )
        if compaction_due(batch_id, compact_every):
            compact_index(
                batch_df.sparkSession, sketch_path, exclude_from=batch_id
            )

    return _start_foreach_batch(
        sdf, ingest_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def read_kmv_sketch(
    spark: SparkSession, sketch_path: str, *, k: int = 256,
) -> DataFrame:
    """The maintained sketch: bottom-k of the union of every
    generation's members (the kmv_union merge)."""
    if not _fs_nonempty(spark, sketch_path):
        raise FileNotFoundError(f"no sketch generations under {sketch_path}")
    return (
        spark.read.parquet(sketch_path)
        .select("h").distinct().orderBy("h").limit(k)
    )


# --- count-min maintenance --------------------------------------------------
#
# CMS state merges by SUM, and that one algebraic difference changes the
# compaction protocol: compact_index's crash window (rows duplicated
# across generations until the source deletes finish) is harmless under
# set/max semantics but DOUBLE-COUNTS under sum. So the CMS fold writes
# a MANIFEST inside the folded generation naming exactly the source
# generations it absorbed; the read path excludes any still-existing
# generation named by a manifest. A crash anywhere leaves reads exact:
# before the folded write commits (no _SUCCESS) the fold is invisible;
# after it commits, its sources are manifest-excluded whether or not
# their deletes ran. Deletion is thereby demoted to garbage collection —
# re-running compact_cms finishes it.

#: manifest file naming the generations a folded dir absorbed
_CMS_MANIFEST = "_folded_ids.json"


def cms_ingest_stream(
    sdf: DataFrame,
    *,
    sketch_path: str,
    checkpoint: str,
    value_col: str,
    d: int = 4,
    w: int = 16384,
    compact_every: int | None = None,
    available_now: bool = False,
    trigger_interval: str | None = None,
):
    """Maintain a count-min frequency sketch over a stream: each
    micro-batch overwrites ``sketch_path/batch_id=N`` with ITS rows'
    counters (replay-idempotent by the partition overwrite — sum state
    gets no algebraic second chance, so the overwrite is the load-
    bearing guard here); ``compact_every=k`` folds earlier generations
    through the manifest protocol above. Returns the StreamingQuery."""
    from my_feast_spark.operators.sketches import cms_build

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms = cms_build(batch_df.select(value_col), value_col, d=d, w=w)
        cms.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch_id={batch_id}")
        )
        if compaction_due(batch_id, compact_every):
            compact_cms(
                batch_df.sparkSession, sketch_path, exclude_from=batch_id
            )

    return _start_foreach_batch(
        sdf, ingest_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def _cms_generations(spark: SparkSession, sketch_path: str):
    """(hadoop fs, root path, {generation id: dir name}) for the CMS
    layout; committed generations only (crash-torn writes excluded by
    the _SUCCESS marker)."""
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(sketch_path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    gens: dict[int, str] = {}
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("batch_id="):
                continue
            marker = sc._jvm.org.apache.hadoop.fs.Path(
                root, name + "/_SUCCESS"
            )
            if fs.exists(marker):
                gens[int(name.split("=", 1)[1])] = name
    return fs, root, gens


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The maintained counter table: SUM over every live generation,
    excluding generations a committed fold manifest says were absorbed
    (they may linger until garbage collection finishes)."""
    import json

    fs, root, gens = _cms_generations(spark, sketch_path)
    if not gens:
        raise FileNotFoundError(f"no sketch generations under {sketch_path}")
    folded: set[int] = set()
    torn: set[int] = set()
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    for gid, name in gens.items():
        mpath = Path(root, name + "/" + _CMS_MANIFEST)
        if fs.exists(mpath):
            stream = fs.open(mpath)
            try:
                raw = bytes(
                    stream.readAllBytes()
                ).decode("utf-8")
            finally:
                stream.close()
            folded.update(json.loads(raw))
        elif gid < 0:
            # negative ids exist ONLY as fold targets; one without a
            # manifest is a fold that crashed between its parquet commit
            # and its manifest write — its sources are all still live,
            # so counting it would double-count. Invisible until
            # compact_cms garbage-collects it.
            torn.add(gid)
    live = [name for gid, name in sorted(gens.items())
            if gid not in folded and gid not in torn]
    if not live:
        raise FileNotFoundError(
            f"every generation under {sketch_path} is manifest-excluded"
        )
    df = spark.read.parquet(
        *[os.path.join(sketch_path, name) for name in live]
    )
    return df.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def compact_cms(
    spark: SparkSession, sketch_path: str, *, exclude_from: int | None = None,
) -> dict:
    """Fold CMS generations exactly: sum the mergeable generations into
    a fresh ``batch_id = min(all ∪ {0}) - 1`` directory that CARRIES a
    manifest of the generation ids it absorbed, then delete the
    sources. Reads are exact at every crash point (see the module
    section comment); re-running finishes interrupted garbage
    collection. ``exclude_from`` protects the current batch (the
    in-stream path), mirroring compact_index."""
    import json

    fs, root, gens = _cms_generations(spark, sketch_path)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    # finish any pending GC first: sources named by a committed
    # manifest, plus torn folds (negative gen, no manifest — the
    # parquet-committed-before-manifest crash window; its sources are
    # intact, so the target is pure garbage)
    folded: set[int] = set()
    for gid, name in list(gens.items()):
        mpath = Path(root, name + "/" + _CMS_MANIFEST)
        if fs.exists(mpath):
            stream = fs.open(mpath)
            try:
                folded.update(json.loads(
                    bytes(stream.readAllBytes()).decode("utf-8")
                ))
            finally:
                stream.close()
        elif gid < 0:
            fs.delete(Path(root, name), True)
            del gens[gid]
    for gid in sorted(folded):
        if gid in gens:
            fs.delete(Path(root, gens[gid]), True)
            del gens[gid]

    mergeable = {
        gid: name for gid, name in gens.items()
        if exclude_from is None or gid < exclude_from
    }
    if len(mergeable) <= 1:
        return {"generation": None, "folded": 0}
    target = min(min(gens), 0) - 1
    merged = (
        spark.read.parquet(
            *[os.path.join(sketch_path, n) for n in mergeable.values()]
        )
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    tdir = os.path.join(sketch_path, f"batch_id={target}")
    merged.coalesce(1).write.mode("overwrite").parquet(tdir)
    # manifest BEFORE any delete: from this moment reads exclude the
    # sources whether or not the deletes below survive a crash
    mpath = Path(tdir, _CMS_MANIFEST)
    out = fs.create(mpath, True)
    try:
        out.write(bytearray(json.dumps(sorted(mergeable)).encode("utf-8")))
    finally:
        out.close()
    for name in mergeable.values():
        fs.delete(Path(root, name), True)
    return {"generation": target, "folded": len(mergeable)}
