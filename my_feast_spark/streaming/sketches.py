"""Streaming sketch maintenance: incremental HLL, KMV and count-min state.

The batch sketch tier (operators/sketches.py) estimates per-group
distinct counts from m-register state. A live pipeline wants that
profile maintained AS DATA ARRIVES — "distinct users per event type,
updated every micro-batch" — without ever re-keying history. Every
sketch here is stored as numbered generations under
``sources.generations``: each micro-batch publishes ITS OWN state as
generation ``batch_id=N`` (a replay clears and rewrites it), readers
merge the committed generations, and a fold absorbs earlier ones
exactly. HLL is the cheapest of these, because its merge is an
elementwise MAX:

* **replay-idempotent twice over**: publishing the same ``batch_id=N``
  again replaces the generation whole; and even if a batch's registers
  were duplicated across generations, max-merge absorbs them — the
  algebra itself is idempotent, unlike the count-based state of a CMS.
* **compaction for free**: :func:`streaming.ingest.compact_index` is
  the set fold (dropDuplicates). Register rows satisfy set semantics:
  the read path takes ``max(rho)`` per (group, bucket), and a
  set-union of generations never loses a maximum. So the fold that
  maintains the dedup indexes maintains the sketch.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_feast_spark.operators.sketches import hll_estimate, hll_registers
from my_feast_spark.sources.generations import (
    committed,
    fold,
    heal,
    publish,
    read,
)
from my_feast_spark.streaming.ingest import (
    _start_foreach_batch,
    compact_index,
    compaction_due,
)


def _start_sketch(sdf, sketch_path, checkpoint, sketch, compact, *,
                  compact_every, available_now, trigger_interval):
    """Start a sketch stream: heal ``sketch_path`` (a root this engine
    did not lay out raises here), then per micro-batch publish
    ``sketch(batch_df)`` as generation ``batch_id=N`` and, every
    ``compact_every`` batches, ``compact`` the generations below it."""
    heal(sketch_path, "batch_id")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        publish(
            sketch_path, "batch_id", batch_id,
            sketch(batch_df).write.parquet,
        )
        if compaction_due(batch_id, compact_every):
            compact(
                batch_df.sparkSession, sketch_path, exclude_from=batch_id
            )

    return _start_foreach_batch(
        sdf, ingest_batch, checkpoint,
        available_now=available_now, trigger_interval=trigger_interval,
    )


def _read_generations(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Every committed generation under ``sketch_path``, one frame."""
    df = read(spark, sketch_path, "batch_id")
    if df is None:
        raise FileNotFoundError(f"no sketch generations under {sketch_path}")
    return df


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
    publishes them as generation ``batch_id=N`` (idempotent replay); the
    maintained sketch is the max-merge over the committed generations
    (:func:`read_hll_sketch`). ``compact_every=k`` folds the
    generations below the current batch every k batches with the set
    fold :func:`compact_index`. Returns the StreamingQuery.
    """

    return _start_sketch(
        sdf, sketch_path, checkpoint,
        lambda b: hll_registers(
            b.select(*group_cols, value_col), value_col, p=p,
            group_by=group_cols,
        ),
        compact_index,
        compact_every=compact_every, available_now=available_now,
        trigger_interval=trigger_interval,
    )


def read_hll_sketch(
    spark: SparkSession, sketch_path: str, *, group_cols: list[str],
) -> DataFrame:
    """The maintained register table: max-merge over every committed
    generation (live batches and folded negative generations alike)."""
    return (
        _read_generations(spark, sketch_path)
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
    each micro-batch publishes ITS OWN bottom-k (<= k rows!) as a
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

    return _start_sketch(
        sdf, sketch_path, checkpoint,
        lambda b: kmv_sketch(b.select(value_col), value_col, k),
        compact_index,
        compact_every=compact_every, available_now=available_now,
        trigger_interval=trigger_interval,
    )


def read_kmv_sketch(
    spark: SparkSession, sketch_path: str, *, k: int = 256,
) -> DataFrame:
    """The maintained sketch: bottom-k of the union of every
    committed generation's members (the kmv_union merge)."""
    return (
        _read_generations(spark, sketch_path)
        .select("h").distinct().orderBy("h").limit(k)
    )


# --- count-min maintenance --------------------------------------------------
#
# CMS state merges by SUM, so a generation read twice double-counts; the
# generation commit (sources.generations) reads each batch exactly once
# at every crash point, folds included.


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
    micro-batch publishes ITS rows' counters as generation
    ``sketch_path/batch_id=N`` (a replay replaces the generation whole —
    sum state gets no algebraic second chance, so that is the
    load-bearing guard here); ``compact_every=k`` folds earlier
    generations with :func:`compact_cms`. Returns the StreamingQuery."""
    from my_feast_spark.operators.sketches import cms_build

    return _start_sketch(
        sdf, sketch_path, checkpoint,
        lambda b: cms_build(b.select(value_col), value_col, d=d, w=w),
        compact_cms,
        compact_every=compact_every, available_now=available_now,
        trigger_interval=trigger_interval,
    )


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The maintained counter table: SUM over every committed
    generation (generations a committed fold absorbed are skipped while
    they linger)."""
    return (
        _read_generations(spark, sketch_path)
        .groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    )


def compact_cms(
    spark: SparkSession, sketch_path: str, *, exclude_from: int | None = None,
) -> dict:
    """Fold CMS generations exactly: the sum fold of
    ``sources.generations.fold`` over the committed generations below
    ``exclude_from`` (all when unset), like compact_index. Returns
    ``{"generation", "folded"}``."""
    ids = [
        n for n, _ in committed(sketch_path, "batch_id")
        if exclude_from is None or n < exclude_from
    ]

    def merge(out: str, sources: list) -> None:
        (
            spark.read.option("basePath", sketch_path).parquet(*sources)
            .groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
            .coalesce(1).write.mode("overwrite").parquet(out)
        )

    heal(sketch_path, "batch_id")  # a crashed fold, even with nothing to merge
    target = None
    if len(ids) > 1:
        target = fold(sketch_path, "batch_id", ids, merge)
    return {"generation": target,
            "folded": 0 if target is None else len(ids)}
