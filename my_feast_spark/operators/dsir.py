"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard data-selection method next to the reference-vs-crawl
classifier (``operators/classifier.py``): instead of keeping the crawl
docs a classifier scores high, DSIR RESAMPLES the raw corpus toward a
target distribution — per-doc importance weights between two hashed
n-gram bag models (target p, raw q), then a without-replacement draw of
k docs with probability proportional to the weights. The selected set
matches the target's n-gram statistics instead of cliff-cutting on a
score, which is the paper's measured advantage on downstream LM quality
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023).

Everything is aggregation + broadcast joins, so it fits Spark natively
at any corpus size:

  * feature space — unigrams + bigrams hashed into ``num_buckets``
    buckets (the paper's hashed n-gram features; B ~ 10k). The hash is
    the portable md5 family (``operators/dedup.portable_hash64``), so a
    pure-Python or SQL reference replays bucket ids bit-for-bit.
  * fit — ONE aggregation pass per corpus: per-bucket counts (hash
    aggregate over the exploded gram stream, map-side combining), a
    full-outer join of the two ≤B-row count tables, add-k smoothing,
    log2 ratio. The model IS the B-row (bucket, lr) relation — tiny,
    broadcastable, persisted with the repo cache-ownership rule.
  * weigh — explode each raw doc's gram buckets, ONE broadcast join
    against the ratio relation, one hash aggregate per doc:
    ``logw(d) = sum_b count_b(d) * (log2 p_b - log2 q_b)``. Buckets
    unseen in both corpora fall back to the smoothed default ratio, so
    weighing is total.
  * resample — the Gumbel top-k trick: a without-replacement draw of k
    docs with P ∝ exp2(logw) is exactly the k largest values of
    ``logw + G_d`` with G_d standard Gumbel noise. The noise is
    deterministic (inverse-CDF of the portable uniform hash of
    ``key:salt``), so the draw is reproducible across runs, engines,
    and partitionings, and the plan is a TakeOrderedAndProject — a
    per-partition top-k plus a driver merge, never a global sort.

No Python UDFs anywhere; the only driver traffic is two 1-row scalar
collects at fit time.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from my_feast_spark.functions.scalar import floor_round
from my_feast_spark.functions.text import let, tokens
from my_feast_spark.operators.dedup import _MASK63, portable_hash64
from my_feast_spark.operators.sampling import RESOLUTION, sample_bucket
from my_feast_spark.sources.generations import (
    committed,
    fold,
    read_base_json,
    write_json,
)


@dataclass
class DSIRModel:
    """Hashed n-gram importance ratios + the scalars needed to weigh.

    ``ratio`` is (bucket, lr) with lr = log2 p̂(b|target) - log2
    p̂(b|raw) under add-k over the ``num_buckets`` feature space;
    ``default_lr`` is the same ratio for a bucket unseen in BOTH
    corpora. The relation is persisted by the trainer — callers that
    materialize weights release it (the repo cache-ownership rule).
    """

    ratio: DataFrame
    default_lr: float
    k: float
    num_buckets: int
    hash_fn: str = "portable"


def hashed_gram_buckets(
    text_col: str, num_buckets: int, *, lowercase: bool = True,
    hash_fn: str = "portable",
) -> Column:
    """Per-doc array of hashed-n-gram bucket ids (duplicates kept — the
    bag COUNTS are the feature vector): unigrams plus adjacent bigrams
    joined by one space, each bucketed as
    ``pmod(hash64(gram) & MASK63, num_buckets)``.

    ``hash_fn``: "portable" (default — md5-lower-8, replayable by a
    DuckDB/SQL oracle bit-for-bit; ~8 expression nodes per gram) or
    "xxhash64" (one JVM hash node per gram — the 100 TB scale path; the
    bucket ids differ from the portable family's, so a model is fit and
    served with ONE family — same rule as the dedup tier).

    Empty-string tokens are dropped before gram construction, so a
    blank / whitespace-only / NULL document yields an empty array (its
    importance weight is exactly 0). Unigrams contain no whitespace, so
    the space-joined bigram namespace can never collide with them.
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    return hashed_gram_buckets_from_tokens(
        tokens(t), num_buckets, hash_fn=hash_fn
    )


def hashed_gram_buckets_from_tokens(
    toks: Column, num_buckets: int, *, hash_fn: str = "portable"
) -> Column:
    """:func:`hashed_gram_buckets` over an ALREADY-TOKENIZED (lowered)
    array — the pipeline path that projects one shared token array
    (``curation.curate``'s ``__ltoks``) feeds it here instead of
    re-tokenizing the text."""
    if hash_fn not in ("portable", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    def _bucket(gram: Column) -> Column:
        h = (
            portable_hash64(gram) if hash_fn == "portable"
            else F.xxhash64(gram)
        )
        return F.pmod(
            h.bitwiseAND(F.lit(_MASK63)),
            F.lit(num_buckets),
        ).cast("int")

    return let(
        F.filter(toks, lambda w: w != F.lit("")),
        lambda toks: F.concat(
            F.transform(toks, _bucket),
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.greatest(F.size(toks), F.lit(2))),
                    lambda i: _bucket(
                        F.concat_ws(
                            " ", F.element_at(toks, i - 1), F.element_at(toks, i)
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<int>")),
        ),
    )


def _gram_expr(text_col: str | None, tokens_col: str | None,
               num_buckets: int, lowercase: bool,
               hash_fn: str = "portable") -> Column:
    if tokens_col is not None:
        return hashed_gram_buckets_from_tokens(
            F.col(tokens_col), num_buckets, hash_fn=hash_fn
        )
    return hashed_gram_buckets(
        text_col, num_buckets, lowercase=lowercase, hash_fn=hash_fn
    )


def _bucket_counts(df: DataFrame, text_col: str | None, num_buckets: int,
                   lowercase: bool, tokens_col: str | None = None,
                   hash_fn: str = "portable") -> DataFrame:
    return (
        df.select(
            F.explode(
                _gram_expr(text_col, tokens_col, num_buckets, lowercase,
                           hash_fn)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_gram_events(
    df: DataFrame,
    id_col: str,
    text_col: str | None,
    num_buckets: int,
    *,
    lowercase: bool = True,
    tokens_col: str | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """The exploded per-doc gram-bucket relation ``(id, bucket)`` —
    ``explode_outer``, so gram-less docs keep one NULL-bucket row (the
    weigh pass needs them; count consumers filter the NULLs out).

    The compute-once sharing hook: the tokenize + hash pass over a
    corpus is the dominant DSIR cost with the portable md5 family, and
    fitting then weighing the raw corpus runs it twice (once inside
    ``fit_dsir``'s count aggregate, once inside ``dsir_logweights``).
    Materialize this relation once (persist), pass it to
    ``fit_dsir(raw_events=…, target_events=…)`` and
    ``dsir_logweights(events_df=…)``, and every consumer reduces to an
    aggregate/join over the cached rows — bit-identical outputs, one
    gram pass. The caller owns the cache.
    """
    return df.select(
        F.col(id_col),
        F.explode_outer(
            _gram_expr(text_col, tokens_col, num_buckets, lowercase,
                       hash_fn)
        ).alias("bucket"),
    )


def _counts_from_events(events: DataFrame) -> DataFrame:
    # explode_outer keeps gram-less docs as NULL-bucket rows; the bag
    # counts must not see them (plain explode emits nothing there)
    return (
        events.filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fit_dsir(
    target_df: DataFrame,
    raw_df: DataFrame,
    text_col: str = "text",
    *,
    num_buckets: int = 10_000,
    k: float = 0.5,
    lowercase: bool = True,
    target_tokens_col: str | None = None,
    raw_tokens_col: str | None = None,
    hash_fn: str = "portable",
    target_events: DataFrame | None = None,
    raw_events: DataFrame | None = None,
) -> DSIRModel:
    """Fit the two hashed-gram bag models and their log2 ratio.

    One aggregation pass per corpus; the (≤ num_buckets)-row count
    tables full-outer join on bucket, add-k smooths both sides over the
    FIXED feature space (every one of the ``num_buckets`` buckets is a
    possible event, so the smoothing denominator is ``total + k*B`` —
    no vocabulary-size estimation problem, unlike token-space models).
    ``target_tokens_col`` / ``raw_tokens_col`` switch that side to an
    already-tokenized (lowered) array column instead of ``text_col``.

    ``target_events`` / ``raw_events``: a pre-built
    :func:`dsir_gram_events` relation for that side — the counts then
    aggregate the shared relation instead of re-running the tokenize +
    hash pass (the ``events`` relation MUST have been built with this
    call's ``num_buckets``/``hash_fn``; the caller pins that by
    constructing both from the same arguments). Bit-identical model
    either way.
    """
    if num_buckets < 1:
        raise ValueError("num_buckets must be positive")
    tc = (
        _counts_from_events(target_events)
        if target_events is not None
        else _bucket_counts(target_df, text_col, num_buckets, lowercase,
                            tokens_col=target_tokens_col, hash_fn=hash_fn)
    )
    rc = (
        _counts_from_events(raw_events)
        if raw_events is not None
        else _bucket_counts(raw_df, text_col, num_buckets, lowercase,
                            tokens_col=raw_tokens_col, hash_fn=hash_fn)
    )
    joined = (
        tc.withColumnRenamed("c", "ct")
        .join(rc.withColumnRenamed("c", "cr"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
        )
        .persist()
    )
    tot = joined.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    ).collect()[0]
    if not tot["tt"] or not tot["tr"]:
        joined.unpersist()
        raise ValueError(
            "both corpora must contain at least one token "
            f"(target grams={tot['tt']}, raw grams={tot['tr']})"
        )
    den_t = tot["tt"] + k * num_buckets
    den_r = tot["tr"] + k * num_buckets
    ratio = joined.select(
        "bucket",
        (
            F.log2((F.col("ct") + F.lit(k)) / F.lit(den_t))
            - F.log2((F.col("cr") + F.lit(k)) / F.lit(den_r))
        ).alias("lr"),
    )
    # hand the persisted count relation's lifetime to the ratio
    # relation's consumers (projection of it — the cache backs every
    # weigh join until the caller releases it)
    ratio._owned_caches = [joined]
    return DSIRModel(
        ratio=ratio,
        default_lr=math.log2(k / den_t) - math.log2(k / den_r),
        k=k,
        num_buckets=num_buckets,
        hash_fn=hash_fn,
    )


#: the generation key of a model path and its fold's meta file
_KEY = "fit"
_MODEL = "_model.json"


def write_dsir_model(model: DSIRModel, path: str) -> None:
    """Persist the fitted model as one fold of the generation root
    ``path`` (``sources.generations``): the fold directory holds the
    ≤B-row (bucket, lr) relation as parquet and a ``_model.json`` with
    the three scalars, the hash family and the ratio schema, committed
    under one marker, so a read sees one whole fit or the previous one.
    A 100 TB pipeline fits ONCE on a target/raw snapshot and reuses the
    frozen ratios across every ingest batch — the same fit-once/
    serve-many shape as ``pq.write_ivfpq_index``. Writing does not
    release the trainer's cache; the caller still owns
    ``model.ratio._owned_caches``."""
    meta = {
        "default_lr": model.default_lr,
        "k": model.k,
        "num_buckets": model.num_buckets,
        "hash_fn": model.hash_fn,
        "schema": model.ratio.schema.jsonValue(),
    }

    def write(gen_dir: str, _sources: list[str]) -> None:
        model.ratio.coalesce(1).write.parquet(gen_dir)
        write_json(f"{gen_dir}/{_MODEL}", meta)

    fold(path, _KEY, [n for n, _ in committed(path, _KEY)], write)


def read_dsir_model(spark, path: str) -> DSIRModel:
    """Load a model written by :func:`write_dsir_model` with no Spark
    job. The ratio relation is a plain parquet scan of the latest fit
    (no cache to own — broadcast at weigh time either way), so
    ``_owned_caches`` is empty. FileNotFoundError when ``path`` holds
    no committed fit."""
    gens, meta = read_base_json(path, _KEY, _MODEL)
    if not gens:
        raise FileNotFoundError(
            f"no committed DSIR model under {path!r} (nothing written, "
            "a torn write, or the older ratio/ + meta/ layout); rebuild "
            "it with write_dsir_model"
        )
    ratio = spark.read.schema(
        T.StructType.fromJson(meta["schema"])
    ).parquet(gens[0][1])
    ratio._owned_caches = []
    return DSIRModel(
        ratio=ratio,
        default_lr=float(meta["default_lr"]),
        k=float(meta["k"]),
        num_buckets=int(meta["num_buckets"]),
        hash_fn=str(meta["hash_fn"]),
    )


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    text_col: str | None,
    model: DSIRModel,
    *,
    lowercase: bool = True,
    out_col: str = "logw",
    decimals: int = 6,
    tokens_col: str | None = None,
    events_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document log2 importance weight: the sum of per-gram bucket
    ratios (buckets unseen in both training corpora -> the smoothed
    default), ROUNDED with the stable floor form (see
    ``functions.scalar.floor_round``) so two engines can never disagree
    on a boundary within float-summation noise. Gram-less documents (empty/NULL text)
    keep weight exactly 0.0 via the outer explode.

    ``events_df``: a pre-built :func:`dsir_gram_events` relation for
    ``df`` (same id column, built with the model's ``num_buckets`` and
    ``hash_fn``) — skips this call's tokenize + hash pass and weighs
    the shared relation instead. Bit-identical weights either way."""
    ev = events_df if events_df is not None else df.select(
        F.col(id_col),
        F.explode_outer(
            _gram_expr(text_col, tokens_col, model.num_buckets, lowercase,
                       model.hash_fn)
        ).alias("bucket"),
    )
    weighed = ev.join(F.broadcast(model.ratio), "bucket", "left").withColumn(
        "__lr",
        F.when(F.col("bucket").isNull(), F.lit(0.0)).otherwise(
            F.coalesce(F.col("lr"), F.lit(model.default_lr))
        ),
    )
    return weighed.groupBy(id_col).agg(
        floor_round(F.sum("__lr"), decimals).alias(out_col),
        F.sum(F.when(F.col("bucket").isNotNull(), 1).otherwise(0)).alias(
            "n_grams"
        ),
    )


def dsir_resample(
    weighted: DataFrame,
    key_col: str,
    n: int,
    *,
    logw_col: str = "logw",
    salt: str = "dsir",
    keep_key_col: str = "gumbel_key",
) -> DataFrame:
    """Gumbel top-k: the n rows with the largest ``logw + Gumbel``.

    A without-replacement draw of n rows with probability proportional
    to exp2(logw) is exactly the top n of ``logw + G/ln(2)`` with G
    standard Gumbel (the Gumbel-max trick, base-2 scaled to match the
    log2 weights). G is deterministic: ``-ln(-ln(u))`` with u the
    portable uniform hash of ``key:salt`` mapped to the open interval
    ((b + 0.5)/RESOLUTION — never 0 or 1, so both logs are finite).
    Ties (identical weight AND hash bucket) break by key so the
    selected set is unique. The plan is orderBy+limit —
    TakeOrderedAndProject, a per-partition heap + driver merge, no
    global sort shuffle. Change ``salt`` for an independent draw.
    """
    if n < 1:
        raise ValueError("n must be positive")
    u = (sample_bucket(F.col(key_col), salt=salt) + F.lit(0.5)) / F.lit(
        float(RESOLUTION)
    )
    g = -F.log(-F.log(u)) / F.lit(math.log(2.0))
    return (
        weighted.withColumn(keep_key_col, F.col(logw_col) + g)
        .orderBy(F.col(keep_key_col).desc(), F.col(key_col))
        .limit(n)
    )
