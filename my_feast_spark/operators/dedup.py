"""Deduplication operators for large-scale document corpora.

Four tiers, cheapest first — the standard LLM-training-data pipeline:

  * exact_dedup        — hash-groupBy on a normalized fingerprint; one
                         shuffle on the md5 key, linear.
  * jaccard_dup_pairs  — exact n-gram-shingle Jaccard via the shingle
                         join (blocking on shared shingles): only pairs
                         sharing >= 1 shingle are ever materialized.
                         Frequency-capped shingles bound the blow-up from
                         hot shingles (stop-shingle removal), the standard
                         skew defense at corpus scale.
  * minhash_lsh_dup_pairs — MinHash signatures + banded LSH: candidates
                         only from shared bands, then exact-Jaccard
                         verification of candidates. Sub-quadratic; the
                         scale path when the shingle join is too hot.
  * simhash_dup_pairs  — 64-bit SimHash + pigeonhole banding on 16-bit
                         chunks for hamming-distance <= k candidates,
                         exact hamming verify.

Everything is built from native expressions (xxhash64, higher-order array
functions, groupBy) — no Python in the hot path; determinism comes from
fixed hash seeds, so results are reproducible across runs and cluster
layouts.
"""

from __future__ import annotations

import functools
import random as _random
from typing import Callable

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, functions as F

from my_feast_spark.functions.scalar import floor_round
from my_feast_spark.functions.text import doc_fingerprint, let, tokens
from my_feast_spark.sources.readers import spread_partitions

# --- portable (cross-engine) hash family ---------------------------------
#: Mersenne prime 2^31 - 1: the modulus of the Carter-Wegman minhash
#: family below. Coefficients are fixed at import so the Spark plan and a
#: DuckDB oracle compute IDENTICAL signatures; products stay < 2^62, so
#: the arithmetic is overflow-free in both engines' signed 64-bit ints.
MINHASH_P = 2147483647
_rng = _random.Random(0x5EED)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(64)]
_MASK63 = (1 << 63) - 1


def portable_hash64(col: Column) -> Column:
    """64-bit string hash reproducible outside Spark: the little-endian
    integer of md5's LOWER 8 bytes — bit-for-bit DuckDB's
    ``md5_number_lower()``, which lets SQL oracles replay hash-dependent
    plans (LSH banding, SimHash) exactly. Spark carries it as a signed
    long with the same 64-bit pattern: bit ops are pattern-identical;
    mask to 63 bits (``_MASK63``) before arithmetic so signedness never
    diverges from the oracle's unsigned value.

    Little-endian-ness is ONE regexp that reverses the 8 hex byte pairs
    into big-endian, then a single signed ``conv(_, 16, -10)`` (exactly
    64 bits, so no precision loss; the negative toBase renders the bit
    pattern as a signed decimal that casts to long losslessly). This
    replaced a per-byte conv/shift/or chain (~25 expression nodes): the
    round-9 DSIR measurement put the portable family at 6.5x xxhash64
    per gram largely from that chain. Still heavier than ONE xxhash64
    node — keep xxhash64 for pure-Spark scale paths."""
    h = F.md5(F.encode(col, "UTF-8"))
    be = F.regexp_replace(
        F.substring(h, 17, 16),
        "(..)(..)(..)(..)(..)(..)(..)(..)",
        "$8$7$6$5$4$3$2$1",
    )
    return F.conv(be, 16, -10).cast("long")


def portable_hash32(col: Column) -> Column:
    """32-bit sibling of ``portable_hash64`` — hex chars 25-32 of the
    md5 digest parsed as ONE big-endian integer: one conv node instead
    of eight, for hot paths that only need boundary/bucket entropy,
    not 64-bit identity. DuckDB replays it as
    ``CAST(concat('0x', substr(md5(s), 25, 8)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.encode(col, "UTF-8")), 25, 8), 16, 10
    ).cast("long")


def _portable_base(col: Column) -> Column:
    """Hash reduced into [0, MINHASH_P) — the minhash family's input."""
    return F.pmod(portable_hash64(col).bitwiseAND(F.lit(_MASK63)), F.lit(MINHASH_P))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one row per
    distinct content with the keeper (min id) and duplicate count."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sub-document exact dedup — CCNet's paragraph-hash dedup
    (Wenzek et al. 2020) adapted to unstructured text: split each doc
    into non-overlapping ``chunk_words``-word chunks (the "paragraphs"),
    fingerprint each chunk (``hash_fn``: "xxhash64" default /
    "portable" for SQL-oracle replay — see ``_chunk_hasher``), keep
    only the FIRST occurrence corpus-wide (ordered by
    (doc_id, chunk_idx)), and rebuild every doc from its surviving
    chunks.

    Returns one row per input doc: ``(doc_id, n_chunks, n_kept,
    kept_md5)`` where ``kept_md5`` digests the rebuilt text (kept chunks
    joined in order) — the scalar contract the oracle hashes.

    Scale shape: chunking is a map-only projection. The winner per
    fingerprint is an AGGREGATE — ``min(struct(doc, chunk_idx))`` over
    the narrow ``(fp, doc, chunk_idx)`` projection — not a window: the
    map-side combiner collapses each partition to one candidate per
    distinct fp before the exchange, so the decision shuffle carries
    ~24-byte rows (a window would shuffle every chunk's TEXT to the fp
    partitions with no partial aggregation). The winner set joins back
    on the 8-byte fp (text crosses once), dropped chunks null their
    text immediately, and the doc-rebuild regroup shuffles surviving
    text only — on a high-duplication corpus, a fraction of the input.
    """
    toks = tokens(F.lower(F.col(text_col)))
    k = chunk_words
    chunk_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(float(k))).cast("int") - 1,
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return _keep_first_chunks(df, id_col, chunk_arr, _chunk_hasher(hash_fn))


def _chunk_hasher(hash_fn: str):
    """The sub-document dedup family's hash switch: ``"xxhash64"``
    (default — one JVM intrinsic per call, the 100 TB path) or
    ``"portable"`` (md5-derived, bit-replayable by a SQL oracle)."""
    if hash_fn == "portable":
        return portable_hash64
    if hash_fn == "xxhash64":
        return F.xxhash64
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _keep_first_chunks(
    df: DataFrame, id_col: str, chunk_arr: Column, hasher=portable_hash64
) -> DataFrame:
    """Shared tail of the sub-document dedup family (``chunk_dedup``,
    ``cdc_chunk_dedup``): explode a per-doc chunk array, keep each
    chunk's first corpus-wide occurrence by ``(doc, chunk_idx)``, and
    rebuild per-doc ``(n_chunks, n_kept, kept_md5)``. The winner per
    fingerprint is a map-side-combined AGGREGATE over the narrow
    ``(fp, doc, chunk_idx)`` projection — never a window over chunk
    text (see ``chunk_dedup``'s scale note)."""
    exploded = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"),
    ).withColumn("fp", hasher(F.col("chunk")))
    winners = (
        exploded.groupBy("fp")
        .agg(
            F.min(
                F.struct(F.col("doc"), F.col("chunk_idx"))
            ).alias("__win")
        )
        .select(
            "fp",
            F.col("__win.doc").alias("__wdoc"),
            F.col("__win.chunk_idx").alias("__widx"),
        )
    )
    flagged = (
        exploded.join(winners, "fp")
        .withColumn(
            "kept",
            (
                (F.col("doc") == F.col("__wdoc"))
                & (F.col("chunk_idx") == F.col("__widx"))
            ).cast("int"),
        )
        # dropped chunks stop carrying text right here — the rebuild
        # regroup below shuffles survivors only
        .withColumn(
            "chunk", F.when(F.col("kept") == 1, F.col("chunk"))
        )
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("kept").alias("n_kept"),
            F.md5(
                F.encode(
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        F.col("kept") == 1,
                                        F.struct(
                                            F.col("chunk_idx"),
                                            F.col("chunk"),
                                        ),
                                    )
                                )
                            ),
                            lambda s: s.chunk,
                        ),
                    ),
                    "UTF-8",
                )
            ).alias("kept_md5"),
        )
        .select(
            F.col("doc").alias(id_col), "n_chunks", "n_kept", "kept_md5"
        )
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    hash_window: int = 4,
    mask_bits: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Content-defined chunking dedup — the LBFS boundary rule
    (Muthitacharoen et al., SOSP 2001) over WORDS instead of bytes: a
    chunk boundary falls after word ``i`` iff the rolling hash of the
    last ``hash_window`` words is 0 mod ``2**mask_bits``, giving
    chunks of ~``2**mask_bits`` words on average. Each chunk then
    keeps only its first corpus-wide occurrence and docs rebuild,
    exactly as ``chunk_dedup``.

    Why a second chunker: fixed ``chunk_words`` windows are
    SHIFT-FRAGILE — one word inserted near the top of a doc moves every
    later chunk boundary, so a near-copy shares no chunk hashes past
    the edit. CDC boundaries depend only on a local word window, so
    they re-synchronize within ~``hash_window`` words of an edit and
    the shared suffix dedups. This is the standard robustness upgrade
    for sub-document dedup of crawl snapshots, where boilerplate
    shifts by a few tokens between captures.

    Scale shape: chunking stays MAP-ONLY — boundary positions and the
    chunk array are built with higher-order array expressions (one
    tokenization and one bounds array per doc, ``let``-bound so neither
    re-evaluates per element; the hash pass is O(words x hash_window)).
    The decision/rebuild tail is the shared aggregate-winner plan of
    ``_keep_first_chunks``.

    The boundary hash is a POLYNOMIAL rolling hash over per-word
    hashes (Rabin-Karp structure): each word is hashed ONCE
    (``hash_fn``: "xxhash64" default / "portable" md5-derived for SQL
    oracle replay), and the window value at position i is
    ``sum_j wh[i-j] * B^j mod P`` — w integer multiply-adds per
    position instead of re-hashing a w-word window STRING at every
    position (HOF lambdas are interpreted, so per-position md5 over
    window strings dominated the portable path ~5x before this).
    A boundary falls where the window value mod ``2**mask_bits`` is
    zero; everything is exact [0, P) integer arithmetic, so either
    hash family replays bit-for-bit in SQL.
    """
    w, div = hash_window, 1 << mask_bits
    hasher = _chunk_hasher(hash_fn)
    # B^j mod P for the window polynomial; P = MINHASH_P keeps every
    # product < 2^62 (word hashes and coefficients both < 2^31)
    _B = 1_000_003
    bpow = [pow(_B, j, MINHASH_P) for j in range(w)]

    def boundary_hash(wh: Column, i: Column) -> Column:
        # positions near the doc head use the short window (j < i)
        terms = [
            F.when(
                i > j,
                F.pmod(
                    F.element_at(wh, i - j) * F.lit(bpow[j]),
                    F.lit(MINHASH_P),
                ),
            ).otherwise(F.lit(0))
            for j in range(w)
        ]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return F.pmod(total, F.lit(MINHASH_P))

    def build(words: Column) -> Column:
        n = F.size(words)
        # the word hash only feeds the boundary polynomial (bucket
        # entropy, not identity): the portable path uses the 32-bit
        # one-conv md5 slice — measured ~2x the whole query vs running
        # the 8-conv 64-bit portable hash per word
        if hash_fn == "portable":
            word_hash = lambda t: F.pmod(  # noqa: E731
                portable_hash32(t), F.lit(MINHASH_P)
            )
        else:
            word_hash = lambda t: F.pmod(  # noqa: E731
                hasher(t).bitwiseAND(F.lit(_MASK63)), F.lit(MINHASH_P)
            )
        word_hashes = F.transform(words, word_hash)
        return let(word_hashes, lambda wh: _chunks_from_bounds(words, n, wh))

    def _chunks_from_bounds(words, n, wh):
        # boundaries strictly inside the doc: positions 1..n-1 whose
        # rolling window value lands on the mask. sequence() steps -1
        # when start > stop, so the n == 1 case needs the guard.
        bpos = F.when(
            n > 1,
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.pmod(boundary_hash(wh, i), F.lit(div))
                == F.lit(0),
            ),
        ).otherwise(F.array().cast("array<int>"))
        bounds_expr = F.concat(
            F.array(F.lit(0).cast("int")), bpos, F.array(n)
        )
        return let(
            bounds_expr,
            lambda bounds: F.transform(
                F.sequence(F.lit(1), F.size(bounds) - 1),
                lambda j: F.concat_ws(
                    " ",
                    F.slice(
                        words,
                        F.element_at(bounds, j) + 1,
                        F.element_at(bounds, j + 1) - F.element_at(bounds, j),
                    ),
                ),
            ),
        )

    chunk_arr = let(tokens(F.lower(F.col(text_col))), build)
    return _keep_first_chunks(df, id_col, chunk_arr, hasher)


def _with_shingles(df, id_col, text_col, n, tokens_col=None):
    """doc -> distinct word n-gram shingle array (docs with < n tokens drop).

    Input is spread to cluster parallelism first: shingling is CPU-bound
    and a small single-file corpus would otherwise run on one core.

    ``tokens_col`` names an ALREADY-LOWERCASED token-array column to
    shingle from instead of re-tokenizing ``text_col`` — the
    tokenize-once path for pipelines (curation) that project the token
    array a single time and fan it out to several shingle consumers.

    The token array is bound through ``let`` before the shingle HOF
    touches it. A ``withColumn("__toks", split(...))`` projection would
    be collapsed INTO the transform lambda by the optimizer, so the
    interpreted ``concat_ws(__toks[i], ...)`` would re-run the full
    regex tokenization per shingle element: O(tokens^2) interpreted
    splits, the scan task sitting in ``StringSplit.nullSafeEval`` under
    ``ConcatWs.eval``. Through the 1-element ``transform`` the lambda
    reads a NamedLambdaVariable (a slot read), so tokenization is one
    O(tokens) pass per row (bare shingle+explode count at sf0.1: 1.7s
    against 12.3s for the collapsed form).
    """
    base = spread_partitions(df)
    if tokens_col is not None:
        base = base.select(
            F.col(id_col).alias("doc"), F.col(tokens_col).alias("__toks")
        )
        toks = F.col("__toks")
    else:
        base = base.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
        )
        toks = tokens(F.lower(F.col("__text")))
    return (
        base.withColumn("sh", let(toks, lambda t: _shingles_of(t, n)))
        .filter(F.col("sh").isNotNull())
        .select("doc", "sh")
    )


def _shingles_of(t: Column, n: int) -> Column:
    """Distinct word n-gram shingles over a BOUND token-array lambda
    variable; NULL when the row has fewer than ``n`` tokens (the
    caller's drop filter — building grams of a short row would read
    past the array, so the short-row branch must short-circuit here,
    not only in a pre-filter).

    CAPTURE-FREE inner lambda: grams come from ``transform`` over
    ``arrays_zip`` of the n shifted slices of ``t``, so the transform's
    lambda body references ONLY its own variable, never the outer
    ``let`` binding. A nested-capture body (``sequence + element_at(t,
    i+j)``) that CollapseProject inlines into a pandas-UDF argument
    above an Exchange (the minhash-signature fan-out:
    spread_partitions → shingles → minima UDF) defeats
    ExtractPythonUDFs: the raw PythonUDF stays inside a Project and
    every evaluation dies with INTERNAL_ERROR "Cannot evaluate
    expression: sigs(...)". A persisted shingle relation (the batch
    pair queries) is a collapse barrier and hides it; the streaming
    near-dup ingest signs straight from the text, with no barrier.
    Slices of a lambda variable are slot reads, so tokenization stays
    once per row. Position i joins tokens i..i+n-1 with single spaces,
    then array_distinct."""
    width = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(t, j + 1, width).alias(f"s{j}") for j in range(n)]
    )
    return F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(
                z,
                lambda x: F.concat_ws(
                    " ", *[x[f"s{j}"] for j in range(n)]
                ),
            )
        ),
    )


def jaccard_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via the shingle join.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >=
    threshold. ``max_shingle_freq`` drops shingles present in more than
    that many docs before pairing (stop-shingle skew cap for huge
    corpora); exactness is preserved because set sizes use the FULL
    shingle sets — capping only prunes candidate generation, so pairs
    whose every shared shingle is hot can be missed (documented recall
    trade; None = fully exact).

    ``shingles_df``: an already-PERSISTED ``(doc, sh)`` relation as
    built by ``_with_shingles(df, id_col, text_col, n)`` — the sharing
    hook for callers (``lsh_recall_report``) that run several pair
    generators over the same corpus slice; the caller keeps cache
    ownership (it is NOT added to ``_owned_caches``), and ``df``/
    ``text_col`` are ignored for shingling.
    """
    if shingles_df is not None:
        sh = shingles_df
        owned = []
    else:
        # persist: the shingle relation feeds both self-join branches and
        # the size lookup — without it Spark re-tokenizes the corpus per
        # branch
        sh = _with_shingles(df, id_col, text_col, n).persist()
        owned = [sh]
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    # join/shuffle on the 64-bit shingle hash, not the string: ~an order
    # of magnitude less shuffle volume and cheaper key compares; exact up
    # to xxhash64 collisions (~N_shingles^2 / 2^64 — negligible)
    exploded = sh.select(
        "doc", F.explode("sh").alias("__s")
    ).select("doc", F.xxhash64("__s").alias("shingle"))
    if max_shingle_freq is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > max_shingle_freq)
            .select("shingle")
        )
        exploded = exploded.join(hot, "shingle", "left_anti")
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            floor_round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    out._owned_caches = owned
    return out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, num_hashes: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: num_hashes columns ``mh_i`` =
    min(hash_i(shingle)) over the doc's shingles.

    Computed per-ROW over the shingle array — zero shuffle, vs. the
    textbook explode+groupBy which shuffles |doc|×|shingles| rows to
    re-group what was already grouped.

    ``hash_fn``: "xxhash64" (default; ONE JVM xxhash64 pass per
    shingle + an Arrow-batched seeded-splitmix64 fan-out to all
    ``num_hashes`` minima, see minhash_minima) or "portable" (one
    md5-derived base hash + the Carter-Wegman family
    ``(A_i*base + B_i) % MINHASH_P`` — exactly reproducible in DuckDB,
    so the whole LSH pipeline is oracle-checkable; at most 64 hashes).
    Any other value raises ValueError. Signatures are engine-internal:
    only persisted signature artifacts (the streaming near-dup index)
    depend on the family's bit patterns, so that index pins it.

    Measured at sf0.1 (COVERAGE probe 11): the two Arrow fan-outs tie
    within run spread (N=5 alternating, min 2.451s xxhash64 vs 2.478s
    portable) — the pipeline is dominated by the shared
    shingling/banding/join stages, not the hash family. The structural
    difference that matters at scale is the BASE hash: one xxhash64
    intrinsic per shingle vs md5 + hex-substring parsing, plus the
    splitmix remix being ~3x cheaper per element than CW's
    multiply-mod (numpy microbench, same probe). Below bench noise at
    sf0.1; favors xxhash64 as corpus size grows."""
    return _signatures_from_shingles(
        _with_shingles(df, id_col, text_col, n), num_hashes, hash_fn
    )


def minhash_signature_array(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    hash_fn: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """``(doc, __sig array<long>)`` — the array-native core of
    :func:`minhash_signatures`: element ``i`` of
    ``__sig`` is bit-identical to column ``mh_i``. Internal consumers
    (the LSH pair generator, the streaming near-dup ingest) band via
    ``element_at`` on this single array column instead of fanning out
    to ``num_hashes`` projected columns and re-assembling — at 64
    hashes the column fan-out costs a measurable slice of driver
    plan-build/analysis time PER QUERY (py4j expression construction +
    a 64-alias projection in every downstream plan) for zero execution
    benefit. The 64-column form remains the public signature view."""
    return _signature_array_from_shingles(
        _with_shingles(df, id_col, text_col, n, tokens_col),
        num_hashes,
        hash_fn,
    )


def _cw_hasher(a: int, b: int):
    # closure factory: transform() treats a 2-arg lambda's second param as
    # the array index, so coefficients must be captured here, not defaulted
    return lambda x: F.pmod(x * F.lit(a) + F.lit(b), F.lit(MINHASH_P))


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """The 64-column ``mh_i`` view over the array-native core — kept as
    the public shape; internal hot paths consume the array directly."""
    sigd = _signature_array_from_shingles(sh, num_hashes, hash_fn)
    return sigd.select(
        "doc", *[F.col("__sig")[i].alias(f"mh_{i}") for i in range(num_hashes)]
    )


def _check_minhash_family(hash_fn: str, num_hashes: int) -> None:
    """Raise ValueError unless ``hash_fn`` is a MinHash family
    ("xxhash64" or "portable") that yields ``num_hashes`` minima."""
    if hash_fn not in ("xxhash64", "portable"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    if hash_fn == "portable" and num_hashes > len(MINHASH_A):
        raise ValueError(f"portable family has {len(MINHASH_A)} hashes")


def _signature_array_from_shingles(
    sh: DataFrame, num_hashes: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """``(doc, __sig)`` with ``__sig[i]`` bit-identical to ``mh_i``."""
    _check_minhash_family(hash_fn, num_hashes)
    return sh.select(
        "doc", minhash_minima(F.col("sh"), num_hashes, hash_fn).alias("__sig")
    )


def minhash_minima(sh: Column, num_hashes: int, hash_fn: str) -> Column:
    """The ``array<long>`` MinHash signature of the shingle array ``sh``
    (NULL for NULL): one JVM base hash per shingle, then all
    ``num_hashes`` minima in one Arrow-batched pandas UDF, built once
    per SparkContext and family (:func:`_minima_udf`).

    ``"xxhash64"``: xxhash64 base, seeded splitmix64 minima. A per-hash
    expression form would pay num_hashes × num_shingles interpreted
    lambda evaluations per row (``array_min(transform(...))`` is a
    CodegenFallback HOF); the numpy fan-out is a handful of uint64 vector
    ops per row. It pairs with the xxhash64 band-sig path and is NOT
    oracle-replayable. ``"portable"``: one md5 base per shingle and the
    Carter-Wegman minima, bit-exact against the SQL oracle."""
    from pyspark import SparkContext

    udf = _minima_udf(SparkContext._active_spark_context, num_hashes, hash_fn)
    if hash_fn == "xxhash64":
        return udf(F.transform(sh, lambda s: F.xxhash64(s)))
    return udf(F.transform(sh, _portable_base))


@functools.lru_cache(maxsize=8)
def _minima_udf(sc, num_hashes: int, hash_fn: str):
    """The minima pandas UDF over a base-hash array (NULL for NULL),
    one per SparkContext (a UDF holds its context's accumulator), hash
    count and family.

    ``"portable"``: vectorized ``(A_i*base + B_i) % MINHASH_P``, exact
    int64 ops (a, x < MINHASH_P = 2^31 - 1, so a*x + b < 2^62 + 2^31
    never overflows a signed 64-bit int). ``"xxhash64"``: splitmix64
    over ``base ^ seed_i``.
    Self-contained closure: executors never import this package."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if hash_fn == "portable":
        A = np.array(MINHASH_A[:num_hashes], dtype=np.int64)[:, None]
        B = np.array(MINHASH_B[:num_hashes], dtype=np.int64)[:, None]
        P = np.int64(MINHASH_P)

        def minima(b):
            x = np.asarray(b, dtype=np.int64)[None, :]  # (1, n_shingles)
            return ((A * x + B) % P).min(axis=1)
    else:
        seeds = (
            np.arange(1, num_hashes + 1, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15)
        )
        M1 = np.uint64(0xBF58476D1CE4E5B9)
        M2 = np.uint64(0x94D049BB133111EB)

        def minima(b):
            # (num_hashes, n_shingles) splitmix64 over base ^ seed_i
            x = np.asarray(b, dtype=np.int64).astype(np.uint64)[None, :]
            x = x ^ seeds[:, None]
            x ^= x >> np.uint64(30)
            x *= M1
            x ^= x >> np.uint64(27)
            x *= M2
            x ^= x >> np.uint64(31)
            return x.min(axis=1).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(col: pd.Series) -> pd.Series:
        with np.errstate(over="ignore"):
            return pd.Series([None if b is None else minima(b) for b in col])

    return sigs


def minhash_lsh_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 50,
    hash_fn: str = "xxhash64",
    tokens_col: str | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH + exact-Jaccard verify.

    bands=16 over 64 hashes -> rows-per-band r=4; candidate-capture
    probability 1-(1-j^4)^16 (≈0.98 at j=0.5). Buckets larger than
    ``max_bucket`` docs are dropped (hot-bucket cap — at corpus scale a
    degenerate bucket would otherwise go quadratic). Candidates are then
    verified with exact Jaccard on full shingle sets, so precision is 1;
    recall is the LSH capture probability.

    ``hash_fn="portable"`` switches signatures to the md5-based
    Carter-Wegman family and band signatures to the joined-decimal string
    of the band's minhashes — every stage then replays bit-identically in
    DuckDB (see workload.SQL_MINHASH_DUP_PAIRS). xxhash64 stays the
    default and the measured-fastest: one JVM hash per
    shingle + the Arrow fan-out for all minima (see
    :func:`minhash_signatures`), and band sigs shuffle as 8-byte longs
    instead of ~40-byte strings.

    ``tokens_col``: pre-lowercased token-array column to shingle from
    (skips re-tokenizing ``text_col`` — see ``_with_shingles``).
    ``shingles_df``: an already-PERSISTED ``(doc, sh)`` relation (the
    ``jaccard_dup_pairs`` sharing hook — caller keeps cache ownership).

    The returned DataFrame carries its internal persisted relations in
    a ``_owned_caches`` attribute: a caller that fully materializes the
    pairs (e.g. the curation pipeline feeding connected components) can
    unpersist them instead of leaving session-lifetime cached blocks.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # ONE persisted shingle relation feeds signatures AND the exact verify
    if shingles_df is not None:
        sh = shingles_df
        sh_owned = []
    else:
        sh = _with_shingles(df, id_col, text_col, n, tokens_col).persist()
        sh_owned = [sh]
    # The signature relation fans out 4 ways (bucket-size agg, the
    # prune join, both self-join sides) — without a persist the whole
    # signature computation re-runs per consumer (~4x, measured the
    # dominant LSH cost). It is also the SMALLEST relation in the
    # pipeline: n_docs x (id + num_hashes longs) ~ 0.5 KB/doc, orders
    # of magnitude under the corpus, so caching it is the scale move.
    # Array-native: banding reads element_at(__sig, i) — values
    # bit-identical to the mh_i columns, minus the 64-column
    # projection fan-out in every downstream plan.
    sig = _signature_array_from_shingles(sh, num_hashes, hash_fn).persist()

    def mh(b, j):
        return F.element_at(F.col("__sig"), b * r + j + 1)

    if hash_fn == "portable":
        # equality-only use => the concatenated decimal string IS the sig
        def band_sig(b):
            return F.concat_ws(",", *[mh(b, j) for j in range(r)])
    else:
        def band_sig(b):
            return F.xxhash64(*[mh(b, j) for j in range(r)])
    band_rows = sig.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_sig(b).alias("sig"))
                for b in range(bands)
            ])
        ).alias("bs"),
    ).select("doc", "bs.band", "bs.sig")

    # Candidate generation: one bucket-size aggregate prunes SINGLETON
    # buckets (the overwhelming majority — they can't pair) and hot
    # buckets (> max_bucket) while the relation is still (band, sig,
    # count) longs; only then are the surviving rows re-grouped and
    # each bucket's (sorted, <= max_bucket) member list expanded to
    # pairs map-side. vs the textbook band self-join this shuffles
    # band_rows once instead of twice, never materializes the join
    # blow-up, and the per-group state is bounded by max_bucket ids —
    # the size filter runs BEFORE any member list is collected.
    bucket_sizes = band_rows.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("bc"))
    small = bucket_sizes.filter(
        (F.col("bc") <= max_bucket) & (F.col("bc") >= 2)
    ).select("band", "sig")
    buckets = (
        band_rows.join(small, ["band", "sig"])
        .groupBy("band", "sig")  # reuses the join's partitioning: no new exchange
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    )
    pair_arr = F.expr(
        "transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b)))"
    )
    candidates = (
        buckets.select(F.explode(F.flatten(pair_arr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
        # persist + eager materialize: candidates feeds the verify join
        # AND the cand_docs prune below; lazily both consumers would race
        # and re-run the whole banding lineage twice
        .persist()
    )
    candidates.count()
    # exact verify: jaccard over full shingle sets, restricted to candidates.
    # Semi-join-prune the exploded shingle relation to docs that appear in
    # ANY candidate pair first: verify cost then scales with |candidate
    # docs| x shingles, not |corpus| x shingles — at corpus scale the
    # candidate set is orders of magnitude smaller than the corpus.
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc"))
        .union(candidates.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    exploded = (
        sh.join(cand_docs, "doc", "left_semi")
        .select("doc", F.explode("sh").alias("__s"))
        .select("doc", F.xxhash64("__s").alias("shingle"))
    )
    ea = exploded.select(F.col("doc").alias("doc_a"), "shingle")
    eb = exploded.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        candidates.join(ea, "doc_a").join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            floor_round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    out._owned_caches = [*sh_owned, sig, candidates]
    return out


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc: bit b of the fingerprint = majority vote of
    bit b over hash(token) of all tokens.

    ``hash_fn="portable"`` uses the md5-derived 64-bit hash whose bit
    pattern DuckDB reproduces (md5_number_lower) — same fingerprints, so
    hamming distances are oracle-checkable; it runs explode + one
    groupBy of ``bits`` small sums (partial agg keeps it cheap).
    ``hash_fn="xxhash64"`` (default) is the map-only Arrow path: one
    JVM tokenize+hash projection, then a vectorized bit-vote per row —
    no explode, no aggregate, no row blow-up in the map stage. Its
    fingerprints are
    BIT-IDENTICAL to the explode + ``bits``-sum aggregate shape over
    xxhash64 token hashes (same token hash, same majority rule — pinned
    in tests/test_extensions.py against :func:`_simhash_aggregate`),
    which benched ~2.4x slower at sf0.1 (1.91s vs 0.81s). Any other
    ``hash_fn`` raises ValueError."""
    if hash_fn == "xxhash64":
        return _simhash_numpy(df, id_col, text_col, bits)
    if hash_fn != "portable":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return _simhash_aggregate(df, id_col, text_col, bits, portable_hash64)


def _simhash_aggregate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int,
    token_hash: Callable[[Column], Column],
) -> DataFrame:
    """SimHash as explode + one groupBy of ``bits`` vote sums, with
    ``token_hash`` the 64-bit hash of each token. NULL text drops the
    doc."""
    tok = (
        spread_partitions(df)
        .select(F.col(id_col).alias("doc"), tokens(F.lower(F.col(text_col))).alias("t"))
        # explode_outer: avoids the inferred size>0 predicate re-running
        # the tokenizer in the scan filter (tokens are never empty)
        .select("doc", F.explode_outer("t").alias("token"))
        .filter(F.col("token").isNotNull())
        .withColumn("h", token_hash(F.col("token")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(F.col(f"v_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        fp = fp.bitwiseOR(bit)
    return agg.select("doc", fp.alias("simhash"))


def _simhash_numpy(df, id_col, text_col, bits) -> DataFrame:
    """Map-only SimHash: per-row token hashes (one JVM pass) -> Arrow
    batch -> vectorized bit votes -> packed fingerprint. Produces
    fingerprints bit-identical to :func:`_simhash_aggregate` over
    ``F.xxhash64`` (same token hash, same majority rule) without the
    explode + ``bits``-sum aggregate: that shape pays a |tokens|-row
    blow-up in the map stage and a per-doc hash aggregate; this is one
    projection. Self-contained closure — executors never import this
    package."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    hashed = spread_partitions(df).select(
        F.col(id_col).alias("doc"),
        F.transform(
            tokens(F.lower(F.col(text_col))), lambda t: F.xxhash64(t)
        ).alias("__h"),
        # NULL text -> NULL token array: drop the doc as the aggregate
        # shape does (np.asarray(None) would otherwise fail the whole
        # job on one NULL row)
    ).filter(F.col("__h").isNotNull())

    @pandas_udf("long")
    def fingerprint(col: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.empty(len(col), dtype=np.int64)
        for i, hs in enumerate(col):
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)[:, None]
            bit = ((h >> shifts) & np.uint64(1)).astype(np.int64)  # (n, bits)
            votes = (2 * bit - 1).sum(axis=0)
            fp = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                fp |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(fp.astype(np.int64))
        return pd.Series(out)

    return hashed.select("doc", fingerprint(F.col("__h")).alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: 4 x 16-bit chunks — any pair within hamming 3
    shares at least one exact chunk, so candidates come from equi-joins
    on (chunk_idx, chunk_value), never a cross join. Recall is EXACTLY 1
    (pigeonhole: <=3 differing bits leave >=1 of 4 chunks untouched), so
    with ``hash_fn="portable"`` the output equals a brute-force SQL
    hamming join bit-for-bit.

    The fingerprint relation (doc, simhash — 16 bytes/row, orders of
    magnitude under the corpus) is persisted: both chunk-join sides
    read it, and without the persist the whole tokenize+hash+vote
    pipeline runs twice. The returned DataFrame exposes it via
    ``_owned_caches`` (see ``minhash_lsh_dup_pairs``).

    The chunk count adapts to the hamming budget (smallest power-of-two
    divisor of 64 above ``max_hamming``), so recall stays exactly 1 for
    any budget up to 31 — larger budgets would need 64 single-bit
    chunks, i.e. a full self-join, and are rejected."""
    fp = simhash(df, id_col, text_col, hash_fn=hash_fn).persist()
    n_chunks = next(
        (d for d in (4, 8, 16, 32) if d > max_hamming), None
    )
    if n_chunks is None:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than 32 chunks — the "
            "pigeonhole join degenerates to a cross join; use a smaller "
            "budget"
        )
    pairs = hamming_pairs(
        fp, "doc", "simhash", max_hamming=max_hamming, n_chunks=n_chunks
    )
    pairs._owned_caches = [fp]
    return pairs


def hamming_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs with hamming distance <=
    ``max_hamming`` between 64-bit fingerprints, via pigeonhole chunk
    blocking: any pair within ``max_hamming`` differing bits leaves at
    least one of ``n_chunks`` equal-width chunks untouched (requires
    ``n_chunks > max_hamming``), so candidates come from equi-joins on
    (chunk_idx, chunk_value) — never a cross join — and recall is
    EXACTLY 1. Shared by the text simhash tier and the image
    perceptual-hash tier; pass a persisted/cheap ``fp`` relation (both
    join sides read it)."""
    if n_chunks <= max_hamming:
        raise ValueError(
            f"pigeonhole needs n_chunks > max_hamming, got {n_chunks} <= "
            f"{max_hamming}"
        )
    if 64 % n_chunks:
        raise ValueError(f"64 bits must split evenly, got n_chunks={n_chunks}")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = fp.select(
        F.col(id_col).alias("doc"), F.col(hash_col).alias("fph"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftrightunsigned(F.col(hash_col), i * width)
                    .bitwiseAND(F.lit(mask)).alias("cv"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select("doc", "fph", "c.ci", "c.cv")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fph").alias("sh_a"),
            F.col("b.fph").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
