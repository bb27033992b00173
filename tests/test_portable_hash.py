"""Cross-engine hash contract: operators.dedup.portable_hash64 must carry
the same 64-bit pattern as DuckDB's md5_number_lower(), and the portable
minhash family must reduce identically — this is what makes the LSH dedup
oracles (workload.SQL_MINHASH_DUP_PAIRS / SQL_SIMHASH_DUP_PAIRS) sound.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from my_feast_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    _MASK63,
    _portable_base,
    portable_hash64,
)

SAMPLES = ["abc", "hello world", "", "näïve café", "a b  c\t d", "0", "🙂 emoji"]


def test_portable_hash64_matches_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = {
        r.s: r.h
        for r in df.select("s", portable_hash64(F.col("s")).alias("h")).collect()
    }
    for s in SAMPLES:
        (expected,) = duckdb.sql(
            "select md5_number_lower(?)", params=[s]
        ).fetchone()
        # Spark carries the pattern as a signed long; compare patterns
        assert got[s] & 0xFFFFFFFFFFFFFFFF == expected, s


def test_portable_base_matches_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = {
        r.s: r.b
        for r in df.select("s", _portable_base(F.col("s")).alias("b")).collect()
    }
    for s in SAMPLES:
        (expected,) = duckdb.sql(
            f"select (md5_number_lower(?) & {_MASK63}) % {MINHASH_P}", params=[s]
        ).fetchone()
        assert got[s] == expected, s


def test_carter_wegman_family_is_overflow_free():
    # products must stay < 2^62 so BIGINT arithmetic never wraps in either
    # engine — the family's soundness precondition
    assert max(MINHASH_A) < MINHASH_P < 2**31
    assert max(MINHASH_B) < MINHASH_P
    assert (MINHASH_P - 1) * max(MINHASH_A) + max(MINHASH_B) < 2**62
    # coefficients are part of the oracle contract: frozen, not re-rolled
    assert len(set(MINHASH_A)) == len(MINHASH_A) == 64


def test_cw_numpy_fanout_matches_expression_form(spark):
    # the Arrow-batched Carter-Wegman fan-out must be BIT-IDENTICAL to
    # the pure-expression form — it feeds the oracle-replayed LSH
    from my_feast_spark.operators.dedup import _cw_hasher, minhash_minima

    df = spark.createDataFrame(
        [(i, [s + f" {i}", s]) for i, s in enumerate(SAMPLES)], ["doc", "sh"]
    )
    based = df.select(
        "doc", F.transform(F.col("sh"), _portable_base).alias("__base")
    )
    n = 64
    expr_cols = [
        F.array_min(
            F.transform(F.col("__base"), _cw_hasher(MINHASH_A[i], MINHASH_B[i]))
        ).alias(f"mh_{i}")
        for i in range(n)
    ]
    expected = {r["doc"]: r for r in based.select("doc", *expr_cols).collect()}
    # element i of the array-native signature must stay bit-identical
    # to expression column mh_i
    got = {
        r["doc"]: r["sig"]
        for r in df.select(
            "doc", minhash_minima(F.col("sh"), n, "portable").alias("sig")
        ).collect()
    }
    assert set(got) == set(expected)
    for doc, sig in got.items():
        for i in range(n):
            assert sig[i] == expected[doc][f"mh_{i}"], (doc, i)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "portable"])
def test_simhash_dup_pairs_families_agree_on_exact_dupes(spark, hash_fn):
    # identical docs have hamming 0 under ANY hash family
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different text about spark and feast stores"),
    ]
    from my_feast_spark.operators.dedup import simhash_dup_pairs

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = simhash_dup_pairs(df, "doc_id", "text", max_hamming=3, hash_fn=hash_fn)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs
