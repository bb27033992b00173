"""BPE tokenizer training — the full iterative merge loop.

One round of BPE is an adjacent-pair count table; this module runs
the actual training loop (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly promote the most frequent adjacent symbol pair to a new
merged symbol, emit the ordered merge list a tokenizer replays at
encode time.

The scale design hinges on one observation: after the FIRST pass the
corpus never participates again. The training state is the WORD
FREQUENCY table — (distinct word, count, symbol array) — which is
vocabulary-sized, orders of magnitude smaller than the corpus. So the
default training path is: ONE distributed corpus pass (the
word-frequency aggregate), collect the vocabulary-sized table, and run
the merge loop in-process — a production 50k-merge vocabulary is 50k
in-process rounds instead of ~100k scheduled Spark jobs. Spark stays
where the data is big: the corpus scan and the encode.

``distributed_rounds=True`` is the escape hatch for a word table that
genuinely cannot fit on the driver (it fits by construction for any
natural-language corpus — the table is bounded by the distinct-word
count, not the corpus): each round is two small jobs over the
localCheckpoint-ed symbol table (pair count + argmax, then a pure
higher-order `aggregate` merge fold — no Python), with every
checkpoint tracked in a live list and released per round, so a run
holds exactly one vocabulary-sized block set at any moment even if a
round throws mid-swap.

Character-split semantics — BMP-only assumption. The default
driver-side path splits words into Python CODE POINTS (``tuple(word)``)
while the ``distributed_rounds`` path splits with the Java regex
``(?!^)``, which operates on UTF-16 CODE UNITS: a non-BMP character
(emoji, astral CJK) is one symbol on the first path and two lone
surrogates on the second (and surrogate-aware lookbehind patterns are
not reliable through Spark's split — measured, not assumed). The two
paths are therefore guaranteed to agree only for BMP text; train on a
corpus with astral-plane characters either stays on the default
driver-side path (code-point-correct) or accepts that distributed
training tokenizes those characters as surrogate halves. The workload's
oracle corpus is ASCII-tokenized (see ``q_bpe_merge_replay``), where
the paths are identical by construction.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_feast_spark.functions.text import adjacent_pairs, tokens
from my_feast_spark.operators.graph import release_checkpoint
from my_feast_spark.operators.wordpiece import MAX_TRAIN_WORDS

#: end-of-word marker symbol (Sennrich): distinguishes "est"-as-suffix
#: from "est"-mid-word, and makes word reconstruction unambiguous
EOW = "</w>"


def _merge_pair(sym: Column, a: str, b: str) -> Column:
    """Greedy left-to-right replacement of adjacent (a, b) with a+b —
    the reference BPE merge semantics (a merge consumes both symbols,
    so overlapping occurrences like 'aaa' under (a,a) yield [aa, a]).
    F.get returns NULL (never raises) on the empty accumulator."""
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_word(sym: tuple, a: str, b: str) -> tuple:
    """Greedy left-to-right merge of adjacent (a, b) — the in-process
    twin of `_merge_pair` (a merge consumes both symbols)."""
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _merge_loop_local(
    vocab: dict, rounds: int, min_pair_count: int
) -> list[dict]:
    """The merge loop over the collected word-frequency table:
    weighted pair argmax (count desc, then (left, right) asc — the
    same total order the distributed path sorts by), greedy rewrite of
    only the words that contain the winning pair."""
    from collections import Counter

    merges: list[dict] = []
    for _ in range(rounds):
        pairs: Counter = Counter()
        for sym, n in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        new_vocab: dict = {}
        for sym, n in vocab.items():
            # cheap prefilter: only words containing the winning LEFT
            # symbol can contain the pair — the rewrite touches a
            # shrinking fraction of the vocabulary as training proceeds
            ns = _merge_word(sym, a, b) if a in sym else sym
            new_vocab[ns] = new_vocab.get(ns, 0) + n
        vocab = new_vocab
        merges.append(
            {"left": a, "right": b, "merged": a + b, "count": int(cnt)}
        )
    return merges


def train_bpe_merges(
    df: DataFrame,
    text_col: str,
    *,
    rounds: int = 32,
    min_pair_count: int = 2,
    lowercase: bool = True,
    distributed_rounds: bool = False,
    min_word_count: int = 1,
    max_train_words: int | None = MAX_TRAIN_WORDS,
) -> list[dict]:
    """Learn up to ``rounds`` BPE merges from a corpus.

    Returns the ordered merge list, one dict per round:
    ``{"left", "right", "merged", "count"}`` — the artifact a tokenizer
    replays at encode time. Stops early when the best remaining pair
    occurs fewer than ``min_pair_count`` times (weighted by word
    frequency). Ties on count break lexicographically on (left, right)
    so training is deterministic across engines and partitionings.

    Default: one distributed corpus pass builds the vocabulary-sized
    word-frequency table, then the merge loop runs in-process (see
    module docstring). ``distributed_rounds=True`` keeps the loop on
    the cluster (2 jobs + 1 argmax row per round) for word tables too
    big to collect.

    The in-process path's collect is BOUNDED (wordpiece.py shares the
    contract; unigram's ``seed_size`` is the model): ``min_word_count``
    is a frequency floor pushed into the aggregate, ``max_train_words``
    a top-N-by-(count desc, word asc) cap — exact-integer total order,
    TakeOrderedAndProject, never a global sort — so a 1e8-distinct-word
    corpus collects at most N rows. Both bounds apply to the
    distributed-rounds state too (the same training table).

    BEHAVIOR CHANGE (round 13): ``max_train_words`` defaults to
    ``MAX_TRAIN_WORDS`` (1e6) — a corpus with more distinct words than
    the cap trains on the top 1e6 (loud warning, strict truncation
    check) where it previously trained on everything; pass
    ``max_train_words=None`` for the old unbounded behavior."""
    if max_train_words is not None:
        # normalize once: a float cap (1e6) must not TypeError the
        # truncation slice exactly when it fires (review-caught;
        # wordpiece.py shares the guard)
        max_train_words = int(max_train_words)
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = (
        df.select(F.explode_outer(tokens(t)).alias("word"))
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_word_count > 1:
        words = words.filter(F.col("n") >= int(min_word_count))

    if not distributed_rounds:
        # the ONLY distributed work: the corpus scan. The collected
        # state is (distinct word -> count), bounded by vocabulary
        # size, not corpus size. The cap fetch is one row OVER so the
        # truncation warning is strict — it fires exactly when the
        # distinct-word table EXCEEDS the cap (advice-caught; the
        # wordpiece trainer and local mirrors share the condition).
        if max_train_words is not None:
            words = words.orderBy(
                F.col("n").desc(), F.col("word").asc()
            ).limit(int(max_train_words) + 1)
        rows = words.collect()
        if max_train_words is not None and len(rows) > max_train_words:
            import warnings

            rows = rows[:max_train_words]
            warnings.warn(
                f"word table exceeds the max_train_words cap "
                f"({max_train_words}) — training sees only the most "
                "frequent words; raise the cap (or pass None) to train "
                "on the full table",
                stacklevel=2,
            )
        local_vocab = {
            tuple(r["word"]) + (EOW,): int(r["n"]) for r in rows
        }
        return _merge_loop_local(local_vocab, rounds, min_pair_count)

    if max_train_words is not None:
        words = words.orderBy(
            F.col("n").desc(), F.col("word").asc()
        ).limit(int(max_train_words))

    # distributed rounds: every checkpoint lives in `live` until
    # explicitly released, so an exception between pinning new_vocab
    # and swapping it in cannot leak blocks for the session lifetime
    # (graph.py's live-list pattern).
    live: list[DataFrame] = []

    def _pin(frame: DataFrame) -> DataFrame:
        out = frame.localCheckpoint()
        live.append(out)
        return out

    # training state: (count, symbol array) — vocabulary-sized; chars +
    # end-of-word marker (split on every inter-char boundary)
    vocab = _pin(words.select(
        "n",
        F.concat(
            # split on inter-char boundaries; Spark's split appends a
            # trailing "" when the pattern matches at end-of-string
            F.filter(
                F.split(F.col("word"), "(?!^)"), lambda x: x != ""
            ),
            F.array(F.lit(EOW)),
        ).alias("sym"),
    ))

    merges: list[dict] = []
    try:
        for _ in range(rounds):
            top = (
                vocab.select("n", F.explode(adjacent_pairs(F.col("sym"))).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < min_pair_count:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            new_vocab = _pin(vocab.select(
                "n", _merge_pair(F.col("sym"), a, b).alias("sym")
            ))
            release_checkpoint(vocab)
            live.remove(vocab)
            vocab = new_vocab
            merges.append(
                {"left": a, "right": b, "merged": a + b, "count": cnt}
            )
    finally:
        for frame in live:
            release_checkpoint(frame)
    return merges


def apply_bpe_merges(sym: Column, merges: list[dict]) -> Column:
    """Replay a learned merge list over a symbol array column.

    Pure-expression form: one greedy fold per merge, chained in merge
    order — right for demo/small merge lists (the expression tree grows
    linearly with the list). Production tokenizers carry 10k-100k
    merges; use ``bpe_encode_udf`` there (one Arrow batch pass with a
    rank dict instead of a 100k-deep expression tree).
    """
    out = sym
    for m in merges:
        out = _merge_pair(out, m["left"], m["right"])
    return out


def bpe_encode_udf(merges: list[dict]):
    """Arrow-batched encoder for production-sized merge lists.

    Returns a pandas UDF mapping a WORD column to its space-joined BPE
    symbols. Implements the standard rank-replay: repeatedly merge the
    adjacent pair with the lowest merge rank until none applies —
    equivalent to replaying the merge list in order, but O(word_len *
    applied_merges) per word instead of O(word_len * total_merges).
    The rank dict ships once per executor via the closure.
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {(m["left"], m["right"]): i for i, m in enumerate(merges)}

    def encode_word(word: str) -> str:
        sym = list(word) + [EOW]
        while len(sym) >= 2:
            best_i, best_r = -1, None
            for i in range(len(sym) - 1):
                r = ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
        return " ".join(sym)

    @pandas_udf("string")
    def encode(col: pd.Series) -> pd.Series:
        cache: dict = {}

        def enc(w):
            if w not in cache:
                cache[w] = encode_word(w)
            return cache[w]

        return col.map(enc)

    return encode


def bpe_vocab(df: DataFrame, text_col: str, merges: list[dict],
              *, lowercase: bool = True) -> list[dict]:
    """The tokenizer's id table: corpus alphabet first (sorted chars +
    the end-of-word marker), then merged symbols in merge order — the
    standard layout, so ids are stable under vocabulary EXTENSION (new
    merges append, existing ids never shift). Every symbol the encoder
    can emit for this corpus is covered: encode only outputs base chars,
    ``EOW``, and merge products. The alphabet scan is one distinct
    aggregate over exploded chars (alphabet-sized result).

    Distinct merges can yield the SAME surface string — ('a','bc') and
    ('ab','c') both produce 'abc' — so symbols deduplicate keeping the
    FIRST occurrence: the symbol->id map stays unambiguous and ids
    remain stable under vocabulary extension."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    chars = sorted(
        r["c"]
        for r in df.select(
            F.explode(F.array_distinct(
                F.filter(F.split(F.concat_ws(" ", tokens(t)), "(?!^)"),
                         lambda x: (x != "") & (x != " "))
            )).alias("c")
        ).distinct().collect()
    )
    symbols = dict.fromkeys(chars + [EOW] + [m["merged"] for m in merges])
    return [{"token_id": i, "symbol": s} for i, s in enumerate(symbols)]
