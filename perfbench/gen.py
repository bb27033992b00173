"""Seeded input generator for the benchmark workloads.

Every workload draws from its own ``numpy`` stream derived from
``(seed, workload)``, so the same seed gives byte-identical parquet files
and a different seed gives different ones (pinned by
``perfbench/test_perfbench.py``).  Each generator writes its files under
``root`` and returns a plain description of what it wrote: paths, the
sizes actually generated, and the expected answers the correctness
checks compare against.  The engine under test only ever sees the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2026-01-01T00:00:00Z in epoch seconds: the start of every generated history.
T0 = 1_767_225_600
HOUR = 3600
DAY = 86_400

#: one random stream per input set; the streaming workload uses both of
#: the last two
_WORKLOAD_STREAM = {"training_set": 1, "online_serving": 2, "neardup_ingest": 3}

# Input sizes.  The retrieval and ingest sizes are chosen so one operation
# takes about a second at 4 cores: enough samples for a steady median
# inside one run, still far beyond any cache the engine keeps.
TRAIN = dict(
    entities=20_000, a_rows=200_000, a_hours=60 * 24, b_rows=200_000,
    b_dup_share=0.05, probes=100_000, unknown_key_share=0.02,
    boundary_share=0.10, zipf=0.8,
)
ONLINE = dict(
    entities=100_000, rows_per_entity=2, features=4, days=7, zipf=1.1,
    requests=1_000, multi_keys=50, merge_every=5,
    merge_rows=64,
)
NEARDUP = dict(
    batches=6, docs_per_batch=200, copy_share=0.30, words=(180, 220),
    replace_share=0.03, vocabulary=20_000,
)


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _WORKLOAD_STREAM[workload]])


def _ts(seconds: np.ndarray, micros: np.ndarray | int = 0) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000 + micros,
                    pa.timestamp("us", tz="UTC"))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def _zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) popularity over ``n`` keys, ranks shuffled so the hot keys
    are spread over the id space instead of being the lowest ids."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    rng.shuffle(w)
    return w / w.sum()


# --------------------------------------------------------------------------
# training_set
# --------------------------------------------------------------------------


@dataclass
class TrainInputs:
    view_a: str
    view_b: str
    probes: str
    sizes: dict


def training_set(root: str, seed: int) -> TrainInputs:
    """Two feature views and an entity dataframe for PIT retrieval.

    View A: hourly rows (on the hour, one per key and hour), 8 double
    features, no created column.  View B: rows at second resolution with
    a created column; a share of rows repeat an earlier ``(key, ts)``
    with a later ``created``, so the tie-break decides.  Probes: Zipf
    keys, a few keys without any history, and a share of probes placed
    exactly on a view-A row's timestamp or exactly at its TTL edge, so
    both inclusive boundaries are exercised.
    """
    p = TRAIN
    rng = rng_for(seed, "training_set")
    n_ent = p["entities"]
    span = p["a_hours"] * HOUR
    pop = _zipf_weights(n_ent, p["zipf"], rng)

    # view A: draw (key, hour) cells, keep each cell once, then exactly
    # a_rows of them
    draws = 2 * p["a_rows"]
    keys = rng.choice(n_ent, size=draws, p=pop)
    hours = rng.integers(0, p["a_hours"], size=draws)
    cells = np.unique(keys.astype(np.int64) * p["a_hours"] + hours)
    cells = np.sort(rng.choice(cells, size=p["a_rows"], replace=False))
    a_key = cells // p["a_hours"]
    a_ts = T0 + (cells % p["a_hours"]) * HOUR
    order = rng.permutation(len(cells))
    a_key, a_ts = a_key[order], a_ts[order]
    a_cols = {"driver_id": pa.array(a_key), "event_timestamp": _ts(a_ts)}
    for i in range(8):
        a_cols[f"a{i}"] = pa.array(rng.standard_normal(len(cells)))
    view_a = _write(pa.table(a_cols), os.path.join(root, "view_a", "part-0.parquet"))

    # view B: base rows + duplicates of (key, ts) with a later created
    n_base = int(p["b_rows"] * (1 - p["b_dup_share"]))
    b_key = rng.choice(n_ent, size=n_base, p=pop).astype(np.int64)
    b_ts = T0 + rng.integers(0, span, size=n_base)
    b_created = b_ts + rng.integers(0, HOUR, size=n_base)
    # each duplicate repeats a distinct base row with a strictly later created
    dup = rng.choice(n_base, size=p["b_rows"] - n_base, replace=False)
    b_key = np.concatenate([b_key, b_key[dup]])
    b_ts = np.concatenate([b_ts, b_ts[dup]])
    b_created = np.concatenate(
        [b_created, b_created[dup] + 1 + rng.integers(0, HOUR, size=len(dup))]
    )
    order = rng.permutation(len(b_key))
    view_b = _write(
        pa.table({
            "driver_id": pa.array(b_key[order]),
            "event_timestamp": _ts(b_ts[order]),
            # the row number as microseconds makes every created distinct,
            # so the tie-break never falls through to the payload
            "created": _ts(b_created[order], np.arange(len(order))),
            "b0": pa.array(rng.standard_normal(len(order))),
            "b1": pa.array(rng.standard_normal(len(order))),
        }),
        os.path.join(root, "view_b", "part-0.parquet"),
    )

    # probes
    n_pr = p["probes"]
    pr_key = rng.choice(n_ent, size=n_pr, p=pop).astype(np.int64)
    pr_ts = T0 + rng.integers(0, span + 2 * DAY, size=n_pr)
    n_unknown = int(n_pr * p["unknown_key_share"])
    pr_key[:n_unknown] = n_ent + rng.integers(0, n_ent, size=n_unknown)
    n_edge = int(n_pr * p["boundary_share"])
    pick = rng.integers(0, len(a_key), size=n_edge)
    edge = slice(n_unknown, n_unknown + n_edge)
    pr_key[edge] = a_key[pick]
    # half exactly on the row's ts (inclusive <=), half exactly at ts + TTL
    pr_ts[edge] = a_ts[pick] + np.where(np.arange(n_edge) % 2 == 0, 0, 2 * DAY)
    order = rng.permutation(n_pr)
    probes = _write(
        pa.table({
            "probe_id": pa.array(np.arange(n_pr, dtype=np.int64)),
            "driver_id": pa.array(pr_key[order]),
            "event_timestamp": _ts(pr_ts[order]),
        }),
        os.path.join(root, "probes", "part-0.parquet"),
    )
    return TrainInputs(view_a, view_b, probes, {
        "view_a_rows": int(len(a_key)),
        "view_b_rows": int(len(b_key)),
        "view_b_dup_rows": int(
            len(b_key) - np.unique(np.stack([b_key, b_ts]), axis=1).shape[1]
        ),
        "probe_rows": n_pr,
        "entities": n_ent,
    })


# --------------------------------------------------------------------------
# online_serving
# --------------------------------------------------------------------------


@dataclass
class OnlineInputs:
    history: str
    start: int
    end: int
    feature_names: list
    requests: list  # each an int64 array of keys
    merges: list  # each a pyarrow table of fresh rows
    expected: dict = field(default_factory=dict)  # key -> feature tuple
    sizes: dict = field(default_factory=dict)


def online_serving(root: str, seed: int) -> OnlineInputs:
    """A latest-per-key history, a Zipf request stream (mostly single-key,
    one in ``merge_every`` multi-key) and fresh rows for hot entities to
    merge every ``merge_every`` lookups.  Fresh rows are newer than any
    history, so after a merge they are the expected answer."""
    p = ONLINE
    rng = rng_for(seed, "online_serving")
    n_ent = p["entities"]
    span = p["days"] * DAY
    n = n_ent * p["rows_per_entity"]
    key = rng.integers(0, n_ent, size=n).astype(np.int64)
    key[:n_ent] = np.arange(n_ent)  # every entity has history
    ts = T0 + rng.integers(0, span, size=n)
    created = ts + rng.integers(0, HOUR, size=n)
    names = [f"f{i}" for i in range(p["features"])]
    feats = {f: rng.standard_normal(n) for f in names}
    # expected latest row per key: max (ts, created); (key, ts, created)
    # triples are made unique so the answer never depends on a tie rule
    _, uniq = np.unique(np.stack([key, ts, created]), axis=1, return_index=True)
    uniq = np.sort(uniq)
    key, ts, created = key[uniq], ts[uniq], created[uniq]
    feats = {f: v[uniq] for f, v in feats.items()}
    last = np.lexsort((created, ts, key))
    is_last = np.append(key[last][1:] != key[last][:-1], True)
    latest = last[is_last]
    expected = dict(zip(
        key[latest].tolist(),
        zip(*(feats[f][latest].tolist() for f in names)),
    ))
    order = rng.permutation(len(key))
    history = _write(
        pa.table({
            "driver_id": pa.array(key[order]),
            "event_timestamp": _ts(ts[order]),
            "created": _ts(created[order]),
            **{f: pa.array(feats[f][order]) for f in names},
        }),
        os.path.join(root, "history", "part-0.parquet"),
    )

    cdf = np.cumsum(_zipf_weights(n_ent, p["zipf"], rng))

    def draw(k: int) -> np.ndarray:
        """``k`` distinct Zipf keys, in draw order."""
        out = np.empty(0, dtype=np.int64)
        while len(out) < k:
            more = np.searchsorted(cdf, rng.random(2 * k), side="right")
            out = np.concatenate([out, np.minimum(more, n_ent - 1)])
            _, first = np.unique(out, return_index=True)
            out = out[np.sort(first)]
        return out[:k]

    # the last request between two merges asks for many keys, the rest
    # for one: every step of the workload serves the same mix
    requests = [
        draw(p["multi_keys"] if i % p["merge_every"] == p["merge_every"] - 1 else 1)
        for i in range(p["requests"])
    ]
    merges = []
    for m in range(p["requests"] // p["merge_every"] + 1):
        mk = draw(p["merge_rows"])
        mts = T0 + span + m * 60 + rng.integers(0, 60, size=len(mk))
        merges.append(pa.table({
            "driver_id": pa.array(mk),
            "event_timestamp": _ts(mts),
            "created": _ts(mts),
            **{f: pa.array(rng.standard_normal(len(mk))) for f in names},
        }))
    return OnlineInputs(
        history=history, start=T0, end=T0 + span, feature_names=names,
        requests=requests, merges=merges,
        expected=expected,
        sizes={"history_rows": int(len(key)), "entities": n_ent,
               "requests": len(requests), "merges": len(merges)},
    )


# --------------------------------------------------------------------------
# neardup_ingest
# --------------------------------------------------------------------------


@dataclass
class NeardupInputs:
    batches: list  # parquet path per micro-batch
    originals: set  # doc ids that must be accepted
    copies: set  # doc ids that must be dropped
    docs_per_batch: list
    sizes: dict


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set = set()
    while len(words) < n:
        lens = rng.integers(4, 10, size=n)
        for ln in lens:
            words.add("".join(rng.choice(letters, size=ln)))
            if len(words) == n:
                break
    return np.array(sorted(words))


def neardup_ingest(root: str, seed: int) -> NeardupInputs:
    """Micro-batches of ~200-word documents.  ``copy_share`` of each batch
    are planted near-copies (``replace_share`` of the words swapped for
    random vocabulary words, shingle Jaccard ~0.85) of an original from
    the same batch or, after batch 0, half of them of an original from an
    earlier batch.  Copies always get higher ids than their source, so
    the ingest's lower-id-dominates rule drops every copy and keeps
    every original; originals share no shingles by construction."""
    p = NEARDUP
    rng = rng_for(seed, "neardup_ingest")
    vocab = _vocabulary(rng, p["vocabulary"])
    originals: set = set()
    copies: set = set()
    earlier: list = []  # (id, words) of originals in previous batches
    paths, sizes = [], []
    next_id = 0
    for b in range(p["batches"]):
        n_docs = p["docs_per_batch"]
        n_copy = int(round(n_docs * p["copy_share"]))
        ids, texts, this = [], [], []
        for _ in range(n_docs - n_copy):
            words = vocab[rng.integers(0, len(vocab), size=rng.integers(*p["words"]))]
            ids.append(next_id), texts.append(" ".join(words))
            this.append((next_id, words))
            originals.add(next_id)
            next_id += 1
        for c in range(n_copy):
            pool = earlier if (b > 0 and c % 2 == 1) else this
            _, src = pool[rng.integers(0, len(pool))]
            words = src.copy()
            k = max(1, int(round(len(words) * p["replace_share"])))
            pos = rng.choice(len(words), size=k, replace=False)
            words[pos] = vocab[rng.integers(0, len(vocab), size=k)]
            ids.append(next_id), texts.append(" ".join(words))
            copies.add(next_id)
            next_id += 1
        earlier.extend(this)
        perm = rng.permutation(n_docs)
        paths.append(_write(
            pa.table({
                "doc_id": pa.array(np.array(ids, dtype=np.int64)[perm]),
                "text": pa.array([texts[i] for i in perm]),
            }),
            os.path.join(root, "docs", f"batch-{b:03d}.parquet"),
        ))
        sizes.append(n_docs)
    return NeardupInputs(paths, originals, copies, sizes, {
        "docs": int(sum(sizes)), "batches": len(paths),
        "planted_copies": len(copies), "originals": len(originals),
    })


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


@dataclass
class StreamingInputs:
    online: OnlineInputs
    neardup: NeardupInputs
    sizes: dict


def streaming(root: str, seed: int) -> StreamingInputs:
    """The online-serving inputs and the near-dup documents, for the
    workload that serves lookups beside both streams."""
    online = online_serving(os.path.join(root, "online"), seed)
    neardup = neardup_ingest(os.path.join(root, "neardup"), seed)
    return StreamingInputs(online, neardup, {**online.sizes, **neardup.sizes})


GENERATORS = {"training_set": training_set, "streaming": streaming}
