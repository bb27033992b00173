"""Numbered generations under one root: the commit rule of every store
that publishes ``<key>=N`` directories (the dedup ingest indexes, the
HLL/KMV/CMS stream sketches, the streaming-SCD2 event log, the IVF-PQ
cells with their rebuilds, the DSIR models and the online store). Only
this module knows the layout::

    <root>/_GENERATIONS             root marker, precedes every generation
    <root>/<key>=N/...              generation N's data
    <root>/<key>=N/_GEN_COMMITTED   commit marker: JSON list of the ids
                                    generation N absorbs (folds, N < 0)

A generation is visible only when its directory holds the marker.
Callers publish ids >= 0; only a fold writes a negative id, below every
id present, and its marker names the ids it absorbs before any of them
is deleted. Files a caller writes into a generation before its marker
(``write_json``) commit with it, so a store that replaces itself
whole folds every committed generation into one that carries its model
file (``read_base_json``). Readers skip unmarked and absorbed
generations, so every crash point reads exact, and heal deletes what a
crash left. A root holding ``<key>=*`` directories but no root marker
was not written under this rule: every function raises ValueError on
it and deletes nothing. Heals log each deletion at WARNING on
``my_feast_spark``.

Contract: one writer per root; a folded id is never published again
(publish raises).
I/O goes through the active SparkContext's Hadoop FileSystem; a read
costs a fixed number of py4j calls however many generations exist.
"""

from __future__ import annotations

import collections
import functools
import json
import logging
import re
from typing import Callable, Iterable

ROOT_MARKER = "_GENERATIONS"
GEN_MARKER = "_GEN_COMMITTED"

_log = logging.getLogger("my_feast_spark")


@functools.lru_cache(maxsize=1)
def _classes(jvm):
    """The JVM classes this module calls, looked up once per JVM: each
    dotted lookup costs several py4j round trips."""
    return _Classes(
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.hadoop.fs.FileUtil,
        jvm.org.apache.commons.lang3.ArrayUtils,
    )


_Classes = collections.namedtuple("_Classes", "Path FileUtil ArrayUtils")


def _hadoop(root: str):
    """(JVM classes, FileSystem, root Path) for ``root``."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("generation roots need an active SparkContext")
    jc = _classes(sc._jvm)
    rp = jc.Path(root)
    return jc, rp.getFileSystem(sc._jsc.hadoopConfiguration()), rp


def _gen_dir(root: str, key: str, n: int) -> str:
    return f"{root.rstrip('/')}/{key}={n}"


def _put(jc, fs, path, data: bytes) -> None:
    """Write ``data`` to ``path`` whole: a hidden temp, then a rename.
    RuntimeError, the temp deleted, when the rename is refused (on the
    local filesystem: ``path`` exists)."""
    tmp = jc.Path(path.getParent(), f".{path.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, path):
        fs.delete(tmp, False)
        raise RuntimeError(f"could not write {path.toString()!r}")


def _get(fs, path) -> bytes:
    stream = fs.open(path)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _mark(jc, fs, gdir: str, absorbs: list[int]) -> None:
    """Commit generation ``gdir`` (the single commit path): its marker,
    listing ``absorbs``, appears whole."""
    _put(jc, fs, jc.Path(gdir, GEN_MARKER), json.dumps(absorbs).encode())


def _remove(fs, path) -> None:
    """Delete one generation directory (the single delete path)."""
    fs.delete(path, True)


def _names(jc, fs, rp, statuses) -> list[str]:
    """The paths of a FileStatus array (or null) relative to root
    ``rp``, joined in the JVM: no py4j call per entry."""
    prefix = re.escape(fs.makeQualified(rp).toString().rstrip("/") + "/")
    joined = jc.ArrayUtils.toString(jc.FileUtil.stat2Paths(statuses))
    return re.findall(rf"{prefix}(.*?)(?=,{prefix}|\}}$)", joined)


def _scan(jc, fs, rp, root: str, key: str):
    """``(ids of every <key>=N directory, marked ids, {fold id: absorbed
    ids})``; ValueError on generations under a root without marker."""
    if not fs.exists(rp):
        return set(), set(), {}
    names = _names(jc, fs, rp, fs.listStatus(rp))
    gen = re.compile(rf"{re.escape(key)}=(-?\d+)")
    dirs = {int(m.group(1)) for m in map(gen.fullmatch, names) if m}
    if dirs and ROOT_MARKER not in names:
        raise ValueError(
            f"{root!r} holds {key}= generations but no {ROOT_MARKER} "
            "root marker, so it was not written by this engine's "
            "generation commit; rebuild it"
        )
    glob = re.sub(r"([\\*?\[\]{}])", r"\\\1", root.rstrip("/"))
    markers = fs.globStatus(jc.Path(f"{glob}/{key}=*/{GEN_MARKER}"))
    marked = {
        int(m.group(1)) for name in _names(jc, fs, rp, markers)
        if (m := gen.fullmatch(name.split("/", 1)[0]))
    }
    absorbs = {
        n: json.loads(_get(fs, jc.Path(_gen_dir(root, key, n), GEN_MARKER)))
        for n in marked if n < 0
    }
    return dirs, marked, absorbs


def _heal(jc, fs, rp, root: str, key: str):
    """Delete absorbed and torn-fold generations; returns ``(dirs,
    live, deleted)``, the first two as they stand afterwards."""
    dirs, marked, absorbs = _scan(jc, fs, rp, root, key)
    absorbed = {n: f for f, ids in absorbs.items() for n in ids}
    doomed = {
        n: f"absorbed by fold {f}" for n, f in absorbed.items() if n in dirs
    }
    doomed.update({n: "torn fold" for n in dirs - marked if n < 0})
    # descending: a fold's sources all sit above it, so they go before
    # the fold itself and no crash can strand a source nobody absorbs
    gone = sorted(doomed, reverse=True)
    for n in gone:
        _log.warning("heal %s: deleting %s=%d, %s", root, key, n, doomed[n])
        _remove(fs, jc.Path(_gen_dir(root, key, n)))
    return dirs.difference(gone), marked - absorbed.keys() - set(gone), gone


def _ensure_root(jc, fs, rp) -> None:
    if not fs.exists(jc.Path(rp, ROOT_MARKER)):
        fs.mkdirs(rp)
        fs.create(jc.Path(rp, ROOT_MARKER), True).close()


def committed(root: str, key: str) -> list[tuple[int, str]]:
    """The committed ``(id, path)`` generations of ``root``, ascending;
    empty when the root does not exist."""
    _dirs, marked, absorbs = _scan(*_hadoop(root), root, key)
    gone = {n for ids in absorbs.values() for n in ids}
    return [(n, _gen_dir(root, key, n)) for n in sorted(marked - gone)]


def next_id(root: str, key: str) -> int:
    """1 + the largest id a committed generation or a fold marker names,
    at least 0: never an absorbed id, and a torn (unmarked) generation's
    id, so publishing it replaces the torn one."""
    _dirs, marked, absorbs = _scan(*_hadoop(root), root, key)
    return 1 + max(marked.union({-1}, *absorbs.values()))


def read(spark, root: str, key: str, schema=None, *, gens=None):
    """The committed generations (or ``gens``, a ``committed`` list) as
    one frame with ``key`` a column, None when there are none; explicit
    paths plus ``basePath``, so partition columns prune. ``schema`` (the
    data columns) skips inference."""
    paths = [p for _, p in (committed(root, key) if gens is None else gens)]
    if not paths:
        return None
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` whole (e.g. a generation's meta,
    before its marker)."""
    jc, fs, rp = _hadoop(path)
    _put(jc, fs, rp, json.dumps(obj).encode())


def read_json(paths: list[str]) -> list:
    """The JSON documents at ``paths`` (one or more, one FileSystem)."""
    jc, fs, _rp = _hadoop(paths[0])
    return [json.loads(_get(fs, jc.Path(p))) for p in paths]


def read_base_json(root: str, key: str, name: str):
    """``(committed(root, key), doc)``: ``doc`` is the JSON file
    ``name`` of the lowest committed generation, the latest fold of a
    store that rewrites itself as one fold (None when nothing is
    committed). ValueError naming the file, deleting nothing, when that
    generation lacks it: the root predates the file, so rebuild it."""
    gens = committed(root, key)
    if not gens:
        return gens, None
    jc, fs, _rp = _hadoop(root)
    path = jc.Path(gens[0][1], name)
    if not fs.exists(path):
        raise ValueError(
            f"{path.toString()!r} does not exist: {root!r} was written "
            f"in a layout without {name}; rebuild it"
        )
    return gens, json.loads(_get(fs, path))


def publish(root: str, key: str, n: int, write: Callable[[str], None]) -> str:
    """Make generation ``n`` (>= 0) exactly what ``write(dir)`` writes:
    delete n's marker, then its directory, call ``write``, then commit.
    A retry with the same id thus replaces the whole generation. An id
    a fold absorbed raises ValueError (it would stay hidden: e.g. a
    stream restarted on a fresh checkpoint over a folded root).
    Returns the generation's directory."""
    if n < 0:
        raise ValueError(f"generation ids >= 0 only (folds own {n})")
    jc, fs, rp = _hadoop(root)
    _dirs, _marked, absorbs = _scan(jc, fs, rp, root, key)
    if any(n in ids for ids in absorbs.values()):
        raise ValueError(f"{key}={n} of {root!r} was folded already")
    _ensure_root(jc, fs, rp)
    gdir = _gen_dir(root, key, n)
    fs.delete(jc.Path(gdir, GEN_MARKER), False)
    fs.delete(jc.Path(gdir), True)
    write(gdir)
    _mark(jc, fs, gdir, [])
    return gdir


def fold(root: str, key: str, ids: Iterable[int],
         write: Callable[[str, list[str]], None]) -> int:
    """Merge the committed generations among ``ids`` (none or one is
    fine: the write then starts a new base): heal, call
    ``write(target_dir, source_dirs)`` (the merge is the caller's) at
    ``min(ids present ∪ {0}) - 1``, commit a marker listing the sources,
    then delete them. Returns the new id."""
    jc, fs, rp = _hadoop(root)
    dirs, live, _gone = _heal(jc, fs, rp, root, key)
    sources = sorted(set(ids) & live)
    _ensure_root(jc, fs, rp)
    target = min(dirs | {0}) - 1
    tdir = _gen_dir(root, key, target)
    write(tdir, [_gen_dir(root, key, n) for n in sources])
    _mark(jc, fs, tdir, sources)
    for n in reversed(sources):
        _remove(fs, jc.Path(_gen_dir(root, key, n)))
    return target


def heal(root: str, key: str) -> list[int]:
    """Delete what readers already skip — generations a committed fold
    absorbed, and unmarked negative ones (torn folds) — logging each;
    returns the deleted ids in deletion order. Unmarked ids >= 0 wait
    for their publisher's same-id retry. A missing root is a no-op."""
    return _heal(*_hadoop(root), root, key)[2]
