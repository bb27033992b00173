"""Point-in-time (as-of) join — the engine's flagship operator.

Semantics match the reference's generated retrieval SQL (the 4-stage CTE
pipeline printed at CASE.MD:339-502 / Untitled.ipynb:698-860):

  * for every entity row (join_keys..., entity event_timestamp) attach the
    feature row with the greatest feature event_timestamp <= entity
    timestamp (inclusive boundary, CASE.MD:415);
  * ties on feature event_timestamp are broken by greatest
    created_timestamp — "late re-ingestion wins" (CASE.MD:431-438,453-456);
  * an optional TTL discards features older than entity_ts - ttl
    (CASE.MD:385-386);
  * the entity dataframe is left-preserved: entities with no qualifying
    history get NULL features (CASE.MD:486-501);
  * duplicate entity rows are preserved in the output (the reference dedups
    for the join and re-expands via its row_unique_id; net effect is
    identical).

Implementation — scale-first
----------------------------
The reference executes this as an *inequality join* (feature.ts <=
entity.ts AND feature.key = entity.key) followed by a ROW_NUMBER window.
On Spark that inequality conjunct degrades the join to
O(|entities_per_key| x |history_per_key|) work per key before the window
throws most of it away — fine at demo scale, catastrophic at 100 TB.

Default strategy here is ``union_window`` ("last observation carried
forward"): tag feature rows and entity rows, union them, and run a single
``last(payload, ignorenulls=True)`` window per join key ordered by
(timestamp, is_entity, created). Cost: ONE shuffle of (features + probes)
on the join key + a sort within partitions — linear, no quadratic blowup,
and the created-timestamp tie-break falls out of the sort order for free
(among equal timestamps the last-sorted feature row has the max created).
Feature payloads ride in a single struct so NULL feature values do not
leak older rows' values (per-column LOCF would).

The join is N-sided: several histories on the same join keys (the
feature views of one retrieval) share that one window. Side i
contributes rows whose ``__mfs_created{i}`` / ``__mfs_payload{i}`` are
set and every other side's are NULL; the window orders by (ts,
is_probe, created_0, payload_0, ..., created_{N-1}, payload_{N-1}) and
carries one ``last(payload_i, ignorenulls)`` per side. Rows of side j
never change which row of side i wins: their payload_i is NULL (skipped),
and among side i's own rows every other side's columns are NULL, so the
order is exactly side i's (ts, created_i, payload_i). Each side keeps its
own created column, tie-breaker and TTL, so its result equals a one-side
join of it alone. :func:`point_in_time_join` is the one-side case.

``range_join`` (the reference's literal plan: non-equi join + window
top-1) is kept for small entity dataframes where Catalyst broadcasts the
probe side — useful when |probes| << |history| and history is huge but
per-key fan-out is small. It applies its sides one after another.

``sliced_window`` is the skew-hardened variant of ``union_window``: the
window partitions by (key, coarse time slice) instead of key alone, so a
pathologically hot key (millions of rows on ONE key — AQE cannot split a
window partition the way it splits a skewed join) spreads over
|slices| tasks. Correctness across slice boundaries comes from
boundary-carry rows: the latest feature row of every earlier slice is
pre-reduced per (key, slice, side) — a relation of at most
|keys|×|slices|×|sides| rows — and injected into each probe-bearing slice
as its carry-in.
Results are identical to ``union_window`` (asserted by golden + property
tests); cost is one extra small shuffle of the per-slice-latest relation.

``auto`` probes the per-key load (one column-pruned pass + a
metadata-sized shuffle, see ``_choose_strategy``) over the union of all
sides, which is exactly the window's load per key, and picks
union_window below the hot-key threshold, sliced_window with a fitted
slice width above it — so a 100 TB retrieval with an unknown skew
profile no longer needs hand-tuning to avoid the one-task window sort.
The same pass counts the probe side: a broadcast-small probe set (a
backfill of a few entities against the full history) additionally
pre-filters history by a broadcast semi-join on the probe keys, so the
window shuffles only the asked-for keys' rows — the regime where the
reference's range_join looked attractive, served without its pair
blow-up.

NULL join keys follow SQL left-join semantics in every strategy: a NULL
key never matches anything (probe rows with a NULL key pass through with
NULL features; feature rows with a NULL key are dropped) — Spark window
partitioning would otherwise group NULLs together and diverge from the
reference's generated SQL.

The plan is built from SQL expression strings, a few wide projections
per join: every ``Column`` built in Python costs py4j round trips, and
plan building is a visible share of a retrieval's latency.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS = "__mfs_ts"
_IS_PROBE = "__mfs_is_probe"
_CREATED = "__mfs_created"  # + side index
_PAYLOAD = "__mfs_payload"  # + side index
_FEAT_TS = "__mfs_feat_ts"
_VIEW = "__mfs_view"
_SLICE = "__slice"
_ROW_ID = "__mfs_row_id"
_ROWS_TO_HERE = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _q(name: str) -> str:
    """A column name quoted for a SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ttl_seconds(ttl) -> float | None:
    """Feast semantics: ttl=0 (or timedelta(0)) means NO expiry — the
    reference's generated SQL elides the TTL lower bound entirely when
    ttl=0 (CASE.MD:385-386 describes the bound; the captured query at
    Untitled.ipynb:766-782 omits it because ttl was 0)."""
    if ttl is None:
        return None
    seconds = ttl.total_seconds() if isinstance(ttl, _dt.timedelta) else float(ttl)
    return seconds if seconds > 0 else None


@dataclass
class Side:
    """One history of an N-side join (one feature view of a retrieval).

    ``df`` holds the join keys, ``event_ts_col``, the optional
    ``created_ts_col`` and the ``features``; only those columns are read.
    ``out_names`` maps each feature to its output column, ``casts`` maps
    a feature to the SQL type it is cast to (declared dtypes), and
    ``feat_ts_out`` names an output column for the matched row's feature
    timestamp."""

    df: DataFrame
    features: Sequence[str]
    event_ts_col: str = "event_timestamp"
    created_ts_col: str | None = None
    ttl: object = None
    out_names: dict = field(default_factory=dict)
    casts: dict = field(default_factory=dict)
    feat_ts_out: str | None = None

    def outputs(self) -> list[str]:
        outs = [self.out_names.get(f, f) for f in self.features]
        return outs + ([self.feat_ts_out] if self.feat_ts_out else [])


def check_output_names(entity_cols: Sequence[str], outputs: Sequence[str]) -> None:
    """Raise ``ValueError`` when feature outputs repeat or shadow an
    entity column — a frame with two equal column names cannot be
    written. Plan-time, so it fails before any job runs."""
    seen: set[str] = set()
    dups = sorted({c for c in outputs if c in seen or seen.add(c)})
    if dups:
        raise ValueError(
            f"feature output columns appear more than once: {dups}; "
            "pass full_feature_names=True"
        )
    collisions = sorted(set(outputs) & set(entity_cols))
    if collisions:
        raise ValueError(
            f"feature output columns collide with entity columns: {collisions}; "
            "pass full_feature_names=True with a feature_view_name"
        )


def point_in_time_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    join_keys: Sequence[str],
    *,
    event_ts_col: str = "event_timestamp",
    entity_ts_col: str | None = None,
    created_ts_col: str | None = None,
    ttl=None,
    features: Sequence[str] | None = None,
    feature_view_name: str | None = None,
    full_feature_names: bool = False,
    include_feature_ts: bool = False,
    strategy: str = "union_window",
    slice_interval=_dt.timedelta(days=1),
    hot_key_rows: int = 1_000_000,
) -> DataFrame:
    """As-of join ``entity_df`` against ``feature_df``.

    Parameters
    ----------
    entity_df : probe rows — ``join_keys`` + ``entity_ts_col`` + arbitrary
        passthrough columns (all preserved).
    feature_df : history — ``join_keys`` + ``event_ts_col`` +
        optional ``created_ts_col`` + feature columns.
    ttl : ``datetime.timedelta`` or seconds; features strictly older than
        ``entity_ts - ttl`` are discarded (NULLed), matching the
        reference's TTL lower bound.
    features : feature columns to attach; default = all non-key,
        non-timestamp columns of ``feature_df``.
    full_feature_names : prefix output features ``<view>__<feature>``
        (the reference's ``full_feature_names=True`` retrieval mode).
    include_feature_ts : also emit ``<prefix>event_timestamp`` of the
        matched feature row (handy for debugging/tests).
    strategy : "union_window" (default, linear), "sliced_window" (hot-key
        safe; see module docstring), "range_join" (the reference's
        literal non-equi plan), or "auto" — probe the key distribution
        and pick union_window vs sliced_window (with a fitted
        slice_interval) per :func:`_choose_strategy`; a probe side under
        ``PREFILTER_PROBE_ROWS`` also pre-filters history by a broadcast
        semi-join on the probe keys (output-invariant — the join is
        probe-left-preserved). The probe costs one column-pruned pass
        over the two key+timestamp projections (parquet reads only those
        columns) and a metadata-sized shuffle; spend it when the skew
        profile is unknown, skip it (pick the strategy yourself) when it
        is.
    slice_interval : slice width for ``sliced_window`` — seconds or a
        ``datetime.timedelta`` (default 1 day). Pick it so a hot key's
        rows per slice fit one task comfortably; the carry relation costs
        |keys|×|slices| rows. Ignored by ``auto`` (which fits its own).
    hot_key_rows : ``auto`` only — switch to sliced_window when the
        hottest key carries more than this many feature+probe rows (the
        point where one task's window sort becomes the straggler;
        default 1M — sliced_window measured 1.9x faster than
        union_window at 2.5M rows on one key).
    """
    entity_ts_col = entity_ts_col or event_ts_col
    if features is None:
        skip = set(join_keys) | {event_ts_col, created_ts_col}
        features = [c for c in feature_df.columns if c not in skip]
    prefix = f"{feature_view_name}__" if (full_feature_names and feature_view_name) else ""
    side = Side(
        feature_df, list(features), event_ts_col, created_ts_col, ttl,
        out_names={f: prefix + f for f in features},
        feat_ts_out=prefix + "feature_event_timestamp" if include_feature_ts else None,
    )
    entity_cols = entity_df.columns
    check_output_names(entity_cols, side.outputs())
    return join_sides(
        entity_df, entity_cols, [side], join_keys, entity_ts_col,
        strategy=strategy, slice_interval=slice_interval,
        hot_key_rows=hot_key_rows,
    )


def join_sides(
    entity_df: DataFrame,
    entity_cols: Sequence[str],
    sides: Sequence[Side],
    join_keys: Sequence[str],
    entity_ts_col: str,
    *,
    strategy: str = "union_window",
    slice_interval=_dt.timedelta(days=1),
    hot_key_rows: int = 1_000_000,
    probe_df: DataFrame | None = None,
) -> DataFrame:
    """As-of join ``entity_df`` against every side in ``sides`` at once,
    all on ``join_keys`` (module docstring). Returns ``entity_cols`` then
    each side's outputs, in side order.

    ``probe_df`` is a relation with the same probe keys and timestamps as
    ``entity_df`` but cheaper to scan (the original entity dataframe when
    ``entity_df`` already carries earlier joins). The history prune, the
    ``auto`` probe and its prefilter read it; default ``entity_df``.
    """
    join_keys = list(dict.fromkeys(join_keys))
    if not join_keys:
        raise ValueError("point_in_time_join requires at least one join key")
    if strategy not in ("union_window", "sliced_window", "range_join", "auto"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    probe_df = entity_df if probe_df is None else probe_df
    keys = [_q(k) for k in join_keys]
    key_ok = " AND ".join(f"{k} IS NOT NULL" for k in keys)
    feats = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [_side_rows(s, i, keys) for i, s in enumerate(sides)],
    )

    if strategy == "auto":
        strategy, slice_interval, prefilter = _choose_strategy(
            probe_df, feats, join_keys, _TS, entity_ts_col, hot_key_rows,
        )
        if prefilter:
            # Small-probe regime (backfill of a few entities against a
            # huge history): drop history for keys no probe asks about
            # BEFORE the window shuffle, via a broadcast semi-join on
            # the distinct probe keys (≤ probe rows — broadcast-safe
            # by the auto threshold). Output-invariant: the join is
            # probe-left-preserved, so unprobed keys' history can never
            # reach it; what changes is the shuffle volume — only the
            # matching keys' history moves instead of the whole table.
            feats = feats.join(
                F.broadcast(probe_df.select(*join_keys).distinct()),
                join_keys, "left_semi",
            )
    slice_s = _slice_seconds(slice_interval) if strategy == "sliced_window" else None
    feats = _prune_history(feats, probe_df, entity_ts_col, key_ok)

    if strategy == "range_join":
        out = _range_join(entity_df, feats, sides, join_keys, entity_ts_col)
        return out.selectExpr(*_outputs(entity_cols, sides, entity_ts_col, _q(entity_ts_col)))

    payload_cols = [c for c in entity_cols if c not in join_keys and c != entity_ts_col]
    probes = entity_df.selectExpr(
        *keys, f"{_q(entity_ts_col)} AS {_TS}", f"1 AS {_IS_PROBE}",
        *[_q(c) for c in payload_cols],
    )
    probe_ok = probes.filter(key_ok)
    probe_null = probes.filter(f"NOT ({key_ok})")
    keep = [*keys, _TS, *[_q(c) for c in payload_cols]]
    if strategy == "union_window":
        carried = _carry(
            feats.unionByName(probe_ok, allowMissingColumns=True),
            sides, keys, keep,
        )
    else:
        carried = _sliced_carry(feats, probe_ok, sides, keys, keep, slice_s)
    out = (
        carried.filter(f"{_IS_PROBE} = 1")
        .unionByName(probe_null, allowMissingColumns=True)
    )
    return out.selectExpr(*_outputs(entity_cols, sides, entity_ts_col, _TS))


def _side_rows(side: Side, i: int, keys: list[str]) -> DataFrame:
    """Side i in the union's shape: keys, ts, is_probe 0, created_i,
    payload_i (the features, cast, plus the feature timestamp), view i.
    NULL-padded to the other sides' columns by the union."""
    fields = ", ".join(
        f"{_sql_str(f)}, "
        + (f"CAST({_q(f)} AS {side.casts[f]})" if f in side.casts else _q(f))
        for f in side.features
    )
    ts = _q(side.event_ts_col)
    cols = [*keys, f"{ts} AS {_TS}", f"0 AS {_IS_PROBE}"]
    if side.created_ts_col:
        cols.append(f"{_q(side.created_ts_col)} AS {_CREATED}{i}")
    cols += [
        f"named_struct({fields}, '{_FEAT_TS}', {ts}) AS {_PAYLOAD}{i}",
        f"{i} AS {_VIEW}",
    ]
    return side.df.selectExpr(*cols)


def _order(sides: Sequence[Side], desc: bool = False) -> str:
    """The window's total order: feature rows sort BEFORE probe rows at
    equal timestamps (the `<=` boundary is inclusive), then each side's
    (created, payload). Ascending, "last non-null payload_i" is side i's
    max event ts, then max created — J2+J3 in one sort. The payload
    struct is the final tie-breaker: two rows of one side identical in
    (key, ts, created) but different in value would otherwise resolve by
    partition order, a different winner per plan, strategy or retry; with
    it in the order the greatest struct wins everywhere. ``desc`` is the
    reverse order for a top-1 of feature rows (every strategy shares the
    rule)."""
    d = " DESC NULLS LAST" if desc else " ASC NULLS FIRST"
    order = [_TS + (" DESC" if desc else " ASC")]
    if not desc:
        order.append(f"{_IS_PROBE} ASC")
    for i, s in enumerate(sides):
        if s.created_ts_col:
            order.append(f"{_CREATED}{i}{d}")
        order.append(f"{_PAYLOAD}{i}{d}")
    return ", ".join(order)


def _carry(unioned: DataFrame, sides, partition: list[str], keep: list[str]) -> DataFrame:
    """Every row with each side's last non-null payload so far in its
    partition (the LOCF window): on a probe row, that side's as-of match."""
    w = (
        f"OVER (PARTITION BY {', '.join(partition)} ORDER BY {_order(sides)} "
        f"{_ROWS_TO_HERE})"
    )
    return unioned.selectExpr(
        *keep, _IS_PROBE,
        *[f"last({_PAYLOAD}{i}, true) {w} AS {_PAYLOAD}{i}" for i in range(len(sides))],
    )


def _outputs(entity_cols, sides, entity_ts_col: str, ts: str) -> list[str]:
    """The final projection: entity columns, then each side's features
    unpacked from its payload, NULL where the match is older than the
    side's TTL."""
    sel = [f"{ts} AS {_q(c)}" if c == entity_ts_col else _q(c) for c in entity_cols]
    for i, s in enumerate(sides):
        p = f"{_PAYLOAD}{i}"
        ttl_s = _ttl_seconds(s.ttl)
        fresh = (
            f"{p}.{_FEAT_TS} >= {ts} - INTERVAL {int(ttl_s)} SECOND"
            if ttl_s is not None else None
        )
        fields = [(f, s.out_names.get(f, f)) for f in s.features]
        if s.feat_ts_out:
            fields.append((_FEAT_TS, s.feat_ts_out))
        for f, out in fields:
            v = f"{p}.{_q(f)}"
            if fresh:
                v = f"CASE WHEN {fresh} THEN {v} END"
            sel.append(f"{v} AS {_q(out)}")
    return sel


#: auto only: pre-filter history by a broadcast semi-join on the probe
#: keys when the probe side has at most this many rows. 1M distinct
#: long keys broadcast at ~8 MB; widen/narrow per deployment.
PREFILTER_PROBE_ROWS = 1_000_000


def _choose_strategy(
    entity_df, feature_df, join_keys, event_ts_col, entity_ts_col,
    hot_key_rows: int,
):
    """Pick union_window vs sliced_window (and the small-probe history
    pre-filter) from the key distribution.

    One aggregation over the key+timestamp projections of BOTH sides
    (the window's actual partition load is features + probes per key;
    ``feature_df`` is the union of every side of the join):
    per-key row counts with map-side combine, then the hottest key's
    (count, time span) and the global probe-row count — a single
    collected row, never data-sized. On parquet the probe scan is
    column-pruned to the key and timestamp columns, so its cost is a
    small fraction of the join it steers.

    Decisions, returned as (strategy, slice_interval, prefilter):

    * hottest key <= ``hot_key_rows`` → union_window (one shuffle, no
      carry overhead; measured 31x faster than range_join on uniform
      keys). Above it → sliced_window with
      ``slice_interval`` fitted so the hottest key spreads over
      ``2 * ceil(max_n / hot_key_rows)`` slices (each slice then holds
      at most ~hot_key_rows / 2 of its rows), clamped to >= 1 second.
    * probe rows <= ``PREFILTER_PROBE_ROWS`` → prefilter=True: the
      caller semi-joins history to the broadcast probe keys before the
      window, so a small backfill against a huge history shuffles only
      the asked-for keys' rows instead of the whole table.

    range_join is never auto-chosen: its regime (tiny probe set AND
    tiny per-key fan-out) is dominated by union_window + the prefilter,
    which avoids the non-equi pair blow-up entirely.
    """
    both = feature_df.select(
        *[F.col(k) for k in join_keys],
        F.col(event_ts_col).alias(_TS),
        F.lit(0).alias("__p"),
    ).unionByName(
        entity_df.select(
            *[F.col(k) for k in join_keys],
            F.col(entity_ts_col).alias(_TS),
            F.lit(1).alias("__p"),
        )
    )
    per_key = both.groupBy(*join_keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__p").alias("__np"),
        F.min(_TS).alias("__lo"),
        F.max(_TS).alias("__hi"),
    )
    row = per_key.agg(
        F.max("__n").alias("max_n"),
        F.sum("__np").alias("probe_rows"),
        F.max_by(F.struct("__lo", "__hi"), "__n").alias("hot_span"),
    ).collect()[0]
    max_n = row["max_n"] or 0
    prefilter = (row["probe_rows"] or 0) <= PREFILTER_PROBE_ROWS
    if max_n <= hot_key_rows:
        return "union_window", None, prefilter
    lo, hi = row["hot_span"]["__lo"], row["hot_span"]["__hi"]
    if lo is not None and hi is not None:
        # datetime/date pairs subtract to a timedelta; numeric epoch-
        # seconds columns (which union/sliced handle via cast to
        # timestamp = epoch seconds) subtract to a plain number already
        # in seconds — don't assume .total_seconds() exists.
        delta = hi - lo
        span_s = max(
            delta.total_seconds()
            if hasattr(delta, "total_seconds") else float(delta),
            1.0,
        )
    else:
        span_s = 1.0
    n_slices = 2 * -(-max_n // hot_key_rows)  # 2 * ceil
    return "sliced_window", _dt.timedelta(
        seconds=max(1, int(span_s // n_slices))
    ), prefilter


def _prune_history(feats, probe_df, entity_ts_col: str, key_ok: str):
    """Drop feature rows with a NULL key, and — the reference's
    upper-bound optimization (CASE.MD:403) — rows newer than the newest
    probe, which can never match. The bound is a scalar subquery over the
    probes, so it stays in-plan (no driver action) and runs once for the
    whole union of sides."""
    newest = probe_df.selectExpr(
        f"max({_q(entity_ts_col)}) AS __mfs_max_probe_ts"
    ).scalar()
    return feats.filter(F.expr(key_ok) & (F.col(_TS) <= newest))


def _slice_seconds(slice_interval) -> int:
    s = (
        slice_interval.total_seconds()
        if isinstance(slice_interval, _dt.timedelta)
        else float(slice_interval)
    )
    # sub-second intervals would truncate to 0 and divide the slice-id
    # expression by zero, silently disabling the skew protection
    if int(s) < 1:
        raise ValueError(
            f"slice_interval must be >= 1 second, got {slice_interval!r}"
        )
    return int(s)


def _sliced_carry(feats, probe_ok, sides, keys, keep, slice_s: int):
    """union_window partitioned by (key, time slice) with boundary-carry.

    Window state per task is bounded by rows-per-slice instead of
    rows-per-key — the hot-key mitigation sketched in the module
    docstring. Three relations meet in the final window:

      * in-slice feature rows and probe rows (slice = ts div slice_s);
      * one carry-in row per probe-bearing (key, slice): each side's
        latest feature row from ANY earlier slice, pre-reduced per (key,
        slice, side) and selected with a running window over the tiny
        per-slice-latest relation (|keys|×|slices|×|sides| rows, NOT
        data-sized).

    The carry-in's ts is the latest of its payloads' feature timestamps:
    every one of them is from an earlier slice, so the row sorts before
    every in-slice row, and TTL reads each payload's own true age."""
    slice_us = int(slice_s) * 1_000_000
    slice_col = (
        f"CAST(floor(unix_micros(CAST({_TS} AS timestamp)) / {slice_us}) "
        f"AS BIGINT) AS {_SLICE}"
    )
    feats = feats.selectExpr("*", slice_col)
    probe_ok = probe_ok.selectExpr("*", slice_col)
    payloads = [f"{_PAYLOAD}{i}" for i in range(len(sides))]
    part = ", ".join(keys)

    # latest feature row per (key, slice, side) — the boundary-carry
    # candidates, by the window's own total order
    slice_latest = feats.selectExpr(
        *keys, _SLICE, *payloads,
        f"row_number() OVER (PARTITION BY {part}, {_SLICE}, {_VIEW} "
        f"ORDER BY {_order(sides, desc=True)}) AS __rn",
    ).filter("__rn = 1")
    # Carry-in for probe slice s = each side's latest per-slice-latest
    # row with slice strictly < s: union NULL-payload marker rows (one
    # per distinct probe (key, slice)) with the per-slice-latest rows,
    # order markers BEFORE the same slice's feature rows, and take the
    # running last non-null payload_i over (unbounded, -1). Both
    # relations are |keys|×|slices|-sized — one small shuffle, never
    # data-sized.
    markers = probe_ok.select(*keys, _SLICE).distinct()
    tagged = slice_latest.selectExpr(*keys, _SLICE, *payloads, "0 AS __marker") \
        .unionByName(markers.selectExpr("*", "1 AS __marker"), allowMissingColumns=True)
    w = (
        f"OVER (PARTITION BY {part} ORDER BY {_SLICE} ASC, __marker DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    feat_ts = [f"{p}.{_FEAT_TS}" for p in payloads]
    carry_in = (
        tagged.selectExpr(
            *keys, _SLICE, "__marker",
            *[f"last({p}, true) {w} AS {p}" for p in payloads],
        )
        .filter(
            "__marker = 1 AND ("
            + " OR ".join(f"{p} IS NOT NULL" for p in payloads) + ")"
        )
        .selectExpr(
            *keys, _SLICE,
            (f"greatest({', '.join(feat_ts)})" if len(feat_ts) > 1 else feat_ts[0])
            + f" AS {_TS}",
            f"0 AS {_IS_PROBE}", *payloads,
        )
    )
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [feats, probe_ok, carry_in],
    )
    return _carry(unioned, sides, [*keys, _SLICE], keep)


def _range_join(entity_df, feats, sides, join_keys, entity_ts_col):
    """The reference's literal plan: non-equi join + ROW_NUMBER top-1,
    one side after another.

    Left-preserved via LEFT join; the window then keeps the best candidate
    per original entity row (surrogate monotonic id — the reference's
    CONCAT(keys, ts) row id is only consumed for uniqueness, CASE.MD:345-357).
    """
    out = entity_df
    ets = _q(entity_ts_col)
    for i, side in enumerate(sides):
        p = f"{_PAYLOAD}{i}"
        e = out.withColumn(_ROW_ID, F.monotonically_increasing_id())
        created = f"{_CREATED}{i}" if side.created_ts_col else "NULL"
        f = feats.filter(f"{p} IS NOT NULL").selectExpr(
            *[f"{_q(k)} AS {_q('__f_' + k)}" for k in join_keys],
            _TS, f"{created} AS {_CREATED}", p,
        )
        cond = " AND ".join(
            [f"{_q('__f_' + k)} = {_q(k)}" for k in join_keys]
            + [f"{_TS} <= {ets}"]
        )
        ttl_s = _ttl_seconds(side.ttl)
        if ttl_s is not None:
            cond += f" AND {_TS} >= {ets} - INTERVAL {int(ttl_s)} SECOND"
        joined = e.join(f, on=F.expr(cond), how="left")
        best = joined.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {_ROW_ID} ORDER BY {_TS} DESC "
            f"NULLS LAST, {_CREATED} DESC NULLS LAST, {p} DESC NULLS LAST) AS __rn",
        )
        out = best.filter("__rn = 1").drop(
            "__rn", _TS, _CREATED, _ROW_ID, *[f"__f_{k}" for k in join_keys]
        )
    return out
