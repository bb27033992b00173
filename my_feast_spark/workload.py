"""Named queries over the driver test tables + their DuckDB oracle SQL.

Each entry of QUERIES maps a SURVEY §2 operator (or an extension operator)
to a (spark_fn, oracle_sql) pair. The spark_fn takes (spark, sf_dir) and
returns a DataFrame; the oracle SQL runs on DuckDB views named after the
parquet tables. Column names/aliases MATCH between the two on purpose —
the driver's compare sorts columns by name and hashes values.

Determinism rules applied throughout:
  * double aggregates are round()ed in BOTH engines (partial-agg order
    differs, last-ulp drift otherwise);
  * counts are CAST to BIGINT in DuckDB (its count/sum of ints widens to
    HUGEINT, Spark stays bigint);
  * events.ts nanos are truncated to micros on both sides
    (load_table / CAST(ts AS TIMESTAMP));
  * top-k orders by the rounded value + a unique key so both engines pick
    the same rows.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_feast_spark.operators.aggregations import latest_per_key
from my_feast_spark.operators.asof_join import point_in_time_join
from my_feast_spark.sources.readers import load_table


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _scratch_dir(prefix: str) -> str:
    """``mkdtemp`` that is removed at interpreter exit.

    The streaming / store queries return DataFrames that LAZILY read the
    scratch output, so the directory cannot be removed when the query
    function returns — but without cleanup every bench and pytest
    session leaks staged copies of the input tables into /tmp
    (q_streaming_neardup_ingest alone stages the documents table three
    times plus index and checkpoint). atexit bounds the accumulation to
    one process lifetime."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


class _LazySQL:
    """Deferred, memoized oracle-SQL generator.

    Some oracles are GENERATED, not written: the generator retrains the
    deterministic index (k-means cells, PQ codebooks, LSH bucket maps,
    the BPE merge loop) from the oracle parquet and injects it as
    literals. Eagerly running all of them at import time makes every
    ``import workload`` (tests, bench, demo) pay several k-means/BPE
    passes it may never use, and the cost grows with the oracle corpus.
    Registry entries therefore hold ``_LazySQL(generator)``; consumers
    go through :func:`resolve_sql`, which runs the generator on first
    use and caches the string (None stays None — the rows-only case).
    """

    __slots__ = ("_gen", "_sql", "_done")

    def __init__(self, gen):
        self._gen = gen
        self._sql = None
        self._done = False

    def resolve(self) -> str | None:
        if not self._done:
            self._sql = self._gen()
            self._done = True
        return self._sql


def resolve_sql(sql):
    """The oracle-SQL accessor: a plain string (or None) passes through,
    a :class:`_LazySQL` resolves (memoized) to one."""
    return sql.resolve() if isinstance(sql, _LazySQL) else sql


def _stable_round_avg(col: str, dp: int, dec: str = "decimal(18,2)"):
    """Cross-engine-stable ``round(avg(col), dp)`` for dp-limited sources.

    ``round(avg(double), dp)`` is fragile in BOTH ways the tri-scale
    parity sweep caught (round 8): (a) double summation order differs
    between Spark's partial aggregates and DuckDB's scan order, and the
    last-ulp wobble can cross a round boundary in big groups; (b) even on
    a BIT-IDENTICAL quotient, the engines' native round() disagree when
    the shortest-decimal repr sits on a .5 boundary (Spark rounds the
    decimal repr, DuckDB snaps the binary scaled value) — and quotients
    of 2dp-grained sources land exactly on such boundaries (avg of
    {0.01, 0.10} = 0.055). Fix both: sum the dp-limited source EXACTLY
    as decimal (order-independent), do ONE double division of identical
    inputs, and round with the explicit ``floor(x*1e{dp} + 0.5)/1e{dp}``
    form on both sides. :func:`_sql_stable_round_avg` is the oracle-side
    twin; ``q_streaming_hourly_agg`` is the original instance.
    """
    p = float(10**dp)
    return (
        F.floor(
            F.sum(F.col(col).cast(dec)).cast("double")
            / F.count(F.col(col))
            * F.lit(p)
            + F.lit(0.5)
        )
        / F.lit(p)
    )


def _sql_stable_round_avg(expr: str, dp: int, dec: str = "DECIMAL(18,2)") -> str:
    """DuckDB twin of :func:`_stable_round_avg` (e-notation literals keep
    the arithmetic in DOUBLE — DuckDB types bare float literals DECIMAL)."""
    return (
        f"floor(CAST(sum(CAST({expr} AS {dec})) AS DOUBLE) / count({expr})"
        f" * 1e{dp} + 0.5e0) / 1e{dp}"
    )


# =========================================================================
# Flagship: point-in-time retrieval (SURVEY §2.4 J1-J5)
# =========================================================================

def q_pit_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user feature aggregation (A1) + PIT join with 2-day TTL:
    enrich every purchase event with the user's feature vector as of the
    purchase time. Mirrors gold-build + get_historical_features
    (chicago_taxi_trips_hourly_gold.ipynb:78-99 -> CASE.MD:339-502)."""
    events = _t(spark, sf_dir, "events")
    gold = (
        events.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(
            _stable_round_avg("value", 4).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count(F.lit(1)).alias("cnt_events"),
        )
    )
    probes = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_timestamp")
    )
    out = point_in_time_join(
        probes, gold, ["user_id"],
        event_ts_col="bucket_ts", entity_ts_col="event_timestamp",
        ttl=dt.timedelta(days=2),
    )
    return out.select("event_id", "user_id", "event_timestamp",
                      "avg_value", "sum_value", "cnt_events")


SQL_PIT_USER_FEATURES = f"""
WITH feat AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         {_sql_stable_round_avg("value", 4)} AS avg_value,
         round(sum(value), 2) AS sum_value,
         CAST(count(*) AS BIGINT) AS cnt_events
  FROM events GROUP BY 1, 2
), probe AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS event_timestamp
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.event_id, p.user_id, p.event_timestamp,
         f.avg_value, f.sum_value, f.cnt_events,
         row_number() OVER (PARTITION BY p.event_id ORDER BY f.bucket_ts DESC) AS rn
  FROM probe p
  LEFT JOIN feat f
    ON f.user_id = p.user_id
   AND f.bucket_ts <= p.event_timestamp
   AND f.bucket_ts >= p.event_timestamp - INTERVAL 2 DAY
)
SELECT event_id, user_id, event_timestamp, avg_value, sum_value, cnt_events
FROM j WHERE rn = 1
"""


def q_pit_late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Created-timestamp tie-break (J3, CASE.MD:431-464): two versions of
    the same hourly feature rows — v2 'late re-ingestion' has the same
    event ts but newer created and different values; retrieval must pick
    v2 wherever both exist."""
    events = _t(spark, sf_dir, "events")
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    )
    v1 = (
        events.where(F.col("event_id") % 2 == 0)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id", "bucket_ts",
                F.col("bucket_ts").alias("created"),
                "sum_value", F.lit("v1").alias("version"))
    )
    v2 = (
        hourly.agg(F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id", "bucket_ts",
                (F.col("bucket_ts") + F.expr("INTERVAL 1 HOUR")).alias("created"),
                "sum_value", F.lit("v2").alias("version"))
    )
    feat = v1.unionByName(v2)
    probes = events.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.col("ts").alias("event_timestamp")
    )
    out = point_in_time_join(
        probes, feat, ["user_id"],
        event_ts_col="bucket_ts", entity_ts_col="event_timestamp",
        created_ts_col="created", features=["sum_value", "version"],
    )
    return out.select("event_id", "user_id", "event_timestamp", "sum_value", "version")


SQL_PIT_LATE_ARRIVAL = """
WITH v1 AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS created,
         round(sum(value), 2) AS sum_value, 'v1' AS version
  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2, 3
), v2 AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS created,
         round(sum(value), 2) AS sum_value, 'v2' AS version
  FROM events GROUP BY 1, 2, 3
), feat AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
), probe AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS event_timestamp
  FROM events WHERE event_type = 'signup'
), j AS (
  SELECT p.event_id, p.user_id, p.event_timestamp, f.sum_value, f.version,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY f.bucket_ts DESC, f.created DESC) AS rn
  FROM probe p
  LEFT JOIN feat f ON f.user_id = p.user_id AND f.bucket_ts <= p.event_timestamp
)
SELECT event_id, user_id, event_timestamp, sum_value, version
FROM j WHERE rn = 1
"""


# =========================================================================
# Aggregations (SURVEY §2.3 A1-A6)
# =========================================================================

def q_hourly_user_agg(spark, sf_dir):
    """A1: hourly per-entity feature aggregation
    (chicago_taxi_trips_hourly_gold.ipynb:78-87)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(
            _stable_round_avg("value", 4).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.count(F.lit(1)).alias("cnt_events"),
        )
    )


SQL_HOURLY_USER_AGG = f"""
SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
       {_sql_stable_round_avg("value", 4)} AS avg_value,
       round(sum(value), 2) AS sum_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       CAST(count(*) AS BIGINT) AS cnt_events
FROM events GROUP BY 1, 2
"""


def q_hourly_global_agg(spark, sf_dir):
    """A2: hourly agg with set collection (collect_set sorted for
    determinism; chicago_weather_hourly_fs.py:38-43).

    The set is emitted '|'-joined as a scalar string: the driver's
    canonicalizer hashes columns via pandas sort, which cannot hash
    array cells (round-1 red row). The array-returning form stays the
    library default (F.array_sort(F.collect_set(...)) — same plan up to
    the final concat_ws projection)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(
            _stable_round_avg("value", 4).alias("avg_value"),
            F.concat_ws("|", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
            F.count(F.lit(1)).alias("cnt_events"),
        )
    )


SQL_HOURLY_GLOBAL_AGG = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
       {_sql_stable_round_avg("value", 4)} AS avg_value,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types,
       CAST(count(*) AS BIGINT) AS cnt_events
FROM events GROUP BY 1
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem — the multi-aggregate
    hash agg the reference's gold jobs are instances of (A1/A3).

    The derived-column sums run in EXACT decimal: price/discount/tax are
    2dp-sourced, so disc_price is exact at 4dp and charge at 6dp — and a
    4dp/6dp-grained sum CAN land exactly on a .005 round boundary, where
    the engines' native double round() diverge by representation (the
    tri-scale sweep class of bug, see _stable_round_avg). Decimal sums
    are order-independent and decimal round is exact, so one final
    cast-to-double matches bit-for-bit at any scale. The plain 2dp sums
    of 2dp sources (sum_qty/base_price) stay native: their true sums sit
    ON a 2dp multiple, 0.005 away from any boundary — the last-ulp
    wobble can't reach it."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (one - disc)
    charge = disc_price * (one + tax)
    return (
        li.where(F.col("l_shipdate") <= F.lit(dt.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            _stable_round_avg("l_quantity", 4).alias("avg_qty"),
            _stable_round_avg("l_extendedprice", 4, "decimal(12,2)").alias(
                "avg_price"
            ),
            _stable_round_avg("l_discount", 6, "decimal(4,2)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                      * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS sum_charge,
       {_sql_stable_round_avg("l_quantity", 4)} AS avg_qty,
       {_sql_stable_round_avg("l_extendedprice", 4, "DECIMAL(12,2)")} AS avg_price,
       {_sql_stable_round_avg("l_discount", 6, "DECIMAL(4,2)")} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_latest_event_per_user(spark, sf_dir):
    """A6+W1: latest-version-per-key via ROW_NUMBER top-1
    (CASE.MD:445-464)."""
    events = _t(spark, sf_dir, "events")
    out = latest_per_key(events, ["user_id"], ["ts"], tie_breakers=["event_id"])
    return out.select(
        "user_id", F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


SQL_LATEST_EVENT_PER_USER = """
WITH r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, last_ts, event_type AS last_event_type,
       round(value, 2) AS last_value
FROM r WHERE rn = 1
"""


def q_online_lookup(spark, sf_dir):
    """J6 online point lookup (explore_features.ipynb:608-616): broadcast
    a small key set against the latest-per-entity snapshot, a batch
    point lookup over a derived key relation. The keys side is tiny by
    construction, so the plan is a BroadcastHashJoin over the snapshot
    with no shuffle of the big side."""
    events = _t(spark, sf_dir, "events")
    snap = latest_per_key(events, ["user_id"], ["ts"], tie_breakers=["event_id"])
    keys = (
        events.select("user_id").where(F.col("user_id") % 13 == 0).distinct()
    )
    return (
        snap.join(F.broadcast(keys), "user_id")
        .select(
            "user_id", F.col("ts").alias("feature_ts"), "event_type",
            F.round("value", 2).alias("value"),
        )
    )


SQL_ONLINE_LOOKUP = """
WITH r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS feature_ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, feature_ts, event_type, round(value, 2) AS value
FROM r WHERE rn = 1 AND user_id % 13 = 0
"""


# =========================================================================
# Joins (SURVEY §2.4 J5/J6 shapes over the star schema)
# =========================================================================

def q_regional_revenue(spark, sf_dir):
    """Multi-way dimension join + agg (J5's chained-join shape; small dims
    are broadcast by Catalyst/AQE)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_REGIONAL_REVENUE = """
SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_order_priority_count(spark, sf_dir):
    """Semi-join (EXISTS) + agg — TPC-H Q4 shape."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    shipped_late = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).where(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey").distinct()
    return (
        orders.join(shipped_late, orders.o_orderkey == shipped_late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_ORDER_PRIORITY_COUNT = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_top_spenders(spark, sf_dir):
    """Global top-k: sort + limit over an aggregate (§2.5), deterministic
    via (rounded total desc, key asc) ordering in both engines."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


SQL_TOP_SPENDERS = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
"""


def q_user_cohort_sets(spark, sf_dir):
    """Set operations (§2.6 — absent in the reference, table-stakes for a
    complete engine): EXCEPT + INTERSECT + UNION over user cohorts."""
    events = _t(spark, sf_dir, "events")
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    signups = events.where(F.col("event_type") == "signup").select("user_id").distinct()
    purchase_only = purchasers.subtract(signups).withColumn(
        "cohort", F.lit("purchase_only")
    )
    both = purchasers.intersect(signups).withColumn("cohort", F.lit("both"))
    return purchase_only.unionByName(both)


SQL_USER_COHORT_SETS = """
WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
     s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
SELECT user_id, 'purchase_only' AS cohort
FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM s)
UNION ALL
SELECT user_id, 'both' AS cohort
FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM s)
"""


def q_revenue_rollup(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP (region → nation → grand total)
    with grouping_id distinguishing the levels — the drill-down shape of
    a reporting layer. One shuffle; Spark expands the grouping sets
    map-side."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("level"),
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS level
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_user_value_deltas(spark, sf_dir):
    """Analytic window functions (lag + running delta) per entity stream —
    not used by the reference but table-stakes for event analytics; one
    shuffle on the window key."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return events.select(
        "event_id", "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
    )


SQL_USER_VALUE_DELTAS = """
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 2) AS delta_prev,
       round(lead(value) OVER w - value, 2) AS delta_next
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_part_brand_stats(spark, sf_dir):
    """A3: min/max/avg/count multi-aggregate (trip_stats_fv.ipynb:297-306)."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.round(F.min("p_retailprice"), 2).alias("min_price"),
        F.round(F.max("p_retailprice"), 2).alias("max_price"),
        _stable_round_avg("p_retailprice", 4, "decimal(12,2)").alias("avg_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


SQL_PART_BRAND_STATS = f"""
SELECT p_brand, round(min(p_retailprice), 2) AS min_price,
       round(max(p_retailprice), 2) AS max_price,
       {_sql_stable_round_avg("p_retailprice", 4, "DECIMAL(12,2)")} AS avg_price,
       CAST(count(*) AS BIGINT) AS n_parts
FROM part GROUP BY 1
"""


def q_idle_customers_anti(spark, sf_dir):
    """Anti-join (NOT EXISTS): customers with no 'F'-status order, counted
    per market segment. Completes the join-type matrix next to the Q4-shape
    semi join (SURVEY §2.4 "semi/anti ... built-in if needed"). At scale the
    orders side reduces to a distinct-key projection before the anti join,
    so the shuffle carries keys only."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    f_custs = (
        orders.where(F.col("o_orderstatus") == "F")
        .select("o_custkey").distinct()
    )
    return (
        customer.join(f_custs, customer.c_custkey == f_custs.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_IDLE_CUSTOMERS_ANTI = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


def q_moving_avg_revenue(spark, sf_dir):
    """Window frame spec (rowsBetween): 7-day trailing moving average over
    daily order revenue — the frame-spec analytic SURVEY §2.5 lists as
    absent-in-reference/built-in. Day grain keeps the frame deterministic
    (one row per day, unique ORDER BY key). The window is a single global
    series; at scale, partition by a coarser key (e.g. region) to keep the
    window parallel — here the aggregated input is tiny (~n_days rows)."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date(F.col("o_orderdate")).alias("order_day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_revenue"))
    )
    w = Window.orderBy("order_day").rowsBetween(-6, 0)
    # the windowed twin of _stable_round_avg: day_revenue is 2dp-grained
    # (round(sum, 2) of 2dp sources is exact — the true sum sits ON the
    # grid), so the frame's decimal sum is exact/order-independent and
    # the floor form rounds the lone double division identically on both
    # engines (avg of up-to-7 grid values is NOT itself on a grid)
    return daily.select(
        "order_day", "day_revenue",
        (
            F.floor(
                F.sum(F.col("day_revenue").cast("decimal(18,2)")).over(w)
                .cast("double")
                / F.count(F.lit(1)).over(w) * F.lit(1e4) + F.lit(0.5)
            ) / F.lit(1e4)
        ).alias("ma7_revenue"),
    )


SQL_MOVING_AVG_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_day,
         round(sum(o_totalprice), 2) AS day_revenue
  FROM orders GROUP BY 1
)
SELECT order_day, day_revenue,
       floor(CAST(sum(CAST(day_revenue AS DECIMAL(18,2)))
                  OVER (ORDER BY order_day
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / count(*) OVER (ORDER BY order_day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             * 1e4 + 0.5e0) / 1e4 AS ma7_revenue
FROM daily
"""


def q_returnflag_cube(spark, sf_dir):
    """CUBE over (l_returnflag, l_linestatus) with grouping_id — all four
    grouping-set combinations in one pass (complements the ROLLUP query).
    Spark and DuckDB both expand the cube before the hash agg; partial
    aggregation keeps the shuffle at |groups| x 4."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid", "sum_price", "n_rows",
        )
    )


SQL_RETURNFLAG_CUBE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       round(sum(l_extendedprice), 2) AS sum_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_event_type_pivot(spark, sf_dir):
    """Relational PIVOT with an explicit value list: per-user counts of
    each event type as columns. Pinning the pivot values keeps the schema
    static (no extra distinct-scan job) and makes the plan a single hash
    aggregate of conditional counts — the exact shape the SQL oracle
    mirrors with FILTER clauses."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


SQL_EVENT_TYPE_PIVOT = """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
FROM events GROUP BY user_id
"""


def q_lineitem_unpivot(spark, sf_dir):
    """UNPIVOT/melt: three lineitem measures to (metric, value) rows,
    aggregated per metric — wide-to-long normalization. Spark's unpivot
    is a zero-shuffle Expand (rows × n_metrics), so the only shuffle is
    the final 3-group aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return melted.groupBy("metric").agg(
        _stable_round_avg("value", 4, "decimal(18,2)").alias("avg_value"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_LINEITEM_UNPIVOT = f"""
WITH melted AS (
  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
)
SELECT metric, {_sql_stable_round_avg("value", 4, "DECIMAL(18,2)")}
           AS avg_value,
       CAST(count(*) AS BIGINT) AS n_rows
FROM melted GROUP BY metric
"""


def q_small_quantity_revenue(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape): revenue from lineitems
    whose quantity is below 20% of the per-part average. Decorrelated the
    Spark-idiomatic way — pre-aggregate per part, then join; the aggregate
    side is |parts| rows, so Catalyst broadcasts it and the big lineitem
    scan streams through map-side."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part_avg), "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        # decimal sum (exact, order-independent) then ONE double /7.0
        # division rounded with the stable floor form: /7 pushes the
        # result off the 2dp grid, so a native round of an
        # order-dependent double sum is fragile both ways
        .agg(
            (
                F.floor(
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    .cast("double") / F.lit(7.0) * F.lit(1e2) + F.lit(0.5)
                ) / F.lit(1e2)
            ).alias("avg_yearly")
        )
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0e0 * 1e2 + 0.5e0) / 1e2 AS avg_yearly
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


def q_customer_balance_deciles(spark, sf_dir):
    """ntile window: decile of each customer by account balance, summarized
    as per-decile min/max/count. Deterministic because the ORDER BY key
    (c_acctbal, c_custkey) is unique. A global ntile is a single-partition
    window — fine for |customers| summaries; at 100 TB, compute decile
    boundaries with approx percentiles and bucket by range instead."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        customer.select(
            "c_acctbal", F.ntile(10).over(w).alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


SQL_CUSTOMER_BALANCE_DECILES = """
WITH d AS (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
  FROM customer
)
SELECT decile, round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal,
       CAST(count(*) AS BIGINT) AS n_customers
FROM d GROUP BY decile
"""


# =========================================================================
# Extensions: text analysis (north-star operators over `documents`)
# =========================================================================

def q_hash_sampled_docs(spark, sf_dir):
    """Deterministic ~10% hash-bucket sample of the corpus, summarized per
    language — reproducible data mixing (same rows on every run/engine,
    unlike df.sample)."""
    from my_feast_spark.functions.text import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(hash_sample(F.col("doc_id")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


SQL_HASH_SAMPLED_DOCS = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
GROUP BY lang
"""


def _vocab_encode_digest(encoded, ids_col="ids"):
    """Per-doc accounting over an encoded id-array relation: token/OOV
    counts and the order-sensitive md5 digest of the id sequence, so
    the oracle verifies the EXACT encoding (values and order)."""
    ids = F.col(ids_col)
    return encoded.select(
        "doc_id",
        F.size(ids).alias("n_tokens"),
        F.size(F.filter(ids, lambda i: i == -1)).alias("n_oov"),
        F.md5(
            F.encode(F.concat_ws(",", F.transform(ids, lambda i: i.cast("string"))), "UTF-8")
        ).alias("ids_md5"),
    )


def q_vocab_encode(spark, sf_dir):
    """Vocabulary encoding: map each document's tokens to integer ids
    from the corpus top-20 vocabulary (rank by occurrences desc, token
    asc), out-of-vocabulary -> -1 — the tokenizer-encode step of a
    training pipeline. The vocabulary is collected to the driver
    (BOUNDED: vocab_size rows — the IVF-sample pattern) and enters the
    plan as a map literal, so encoding is a map-only transform over the
    projected token array; no join ever touches the corpus. Right for
    small vocabularies; ``q_vocab_encode_join`` is the large-vocabulary
    variant of the SAME encoding."""
    from my_feast_spark.functions.text import tokens
    from my_feast_spark.operators.vocab import (
        encode_ids_map_literal,
        token_vocabulary,
    )

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    vocab = {
        r.token: r.id
        for r in token_vocabulary(toked, "__ltoks", 20).collect()
    }
    return _vocab_encode_digest(
        encode_ids_map_literal(toked, "doc_id", "__ltoks", vocab)
    )


def q_vocab_encode_join(spark, sf_dir):
    """The LARGE-vocabulary encode: same encoding as ``q_vocab_encode``
    (same top-20 vocabulary, same digest — the oracle SQL is literally
    shared), but the vocabulary never touches the driver or the plan
    tree: tokens are exploded with position, broadcast-left-joined
    against the (token, id) relation, and re-aggregated in order. A
    100k-token vocabulary as a ``create_map`` literal explodes the
    expression tree; as a broadcast table it ships once per executor —
    this is the shape that survives real tokenizer vocabularies.
    Plan-pinned in tests/test_plans.py: BroadcastHashJoin, no literal
    map."""
    from my_feast_spark.functions.text import tokens
    from my_feast_spark.operators.vocab import (
        encode_ids_broadcast_join,
        token_vocabulary,
    )

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    vocab_df = token_vocabulary(toked, "__ltoks", 20)
    return _vocab_encode_digest(
        encode_ids_broadcast_join(toked, "doc_id", "__ltoks", vocab_df)
    )


SQL_VOCAB_ENCODE = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), vocab AS (
  SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS INT) AS id
  FROM (
    SELECT token, count(*) AS n
    FROM (SELECT unnest(t) AS token FROM tok)
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
  )
), flat AS (
  SELECT doc_id, CAST(i AS BIGINT) AS ord, t[i] AS token
  FROM tok, unnest(range(1, len(t) + 1)) AS r(i)
), enc AS (
  SELECT f.doc_id, f.ord, COALESCE(v.id, -1) AS id
  FROM flat f LEFT JOIN vocab v USING (token)
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS INT) AS n_oov,
       md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY ord)) AS ids_md5
FROM enc GROUP BY doc_id
"""

#: the join variant computes the IDENTICAL encoding — one oracle serves both
SQL_VOCAB_ENCODE_JOIN = SQL_VOCAB_ENCODE


def q_top_terms_tfidf(spark, sf_dir):
    """TF-IDF top-3 terms per doc (for a deterministic doc subset) with
    GLOBAL document frequencies: tf per (doc, term) rides partial
    aggregation; corpus size enters as a broadcast scalar — no shuffle is
    ever keyed on anything bigger than (doc, term).

    The document-frequency relation spans the CORPUS vocabulary, which
    does not broadcast at web scale. Two guards: (1) df is semi-join
    pruned to the scored subset's terms first (build side ∝ the query
    subset, not the corpus — plan-pinned in tests/test_plans.py); (2) no
    broadcast hint on the pruned df — Catalyst/AQE's size threshold picks
    broadcast at small SF and falls back to a shuffle join when the
    pruned vocabulary is still too big."""
    docs = _t(spark, sf_dir, "documents")
    from my_feast_spark.functions.text import tokens

    tok = docs.select(
        "doc_id", F.explode_outer(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term").isNotNull())
    # tf is read three times (df build, scored subset, subset vocab);
    # without the persist each read re-tokenizes the whole corpus (the
    # IR-pipeline norm is to materialize the term-frequency table once)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf_sub = tf.where(F.col("doc_id") % 20 == 0)
    sub_terms = tf_sub.select("term").distinct()
    dfreq_pruned = dfreq.join(sub_terms, "term", "left_semi")
    scored = (
        tf_sub
        .join(dfreq_pruned, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )
    out._owned_caches = [tf]
    return out


SQL_TOP_TERMS_TFIDF = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln((SELECT count(*) FROM documents) / dfreq.df), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (term)
  WHERE tf.doc_id % 20 = 0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tf, tfidf FROM ranked WHERE rn <= 3
"""


def q_quality_score(spark, sf_dir):
    """Document quality scoring: length + lexical diversity + stopword
    ratio composite (the heuristic-filter stage of a training-data
    pipeline)."""
    from my_feast_spark.functions.text import LANG_STOPWORDS, tokens

    docs = _t(spark, sf_dir, "documents")
    # shared token-array projection: one tokenization feeds every score
    docs = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    toks = F.col("__ltoks")
    n = F.greatest(F.size(toks), F.lit(1))
    stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    diversity = F.size(F.array_distinct(toks)) / n.cast("double")
    len_score = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
    stop_ratio = n_stop / n.cast("double")
    # floor(x*1e4 + 0.5)/1e4 instead of F.round: Spark rounds the
    # SHORTEST-DECIMAL repr (0.43724999... -> .4372) while DuckDB
    # multiplies in binary (x*1e4 snaps to 4372.5 -> .4373) — the two
    # disagree exactly on .5-boundary composites like 0.43725. The
    # explicit floor form is the same IEEE ops in both engines, so it
    # is bit-identical everywhere (values are nonnegative here).
    def r4(c):
        return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    # (r16: a Generate-barrier variant materializing the sub-measures
    # measured FLAT here — see q_repetition_filter for the shape that
    # does win)
    return docs.select(
        "doc_id",
        r4(diversity).alias("lexical_diversity"),
        r4(stop_ratio).alias("stopword_ratio"),
        r4(
            0.4 * len_score + 0.4 * diversity + 0.2 * stop_ratio
        ).alias("quality_score"),
    )


SQL_QUALITY_SCORE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         greatest(len(toks), 1) AS n,
         len(list_distinct(toks)) AS nd,
         len(list_filter(toks, x -> list_contains(
             ['the', 'a', 'and', 'of', 'to', 'in', 'is'], x))) AS ns,
         least(len(toks) / 100.0e0, 1.0e0) AS len_score
  FROM t
)
SELECT doc_id,
       -- floor(x*1e4+0.5)/1e4 with e0 (DOUBLE) literals mirrors the
       -- Spark side bit-for-bit; native round() diverges between the
       -- engines exactly on .5-boundary composites (0.43725 — caught
       -- by the sf0.001 parity sweep), and bare 0.4 literals would be
       -- DECIMAL in DuckDB
       floor((nd / CAST(n AS DOUBLE)) * 1e4 + 0.5e0) / 1e4
           AS lexical_diversity,
       floor((ns / CAST(n AS DOUBLE)) * 1e4 + 0.5e0) / 1e4
           AS stopword_ratio,
       floor((0.4e0 * len_score + 0.4e0 * (nd / CAST(n AS DOUBLE))
              + 0.2e0 * (ns / CAST(n AS DOUBLE))) * 1e4 + 0.5e0) / 1e4
           AS quality_score
FROM s
"""


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-language stopword hit counts + argmax
    prediction (ties broken by priority order en>es>fr>de). One shared
    token-array projection feeds all five outputs — one tokenization per
    row instead of one per column."""
    from my_feast_spark.functions.text import _lang_scores_arr, lang_id_arr, tokens

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    scores = _lang_scores_arr(F.col("__ltoks"))
    # (r16: a Generate-barrier variant materializing the four score
    # HOFs measured FLAT here — the CASE chain evaluates lazily and
    # most rows resolve on their first branch — so the simpler shape
    # stays; contrast q_repetition_filter, whose duplicated array_sort
    # made the barrier a measured win)
    return toked.select(
        "doc_id",
        *[scores[lang].alias(f"hits_{lang}") for lang in ("en", "es", "fr", "de")],
        lang_id_arr(F.col("__ltoks")).alias("pred_lang"),
    )


SQL_LANG_ID = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is'], x))) AS INTEGER) AS hits_en,
    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los'], x))) AS INTEGER) AS hits_es,
    CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','un','des'], x))) AS INTEGER) AS hits_fr,
    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','zu'], x))) AS INTEGER) AS hits_de
  FROM t
)
SELECT doc_id, hits_en, hits_es, hits_fr, hits_de,
  CASE
    WHEN hits_en > 0 AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
    WHEN hits_es > 0 AND hits_es >= hits_fr AND hits_es >= hits_de AND hits_es > hits_en THEN 'es'
    WHEN hits_fr > 0 AND hits_fr >= hits_de AND hits_fr > hits_en AND hits_fr > hits_es THEN 'fr'
    WHEN hits_de > 0 AND hits_de > hits_en AND hits_de > hits_es AND hits_de > hits_fr THEN 'de'
    ELSE 'und' END AS pred_lang
FROM s
"""


def q_doc_fingerprints(spark, sf_dir):
    """Document fingerprinting: md5 over whitespace-normalized lowercase
    text (exact-dup content key)."""
    from my_feast_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


SQL_DOC_FINGERPRINTS = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


# =========================================================================
# Extensions: deduplication (exact / n-gram Jaccard / MinHash / SimHash)
# =========================================================================

def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup groups: hash-groupBy on the content fingerprint."""
    from my_feast_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


SQL_EXACT_DEDUP_DOCS = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


def q_jaccard_dup_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (shingle join)."""
    from my_feast_spark.operators.dedup import jaccard_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_dup_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


SQL_JACCARD_DUP_PAIRS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh)
SELECT doc_a, doc_b,
       floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e4 + 0.5e0) / 1e4 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e4 + 0.5e0) / 1e4 >= 0.5
"""


def q_minhash_dup_pairs(spark, sf_dir, *, hash_fn="portable"):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified (scale path).

    hash_fn="portable" (md5-derived Carter-Wegman family) makes every
    stage — signatures, band sigs, bucket cap, candidate join, exact
    verify — bit-reproducible in DuckDB, so the oracle replays the FULL
    pipeline (SQL_MINHASH_DUP_PAIRS) rather than a weaker rows-only
    check. The scale path keeps xxhash64 (the Arrow fan-out since
    round 15 — cheaper; recall behavior identical, asserted in
    tests/test_extensions.py); bench.py times BOTH so the recorded
    number reflects the 100 TB path."""
    from my_feast_spark.operators.dedup import minhash_lsh_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dup_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, hash_fn=hash_fn
    )


def _sql_minhash_dup_pairs(
    *, num_hashes=64, bands=16, max_bucket=50, threshold=0.5,
    source="documents",
) -> str:
    """DuckDB replay of the minhash LSH pipeline — generated so the
    banding coefficients are THE ones the Spark plan uses. ``source``
    lets the full-curation oracle run the same replay over an upstream
    CTE instead of the raw table."""
    from my_feast_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    r = num_hashes // bands
    mh = ",\n         ".join(
        f"list_min(list_transform(bases, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]}) "
        f"% {MINHASH_P})) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc, {b} AS band, concat_ws(',', "
        + ", ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + ") AS sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t FROM {source}
), sh AS MATERIALIZED (
  SELECT doc, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), based AS MATERIALIZED (
  SELECT doc, s, list_transform(s, sg ->
         CAST((md5_number_lower(sg) & 9223372036854775807) % {MINHASH_P} AS BIGINT)) AS bases
  FROM sh
), sigs AS (
  SELECT doc, {mh}
  FROM based
), band_rows AS MATERIALIZED (
  {band_selects}
), ok AS (
  SELECT band, sig FROM band_rows GROUP BY band, sig HAVING count(*) <= {max_bucket}
), br AS MATERIALIZED (
  SELECT band_rows.* FROM band_rows JOIN ok USING (band, sig)
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM br a JOIN br b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
), cd AS (
  SELECT doc_a AS doc FROM cand UNION SELECT doc_b FROM cand
), ex AS MATERIALIZED (
  SELECT doc, unnest(s) AS shingle FROM sh WHERE doc IN (SELECT doc FROM cd)
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc = c.doc_a
  JOIN ex b ON b.doc = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
), sizes AS (SELECT doc, len(s) AS n_sh FROM sh)
SELECT doc_a, doc_b,
       floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e4 + 0.5e0) / 1e4 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e4 + 0.5e0) / 1e4
      >= {threshold}
"""


SQL_MINHASH_DUP_PAIRS = _LazySQL(_sql_minhash_dup_pairs)


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters over the MinHash-LSH pair graph —
    connected components by driver union-find, or large-star/small-star
    contraction past the driver bound (operators/graph.py), so curation
    can keep ONE canonical doc per variant group instead of making
    unsound pairwise keep decisions.
    The oracle recomputes the same components with a recursive CTE over
    the identical portable-hash pair SQL: a fully hash-matched check for
    an inherently iterative algorithm."""
    from my_feast_spark.operators.graph import connected_components

    pairs = q_minhash_dup_pairs(spark, sf_dir)
    out = connected_components(
        pairs, "doc_a", "doc_b", out_id="doc_id", out_label="cluster_id"
    )
    # forward the pair generator's cache ownership: connected_components
    # consumes the pairs but returns a fresh frame, and a caller that
    # materializes the clusters (bench, the parity test) must be able to
    # release the minhash sh/sig/candidates caches too
    out._owned_caches = [
        *getattr(out, "_owned_caches", ()),
        *getattr(pairs, "_owned_caches", ()),
    ]
    return out


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_sql_minhash_dup_pairs()}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.id
)
SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY 1
"""


def q_cluster_keep_longest(spark, sf_dir):
    """Canonical-document selection per near-dup cluster — the keep
    policy that turns cluster labels into curation decisions: keep the
    LONGEST member (tie -> min doc_id), the standard "fullest variant
    wins" rule for near-dup groups where min-id would throw away the
    most complete copy. Scale shape: the cluster relation covers only
    docs that appear in some pair (a small fraction of the corpus), so
    the metadata join broadcasts under AQE; rank + member accounting
    share ONE hash-exchange on cluster_id (the window's partitioning is
    reused by the aggregate)."""
    from my_feast_spark.operators.graph import connected_components

    pairs = q_minhash_dup_pairs(spark, sf_dir)
    clusters = connected_components(
        pairs, "doc_a", "doc_b", out_id="doc_id", out_label="cluster_id"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    member = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    out = (
        member.withColumn("__rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    # ownership survives the join/agg: hand the pair generator's caches
    # and the CC labels checkpoint to whoever materializes the keepers
    out._owned_caches = list(getattr(pairs, "_owned_caches", ()))
    out._owned_checkpoints = list(getattr(clusters, "_owned_checkpoints", ()))
    return out


SQL_CLUSTER_KEEP_LONGEST = f"""
WITH RECURSIVE pairs AS ({_sql_minhash_dup_pairs()}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.id
),
cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
       FROM reach GROUP BY 1),
m AS (SELECT cluster_id, d.doc_id, d.n_chars
      FROM cl JOIN documents d USING (doc_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM m)
SELECT cluster_id,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM r GROUP BY cluster_id
"""


def q_simhash_dup_pairs(spark, sf_dir, *, hash_fn="portable"):
    """SimHash hamming<=3 near-dup pairs (pigeonhole banding). Pigeonhole
    recall is exactly 1, and hash_fn="portable" gives DuckDB the same
    bit patterns (md5_number_lower) — so the oracle is a brute-force
    hamming join and must match bit-for-bit. bench.py also times the
    xxhash64 scale default."""
    from my_feast_spark.operators.dedup import simhash_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_fn=hash_fn
    )


def _sql_simhash_dup_pairs(*, bits=64, max_hamming=3) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    fp = " | ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b}::UBIGINT ELSE 0::UBIGINT END)"
        for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), h AS (
  SELECT doc, md5_number_lower(token) AS h FROM tok
), votes AS (
  SELECT doc, {votes}
  FROM h GROUP BY doc
), fp AS (
  SELECT doc, {fp} AS sh
  FROM votes
)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


SQL_SIMHASH_DUP_PAIRS = _LazySQL(_sql_simhash_dup_pairs)


# =========================================================================
# Extensions: multimodal columns (binary assets + mapInPandas decode)
# =========================================================================

def q_multimodal_decode(spark, sf_dir):
    """Binary asset round-trip: documents.text → MFIM binary envelope
    (JVM-side encode) → Arrow-batched mapInPandas decode + feature
    extraction. Proves the multimodal plumbing end-to-end: the oracle
    recomputes every decoded field from the source text."""
    from my_feast_spark.multimodal import decode_assets, encode_fake_image_assets

    docs = _t(spark, sf_dir, "documents")
    assets = encode_fake_image_assets(docs, "doc_id", "text")
    return decode_assets(assets).select(
        "asset_id", "kind", "width", "height", "channels",
        "n_bytes", "payload_md5",
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS asset_id, 'image' AS kind,
       CAST((length(text) % 640) + 1 AS INTEGER) AS width,
       CAST((doc_id % 480) + 1 AS INTEGER) AS height,
       3 AS channels,
       CAST(16 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def q_multimodal_frames(spark, sf_dir):
    """Video-shaped frame sampling: every 10th 64-byte chunk of the
    fake-codec payload, one row per sampled frame (cardinality-expanding
    mapInPandas — multimodal.sample_frames), rolled up to per-asset frame
    stats. The oracle recomputes the sampled-frame count and the first
    frame's digest straight from the source text (the corpus is ASCII,
    so byte slices == char slices in both engines)."""
    from my_feast_spark.multimodal import encode_fake_image_assets, sample_frames

    docs = _t(spark, sf_dir, "documents")
    frames = sample_frames(
        encode_fake_image_assets(docs, "doc_id", "text"),
        frame_bytes=64, every_k=10,
    )
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max(
            F.when(F.col("frame_idx") == 0, F.md5(F.col("frame")))
        ).alias("first_frame_md5"),
    )


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id AS asset_id,
       CAST(((octet_length(encode(text)) // 64) + 9) // 10 AS BIGINT) AS n_frames,
       md5(substring(text, 1, 64)) AS first_frame_md5
FROM documents
WHERE octet_length(encode(text)) >= 64
"""


# =========================================================================
# Extensions: similarity search over embeddings
# =========================================================================

def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid (elementwise mean over array<float>) —
    the vector-aggregation shape of IVF/KMeans training. posexplode +
    groupBy(label, pos) rides Spark's partial aggregation: the shuffle
    carries |labels| x dim partial sums, not raw vectors; the final
    array_agg reassembles dim values per label. Returns a digest of the
    centroid (md5 of rounded values) so the compare stays compact."""
    emb = _t(spark, sf_dir, "embeddings")
    # quantize each float32 component to the 1e-6 grid BEFORE averaging
    # (float->double widening and the multiply/floor are exact IEEE ops,
    # identical on both engines), then sum exact BIGINTs — the avg is
    # order-independent by construction, unlike a double sum whose
    # partial-agg order differs between engines. The centroid is thus
    # the mean of 1e-6-quantized components, rounded to 6dp with the
    # explicit floor form — a well-defined, engine-stable statistic.
    xq = F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5))
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.floor(
                    F.sum(xq).cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                ) / F.lit(1e6)
            ).alias("c"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


SQL_LABEL_CENTROIDS = """
WITH pos AS (
  SELECT label, unnest(range(len(embedding))) AS pos, embedding AS emb
  FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       floor(CAST(sum(CAST(floor(
                 CAST(emb[CAST(pos AS INTEGER) + 1] AS DOUBLE)
                 * 1e6 + 0.5e0) AS BIGINT)) AS DOUBLE)
             / count(*) + 0.5e0) / 1e6 AS c,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM pos GROUP BY label, pos
"""


def q_cosine_topk(spark, sf_dir, *, impl="expr"):
    """Brute-force exact cosine top-5 neighbors for the first 20 vectors
    (broadcast queries x corpus scan; deterministic fold-order dots).
    ``impl="numpy"`` switches to the gemm fast path (one BLAS matmul +
    local top-k per Arrow batch — the 100 TB exact-verify shape; bench
    times it alongside, oracle runs stay on the expression fold)."""
    from my_feast_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return cosine_topk(q, c, k=5, impl=impl)


SQL_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), sims AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
               6) AS sim
  FROM c, q WHERE neighbor_id != query_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 5
"""


def _plane_literal(plane) -> str:
    """A hyperplane as a DuckDB DOUBLE[] literal — repr() round-trips
    float64 exactly, so the oracle dots the SAME plane the plan does."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _sign_bucket_sql(vec: str, planes) -> str:
    """Sign-bit bucket id expression over ``vec`` for the given planes —
    mirrors operators.similarity.lsh_bucket bit for bit (both engines
    fold the dot product sequentially)."""
    bits = [
        f"(CASE WHEN list_inner_product({vec}, {_plane_literal(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-5 via random-hyperplane LSH buckets (the corpus-
    scale path; recall additionally measured against q_cosine_topk in
    tests). The hyperplanes are deterministic (fixed seed), so the DuckDB
    oracle replays the exact bucket/probe/rank pipeline."""
    from my_feast_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return ann_lsh_topk(q, c, k=5, num_planes=4, probe_radius=2)


def _sql_ann_lsh_topk(*, k=5, num_planes=4, dim=64, seed=42, probe_radius=2) -> str:
    from my_feast_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, num_planes, seed)
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << i for i in range(num_planes)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(num_planes)
            for j in range(i + 1, num_planes)
        ]
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
), qb AS (
  SELECT query_id, qv, {_sign_bucket_sql("qv", planes)} AS bucket FROM q
), qp AS (
  SELECT query_id, qv, xor(bucket, m) AS bucket
  FROM qb, (SELECT unnest({masks}) AS m)
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
         {_sign_bucket_sql("CAST(embedding AS DOUBLE[])", planes)} AS bucket
  FROM embeddings
), j AS (
  SELECT DISTINCT query_id, neighbor_id,
         round(list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
               6) AS sim
  FROM c JOIN qp USING (bucket)
  WHERE neighbor_id != query_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM j
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {k}
"""


SQL_ANN_LSH_TOPK = _LazySQL(_sql_ann_lsh_topk)

# The driver's oracle comparison (and tests/test_oracle_parity.py) runs at
# this SF; data-dependent oracle generators (IVF centroids, LSH bucket
# maps) retrain/replay from the same parquet the DuckDB views read.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def q_ivf_topk(spark, sf_dir, *, deterministic=True):
    """IVF approximate top-5: KMeans cells + nprobe search — the
    data-adaptive ANN family next to hyperplane LSH. Centroids are a pure
    function of the id-ordered capped sample + fixed seed, so the DuckDB
    oracle retrains them and replays the full cell-probe pipeline exactly
    (see _sql_ivf_topk); recall vs exact additionally measured in tests.
    ``deterministic=False`` switches cell assignment to the BLAS gemm
    fast path (production default at scale; bench times it alongside —
    oracle runs stay on the bit-deterministic reduction)."""
    from my_feast_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return ivf_topk(q, c, k=5, num_centroids=16, nprobe=6, deterministic=deterministic)


def _sql_ivf_topk(*, k=5, num_centroids=16, nprobe=6, seed=42, sample_cap=4096):
    """Exact oracle for q_ivf_topk. The index build is deterministic
    (driver-side k-means on the id-ordered sample, similarity.py), so the
    generator retrains the SAME centroids from the parquet the DuckDB
    views read, assigns cells with the SAME shape-stable numpy routine the
    executor UDF runs (make_cell_assigner — bit-identical for any batch
    split), and injects the per-id corpus-cell / query-probe maps as
    VALUES literals. The SQL then replays candidate join + cosine top-k.
    Returns None (rows-only fallback) if the oracle testdata is absent."""
    import numpy as np

    from my_feast_spark.operators.similarity import (
        make_cell_assigner,
        train_ivf_centroids,
    )

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = t.column("embedding").to_pylist()  # float32 -> py float: exact widen
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    V = np.asarray([emb[i] for i in order], dtype=np.float64)

    centers = train_ivf_centroids(V[:sample_cap], num_centroids, seed=seed)
    assign = make_cell_assigner(centers)
    corpus_cell = assign(V, 1)[:, 0]
    qmask = ids < 20
    query_probes = assign(V[qmask], nprobe)

    cell_vals = ", ".join(
        f"({int(i)}, {int(c)})" for i, c in zip(ids, corpus_cell)
    )
    probe_vals = ", ".join(
        f"({int(i)}, {int(c)})"
        for i, row in zip(ids[qmask], query_probes)
        for c in row
    )
    return f"""
WITH cellmap(neighbor_id, cell) AS (VALUES {cell_vals}),
probes(query_id, cell) AS (VALUES {probe_vals}),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), j AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
               6) AS sim
  FROM c
  JOIN cellmap USING (neighbor_id)
  JOIN probes USING (cell)
  JOIN q USING (query_id)
  WHERE neighbor_id != query_id
), r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM j
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {k}
"""


SQL_IVF_TOPK = _LazySQL(_sql_ivf_topk)


# =========================================================================
# Structured Streaming (SURVEY §2.9): capture-window ingest semantics
# =========================================================================

def _event_stream(spark, sf_dir):
    """readStream over the events table with the nanos→micros normalization
    (same contract as sources.load_table, streaming edition)."""
    from my_feast_spark.streaming import read_event_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_event_stream(spark, sf_dir, path_glob="events.parquet")
    if "ts" in stream.columns and dict(stream.dtypes)["ts"] == "bigint":
        # integer div: float /1000 loses ulps on ns-scale epochs (> 2^53)
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def q_streaming_hourly_agg(spark, sf_dir):
    """Watermarked tumbling-window hourly aggregation as a STREAMING job,
    drained with Trigger.AvailableNow — the Spark-native replacement for
    the reference's Event-Hub-capture → batch-gold path (CASE.MD:98-107).
    Result is identical to the batch hourly gold build by construction."""
    from my_feast_spark.streaming import run_to_memory_table, tumbling_window_agg

    stream = _event_stream(spark, sf_dir)
    # ORDER-INDEPENDENT avg (the original _stable_round_avg instance):
    # at sf0.1 the last-ulp wobble of a double avg crossed a 4-decimal
    # round boundary in 3 hour groups (tri-scale sweep catch).
    agg = tumbling_window_agg(
        stream, "ts", "1 hour", ["event_type"],
        [
            _stable_round_avg("value", 4).alias("avg_value"),
            F.count(F.lit(1)).alias("cnt_events"),
        ],
        watermark_delay="2 hours",
    )
    out = run_to_memory_table(agg, spark, output_mode="complete")
    return out.select(
        F.col("bucket_ts").cast("timestamp_ntz").alias("bucket_ts"),
        "event_type", "avg_value", "cnt_events",
    )


SQL_STREAMING_HOURLY_AGG = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts, event_type,
       {_sql_stable_round_avg("value", 4)} AS avg_value,
       CAST(count(*) AS BIGINT) AS cnt_events
FROM events GROUP BY 1, 2
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming duplicate elimination with watermark-bounded state
    (ingest-time dedup of (user, hour) keys; the reference defers this to
    the batch PIT dedup — SURVEY §2.9)."""
    from my_feast_spark.streaming import run_to_memory_table, streaming_dedup

    stream = _event_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    )
    deduped = streaming_dedup(
        keyed, ["user_id"], ts_col="bucket_ts", watermark_delay="2 hours"
    )
    out = run_to_memory_table(deduped, spark, output_mode="append")
    return out.select(
        "user_id", F.col("bucket_ts").cast("timestamp_ntz").alias("bucket_ts")
    )


SQL_STREAMING_DEDUP = """
SELECT DISTINCT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts
FROM events
"""


def q_stream_capture_files(spark, sf_dir):
    """S11 end-to-end: the capture sink (streaming/ingest.py
    capture_to_parquet — the Spark-native stand-in for Event Hub
    Capture's 3-minute file windows, CASE.MD:107) drained with
    AvailableNow into a fresh directory, the captured files read back and
    aggregated. The oracle computes the same aggregate from the events
    view, so file capture is value-checked, not just smoke-run."""
    from my_feast_spark.streaming import capture_to_parquet

    stream = _event_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    out = _scratch_dir("mfs_capture_out_")
    ckpt = _scratch_dir("mfs_capture_ckpt_")
    q = capture_to_parquet(
        stream, out, ckpt, available_now=True, trigger_interval=None
    )
    if not q.awaitTermination(300):
        q.stop()
    cap = spark.read.parquet(out)
    return cap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_STREAM_CAPTURE_FILES = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q_streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator: gap-based sessionization via
    applyInPandasWithState (30-min inactivity gap). AvailableNow emits only
    CLOSED sessions (open tails stay in state), so the oracle excludes each
    user's final session."""
    from my_feast_spark.streaming import run_to_memory_table, sessionize

    stream = _event_stream(spark, sf_dir)
    sessions = sessionize(stream, gap_minutes=30)
    out = run_to_memory_table(sessions, spark, output_mode="append")
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


SQL_STREAMING_SESSIONIZE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sess
QUALIFY sess < max(sess) OVER (PARTITION BY user_id)
"""


def q_event_types_salted(spark, sf_dir):
    """Salted two-stage collect_set (the hot-key-safe form of A2's set
    aggregation): groupBy(key, salt) partial sets, then per-key union —
    result-identical to the direct aggregation."""
    from my_feast_spark.operators.skew import salted_collect_set

    events = _t(spark, sf_dir, "events")
    # '|'-joined scalar output: the driver canonicalizer cannot hash array
    # cells (round-1 red row); salted_collect_set itself keeps the array.
    return salted_collect_set(
        events, ["user_id"], "event_type", num_salts=8, out_col="event_types"
    ).withColumn("event_types", F.concat_ws("|", F.col("event_types")))


SQL_EVENT_TYPES_SALTED = """
SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types
FROM events GROUP BY user_id
"""


def q_datetime_functions(spark, sf_dir):
    """F1-F5: to_date / date_format hour-bucket string / unix_timestamp /
    from_unixtime round-trip — the reference's timestamp idioms
    (ingest_taxy.py:71; chicago_weather_hourly_fs.py:35-53)."""
    events = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    return events.select(
        "event_id",
        F.to_date("ts").alias("event_date"),
        F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour_str"),
        F.unix_timestamp(hour).alias("hour_epoch"),
        F.from_unixtime(F.unix_timestamp(hour), "yyyy-MM-dd HH:mm:ss").alias("hour_rt"),
    )


SQL_DATETIME_FUNCTIONS = """
SELECT event_id,
       CAST(ts AS DATE) AS event_date,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:00:00') AS hour_str,
       CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
       strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS hour_rt
FROM events
"""


def q_struct_flatten(spark, sf_dir):
    """F6+P2: JSON payload → typed struct → ``select("value.*")`` flatten
    (chicago_weather_bronze.py:43-45; chicago_weather_silver.py:17-18)."""
    from my_feast_spark.sources.readers import flatten_struct

    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_id", F.from_json("props", "struct<k:int>").alias("value")
    )
    return flatten_struct(parsed, "value", keep=["event_id"])


SQL_STRUCT_FLATTEN = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, event_id
FROM events
"""


def q_priority_collapse_types(spark, sf_dir):
    """U1 as a native expression: collect_set per user + priority collapse
    (purchase > signup > other) — the reference's precipitation UDF
    rewritten pushdown-friendly (chicago_weather_hourly_fs.py:22-29)."""
    from my_feast_spark.functions.scalar import priority_collapse

    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("types"))
        .select(
            "user_id",
            priority_collapse(F.col("types"), ["purchase", "signup"], "other")
            .alias("top_action"),
        )
    )


SQL_PRIORITY_COLLAPSE_TYPES = """
SELECT user_id,
       CASE WHEN list_contains(list(DISTINCT event_type), 'purchase') THEN 'purchase'
            WHEN list_contains(list(DISTINCT event_type), 'signup') THEN 'signup'
            ELSE 'other' END AS top_action
FROM events GROUP BY user_id
"""


def q_feature_store_retrieval(spark, sf_dir):
    """M1-M5 end-to-end: gold build → registry apply → FeatureStore.
    get_historical_features (the full API path, not the raw operator) —
    registry + gold table live in a scratch dir, the retrieval itself is
    the same PIT plan the oracle models."""
    from my_feast_spark.core import Entity, Feature, FeatureStore, FeatureView, FileSource

    events = _t(spark, sf_dir, "events")
    gold = (
        events.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(
            _stable_round_avg("value", 4).alias("avg_value"),
            F.count(F.lit(1)).alias("cnt_events"),
        )
    )
    scratch = _scratch_dir("mfs_store_")
    gold_path = f"{scratch}/gold"
    gold.write.mode("overwrite").parquet(gold_path)

    fs = FeatureStore(f"{scratch}/repo", spark=spark)
    fs.apply([
        Entity(name="user", value_type="INT64", join_keys=["user_id"]),
        FeatureView(
            name="user_hourly",
            entities=["user"],
            features=[Feature("avg_value", "DOUBLE"), Feature("cnt_events", "INT64")],
            source=FileSource(path=gold_path, timestamp_field="bucket_ts"),
            ttl=dt.timedelta(days=2),
        ),
    ])
    probes = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_timestamp")
    )
    out = fs.get_historical_features(
        probes, ["user_hourly:avg_value", "user_hourly:cnt_events"]
    ).to_spark_df()
    return out.select(
        "event_id", "user_id",
        F.col("event_timestamp").cast("timestamp_ntz").alias("event_timestamp"),
        "avg_value", "cnt_events",
    )


SQL_FEATURE_STORE_RETRIEVAL = f"""
WITH feat AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         {_sql_stable_round_avg("value", 4)} AS avg_value,
         CAST(count(*) AS BIGINT) AS cnt_events
  FROM events GROUP BY 1, 2
), probe AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS event_timestamp
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.event_id, p.user_id, p.event_timestamp,
         f.avg_value, f.cnt_events,
         row_number() OVER (PARTITION BY p.event_id ORDER BY f.bucket_ts DESC) AS rn
  FROM probe p
  LEFT JOIN feat f
    ON f.user_id = p.user_id
   AND f.bucket_ts <= p.event_timestamp
   AND f.bucket_ts >= p.event_timestamp - INTERVAL 2 DAY
)
SELECT event_id, user_id, event_timestamp, avg_value, cnt_events
FROM j WHERE rn = 1
"""


def _avro_capture_dir(sf_dir: str) -> str:
    """Build (once per sf_dir) an Event-Hub-capture-style Avro fixture:
    a bounded, deterministic events subset written as 4 container files
    (deflate, nullable-union props column) under the repo warehouse dir.
    Content-addressable: same input rows -> byte-identical files, so the
    cache never goes stale for the immutable testdata dirs."""
    import hashlib

    import pyarrow.parquet as pq

    from my_feast_spark.sources.avro_io import write_avro_file

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(repo_root, "spark-warehouse", f"avro_capture_{key}")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "user_id", "event_type", "value", "props"],
    )
    # the event_id bound keeps the driver-side fixture build O(1) in SF
    rows = sorted(
        (r for r in t.to_pylist() if r["event_id"] % 7 == 0 and r["event_id"] < 70000),
        key=lambda r: r["event_id"],
    )
    schema = {
        "type": "record",
        "name": "EventCapture",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "props", "type": ["null", "string"]},
        ],
    }
    n_files = 4
    for i in range(n_files):
        write_avro_file(
            os.path.join(out, f"part-{i}.avro"), schema, rows[i::n_files]
        )
    open(done, "w").close()
    return out


def q_avro_scan(spark, sf_dir):
    """S5 end-to-end: scan Event-Hub-capture-style Avro container files
    (sources.avro_io.avro_scan — native spark-avro when the jar is
    present, Spark-distributed pure-Python decode otherwise) and build
    the bronze→silver aggregate. The fixture is a deterministic events
    subset, so the DuckDB oracle computes the same aggregate straight
    from the events view — a full hash check on the decode path.
    Reference: chicago_weather_bronze.py:10-12."""
    from my_feast_spark.sources.avro_io import avro_scan

    cap = avro_scan(spark, _avro_capture_dir(sf_dir))
    return cap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count("props").alias("n_props"),
    )


SQL_AVRO_SCAN = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value,
       CAST(count(props) AS BIGINT) AS n_props
FROM events WHERE event_id % 7 = 0 AND event_id < 70000
GROUP BY 1
"""


def q_map_pivot_props(spark, sf_dir):
    """P3/F8/F9: JSON payload → map column → dynamic key discovery
    (explode/distinct/collect two-job op) → map-pivot to typed columns —
    the silver-layer schema-on-read idiom
    (chicago_taxi_trips_silver.ipynb:39-48)."""
    from my_feast_spark.sources.readers import map_pivot

    events = _t(spark, sf_dir, "events")
    mapped = events.select(
        "event_id", F.from_json("props", "map<string,string>").alias("props_map")
    )
    out = map_pivot(mapped, "props_map", keys=None, keep=["event_id"])
    # discovered keys become typed columns; the test corpus carries one key
    cols = [F.col(c).cast("int").alias(c) for c in out.columns if c != "event_id"]
    return out.select("event_id", *cols)


SQL_MAP_PIVOT_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_embedding_near_dupes_lsh(spark, sf_dir, *, deterministic=True):
    """LSH-blocked embedding near-dup (the corpus-scale path: sign-bucket
    equi-join replaces the N² self-join; precision 1, recall additionally
    measured against the exact query in tests). The hyperplane tables are
    deterministic (fixed seeds), so the DuckDB oracle replays the exact
    multi-table bucket join + verify — a full hash check, not rows-only.
    ``deterministic=False`` = BLAS-gemm bucketing (scale default; benched
    alongside — oracle runs keep the bit-deterministic reduction)."""
    from my_feast_spark.operators.similarity import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, num_planes=4,
        deterministic=deterministic,
    )


def _sql_embedding_near_dupes_lsh(
    *, threshold=0.4, num_planes=4, num_tables=8, dim=64, seed=42
) -> str:
    """The bucket ids are injected as per-id VALUES literals computed by
    the SAME shape-stable numpy routine the executor UDF runs
    (similarity.make_lsh_bucketer) — recomputing the hyperplane dots in
    SQL would fold them sequentially, and a dot within rounding distance
    of 0 could sign-flip vs the vectorized path, silently changing the
    candidate set. Returns None (rows-only) if the oracle testdata is
    absent."""
    import numpy as np

    from my_feast_spark.operators.similarity import _hyperplanes, make_lsh_bucketer

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    V = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)

    tables = [_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)]
    buckets = make_lsh_bucketer(tables)(V)  # (n, L)
    bucket_vals = ", ".join(
        "(" + ", ".join(str(int(x)) for x in (i, *row)) + ")"
        for i, row in zip(ids, buckets)
    )
    bcols = ", ".join(f"b{t}" for t in range(num_tables))
    any_table = " OR ".join(f"a.b{t} = b2.b{t}" for t in range(num_tables))
    return f"""
WITH bl(id, {bcols}) AS (VALUES {bucket_vals}),
e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT id, v, {bcols}
  FROM e JOIN bl USING (id)
)
SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
       round(list_inner_product(a.v, b2.v)
             / (sqrt(list_inner_product(a.v, a.v))
                * sqrt(list_inner_product(b2.v, b2.v))), 6) AS sim
FROM b a JOIN b b2 ON a.id < b2.id AND ({any_table})
WHERE round(list_inner_product(a.v, b2.v)
            / (sqrt(list_inner_product(a.v, a.v))
               * sqrt(list_inner_product(b2.v, b2.v))), 6) >= {threshold}
"""


SQL_EMBEDDING_NEAR_DUPES_LSH = _LazySQL(_sql_embedding_near_dupes_lsh)


def q_contamination_report(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 50 != 0) that
    share >= 1 distinct word 4-gram with the benchmark split
    (doc_id % 50 == 0). The benchmark shingle set is broadcast — the
    corpus side never shuffles on the shingle key."""
    from my_feast_spark.operators.decontamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_report(train, bench, "doc_id", "text", n=4)


SQL_CONTAMINATION_REPORT = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
  FROM toks WHERE len(t) >= 4
), tr AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0
), be AS (
  SELECT DISTINCT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0
)
SELECT tr.doc_id,
       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_hit_ngrams,
       CAST(count(DISTINCT be.bench_id) AS BIGINT) AS n_bench_docs
FROM tr JOIN be ON tr.g = be.g
GROUP BY tr.doc_id
HAVING count(DISTINCT tr.g) >= 1
"""


def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition signals + keep flag (map-only filter
    stage: no shuffle at any corpus size). The token array is projected
    ONCE and the measures are MATERIALIZED once per row behind an
    explode(array(struct(...))) Generate barrier (r16): ``keep``
    re-references two measures, and duplicated HOF expressions are
    re-evaluated per reference (CodegenFallback — no subexpression
    elimination), so deriving the flag from the materialized columns
    removes a second array_sort/2-gram pass per row (measured 1.16 ->
    0.80s full-eval at sf0.1). Values bit-identical."""
    from my_feast_spark.functions.text import repetition_features_arr, tokens

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    feats = repetition_features_arr(F.col("__ltoks"))
    measured = toked.select(
        "doc_id",
        F.explode(F.array(F.struct(
            feats["n_tokens"].alias("n_tokens"),
            feats["top_token_frac"].alias("top_token_frac"),
            feats["dup_2gram_frac"].alias("dup_2gram_frac"),
        ))).alias("__f"),
    )
    return measured.select(
        "doc_id",
        F.col("__f.n_tokens").alias("n_tokens"),
        F.col("__f.top_token_frac").alias("top_token_frac"),
        F.col("__f.dup_2gram_frac").alias("dup_2gram_frac"),
        (
            (F.col("__f.top_token_frac") <= 0.12)
            & (F.col("__f.dup_2gram_frac") <= 0.05)
        ).cast("int").alias("keep"),
    )


SQL_REPETITION_FILTER = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sig AS (
  SELECT doc_id, len(t) AS n,
    round(list_max(list_transform(list_distinct(t),
          x -> len(list_filter(t, y -> y = x)))) / greatest(len(t), 1), 4)
      AS top_token_frac,
    CASE WHEN len(t) < 2 THEN 0.0 ELSE
      round((len(t) - 1 - len(list_distinct(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i+1])))) / (len(t) - 1.0), 4)
    END AS dup_2gram_frac
  FROM toks
)
SELECT doc_id, CAST(n AS INT) AS n_tokens, top_token_frac, dup_2gram_frac,
       CAST(top_token_frac <= 0.12 AND dup_2gram_frac <= 0.05 AS INT) AS keep
FROM sig
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrubbing: deterministic synthetic PII (email / IPv4 / phone,
    gated per doc_id so counts vary) is appended in-query, then counted
    and redacted with the shared RE2-compatible patterns. The oracle
    replays the same augmentation + regex chain, verifying exact span
    replacement via the redacted-text md5. Per-row regexp_replace —
    map-only at any scale."""
    from my_feast_spark.functions.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email_part = F.when(
        did % 3 != 0,
        F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip_part = F.when(
        did % 2 == 0,
        F.concat(F.lit(" from 10.1."), (did % 256).cast("string"), F.lit(".7")),
    ).otherwise(F.lit(""))
    phone_part = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ),
    ).otherwise(F.lit(""))
    aug = F.concat(F.col("text"), email_part, ip_part, phone_part)
    counts = pii_counts(aug)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
        F.md5(F.encode(redact_pii(aug), "UTF-8")).alias("redacted_md5"),
    )


SQL_PII_REDACTION = r"""
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 <> 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 2 = 0
            THEN ' from 10.1.' || (doc_id % 256) || '.7' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-0199' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g')) AS redacted_md5
FROM aug
"""


def q_mixture_temperature(spark, sf_dir):
    """Temperature-based multilingual sampling weights (the mT5 / XLM-R
    recipe): raw token share p_l per language is flattened to
    w_l ∝ p_l^alpha and renormalized, boosting low-resource strata;
    expected per-language tokens under a 1M-token budget round out the
    mixing plan. alpha is pinned to 0.5 so the exponent is ``sqrt`` —
    IEEE-exactly-rounded in BOTH engines, unlike general ``pow`` whose
    last-ulp differences could flip a rounded digit in the oracle
    compare. Scale shape: corpus-wide map + one per-stratum
    aggregate; the share window runs over the few-row
    post-aggregation relation."""
    from my_feast_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w_all)
    flat = agg.withColumn("__w", F.sqrt(p)).withColumn(
        "token_share", F.round(p, 6)
    )
    share = F.col("__w") / F.sum("__w").over(w_all)
    return flat.select(
        "lang",
        "n_docs",
        "n_tokens",
        "token_share",
        F.round(share, 6).alias("sample_share"),
        F.round(share * 1_000_000, 0).cast("long").alias("expected_tokens"),
    )


SQL_MIXTURE_TEMPERATURE = """
WITH agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), flat AS (
  SELECT lang, n_docs, n_tokens,
         round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share,
         sqrt(n_tokens / sum(n_tokens) OVER ()) AS w
  FROM agg
)
SELECT lang, n_docs, n_tokens, token_share,
       round(w / sum(w) OVER (), 6) AS sample_share,
       CAST(round(w / sum(w) OVER () * 1000000, 0) AS BIGINT) AS expected_tokens
FROM flat
"""


def q_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection: word-5-grams shared by >= 3 distinct
    documents, ranked by document frequency — the cross-document
    repeated-span report (headers, footers, license blurbs) a curation
    pipeline uses to strip template text (the CCNet/RefinedWeb
    boilerplate pass). Reuses the dedup tier's shingle machinery:
    explode is map-only, document frequency is a countDistinct keyed on
    the shingle, the >= 3 filter drops the long tail BEFORE the top-k,
    and the top-30 lowers to TakeOrderedAndProject."""
    from my_feast_spark.functions.text import let, tokens

    n, min_docs = 5, 3

    def _shingles(t):
        # guard short docs inline (a projected-column filter would
        # re-inline the tokenization — this keeps ONE split() per row)
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(t, i + j) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode_outer(
            let(tokens(F.lower(F.col("text"))), _shingles)
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    return (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
        .limit(30)
    )


SQL_BOILERPLATE_NGRAMS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), ex AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
         AS shingle
  FROM toks WHERE len(t) >= 5
)
SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ex GROUP BY shingle HAVING count(DISTINCT doc_id) >= 3
ORDER BY n_docs DESC, shingle ASC LIMIT 30
"""


def q_global_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle layout: every document gets a
    (shard_id, shard_pos) from the portable hash of doc_id — the
    epoch-ordering pass that replaces ``orderBy(rand())`` with a
    reproducible permutation (same layout on re-run, on a different
    partitioning, or in the DuckDB oracle). One hash-exchange on the
    shard key + per-shard sort; no global total order anywhere —
    see operators/sampling.py::shuffle_layout."""
    from my_feast_spark.operators.sampling import shuffle_layout

    docs = _t(spark, sf_dir, "documents")
    return shuffle_layout(docs, "doc_id", n_shards=8, salt="shuffle").select(
        "doc_id", "shard_id", "shard_pos"
    )


SQL_GLOBAL_SHUFFLE = """
WITH h AS (
  SELECT doc_id,
         (md5_number_lower(CAST(doc_id AS VARCHAR) || ':shuffle')
          & 9223372036854775807) AS hv
  FROM documents
)
SELECT doc_id, CAST(hv % 8 AS INT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1
            AS BIGINT) AS shard_pos
FROM h
"""


def q_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup: an incoming batch (a deterministic
    ~20% hash-slice of the corpus, standing in for "today's crawl") is
    anti-joined on content fingerprint against the already-ingested
    base, keeping only genuinely new content — the production shape
    where dedup runs per-ingest against an accumulated fingerprint
    index instead of re-deduping the whole corpus. Scale shape: base
    fingerprints reduce to a distinct relation keyed on the join key
    (in production this IS the stored index scan), and LeftAnti
    shuffles only the small batch; AQE broadcasts whichever side is
    small enough."""
    from my_feast_spark.functions.text import doc_fingerprint
    from my_feast_spark.operators.sampling import RESOLUTION, sample_bucket

    threshold = RESOLUTION // 5
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        doc_fingerprint(F.col("text")).alias("fingerprint"),
        (sample_bucket(F.col("doc_id"), salt="incr") < threshold).alias(
            "__incoming"
        ),
    )
    base = fp.filter(~F.col("__incoming")).select("fingerprint").distinct()
    batch = fp.filter(F.col("__incoming"))
    return batch.join(base, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


SQL_INCREMENTAL_DEDUP = """
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
         CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':incr')
               & 9223372036854775807) % 1000000 AS BIGINT) < 200000 AS incoming
  FROM documents
)
SELECT doc_id, fingerprint FROM fp b
WHERE incoming AND NOT EXISTS (
  SELECT 1 FROM fp o WHERE NOT o.incoming AND o.fingerprint = b.fingerprint
)
"""


def q_column_profile(spark, sf_dir):
    """Per-column dataset profile of the orders table (null counts +
    distinct cardinalities) in ONE scan — the schema-health pass before
    training. exact=True here so the oracle verifies real numbers; the
    scale default is the HLL++ sketch — see
    operators/profile.py::column_profile."""
    from my_feast_spark.operators.profile import column_profile

    orders = _t(spark, sf_dir, "orders")
    return column_profile(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
         "o_totalprice", "o_orderdate"],
        exact=True,
    )


SQL_COLUMN_PROFILE = """
SELECT 'o_custkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct FROM orders
UNION ALL
SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
       count(DISTINCT o_orderdate) FROM orders
UNION ALL
SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
       count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority) FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice) FROM orders
"""


def q_stratum_ksample(spark, sf_dir):
    """Deterministic fixed-SIZE per-stratum sample: exactly the 10
    smallest-hash docs per language — eval-set construction, where a
    fixed RATE can't promise a count. One exchange on the stratum +
    per-stratum rank; selection is a pure function of doc_id so both
    engines (and any re-run) pick the identical rows — see
    operators/sampling.py::ksample_per_stratum."""
    from my_feast_spark.operators.sampling import ksample_per_stratum

    docs = _t(spark, sf_dir, "documents")
    return ksample_per_stratum(docs, "lang", "doc_id", 10).select(
        "lang", "doc_id", "source"
    )


SQL_STRATUM_KSAMPLE = """
WITH b AS (
  SELECT lang, doc_id, source,
         CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':ksample')
               & 9223372036854775807) % 1000000 AS BIGINT) AS bucket
  FROM documents
)
SELECT lang, doc_id, source FROM b
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) <= 10
"""


def q_profile_drift(spark, sf_dir):
    """A/B schema-drift report between two deterministic halves of the
    orders table (even vs odd order keys standing in for yesterday's
    vs today's batch): per-column null fractions and exact distinct
    cardinalities side by side with deltas — the pre-training data
    health check. Each side is one scan; the join is n_columns rows —
    see operators/profile.py::profile_drift."""
    from my_feast_spark.operators.profile import profile_drift

    orders = _t(spark, sf_dir, "orders")
    return profile_drift(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
        ["o_custkey", "o_orderstatus", "o_totalprice"],
        exact=True,
    )


SQL_PROFILE_DRIFT = """
WITH a AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
b AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
pa AS (
  SELECT 'o_custkey' AS col, count(*) AS nr,
         count(*) - count(o_custkey) AS nn,
         count(DISTINCT o_custkey) AS nd FROM a
  UNION ALL
  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus) FROM a
  UNION ALL
  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
         count(DISTINCT o_totalprice) FROM a
), pb AS (
  SELECT 'o_custkey' AS col, count(*) AS nr,
         count(*) - count(o_custkey) AS nn,
         count(DISTINCT o_custkey) AS nd FROM b
  UNION ALL
  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus) FROM b
  UNION ALL
  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
         count(DISTINCT o_totalprice) FROM b
)
SELECT pa.col AS "column",
       round(CAST(pa.nn AS DOUBLE) / pa.nr, 6) AS null_frac_a,
       round(CAST(pb.nn AS DOUBLE) / pb.nr, 6) AS null_frac_b,
       round(round(CAST(pb.nn AS DOUBLE) / pb.nr, 6)
             - round(CAST(pa.nn AS DOUBLE) / pa.nr, 6), 6) AS null_frac_delta,
       CAST(pa.nd AS BIGINT) AS n_distinct_a,
       CAST(pb.nd AS BIGINT) AS n_distinct_b,
       CAST(pb.nd - pa.nd AS BIGINT) AS n_distinct_delta
FROM pa JOIN pb ON pa.col = pb.col
"""


def q_train_val_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split: the assignment is a
    pure function of (doc_id, salt) via the portable hash bucket — the
    same key never changes split across runs, engines, or partition
    layouts, and a different salt draws an independent split. Summary
    per split (docs + token budget). Map-only assignment; the only
    shuffle is the 3-group aggregate."""
    from my_feast_spark.functions.text import token_count
    from my_feast_spark.operators.sampling import sample_bucket

    docs = _t(spark, sf_dir, "documents")
    b = sample_bucket(F.col("doc_id"), salt="split")
    split = (
        F.when(b < 800_000, F.lit("train"))
        .when(b < 900_000, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), token_count(F.col("text")).alias("__nt"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
        )
    )


SQL_TRAIN_VAL_SPLIT = """
WITH b AS (
  SELECT CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':split')
               & 9223372036854775807) % 1000000 AS BIGINT) AS bucket,
         len(string_split_regex(trim(text), '\\s+')) AS nt
  FROM documents
)
SELECT CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


def q_sequence_packing(spark, sf_dir):
    """Sequence packing (concat-and-cut): chunks are laid out in a
    deterministic stream order per shard (doc_id % 8 buckets), the
    running token offset is a window cumsum, and a chunk belongs to the
    pack containing its first token (floor(offset / 2048)) — exactly the
    concatenate-then-split-every-seq_len layout LLM training uses.
    Output: per (shard, pack) chunk/token counts and doc-id range.

    Scale shape: one shuffle keyed on the shard bucket; the cumsum is a
    running window WITHIN each shard (at corpus scale use thousands of
    shards, each a few GB — packs never need a global order); the final
    aggregate re-uses the same shard partitioning."""
    from pyspark.sql import Window

    from my_feast_spark.functions.text import chunk_token_array, tokens

    docs = _t(spark, sf_dir, "documents")
    chunks = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            F.explode_outer(
                chunk_token_array(tokens(F.col("text")), size=50, stride=50)
            ).alias("c"),
        )
        .filter(F.col("c").isNotNull())
        .select("doc_id", "shard", F.col("c.start").alias("start"),
                F.col("c.n_tokens").alias("n_tokens"))
    )
    w = Window.partitionBy("shard").orderBy("doc_id", "start")
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = chunks.withColumn("pack_id", F.floor(offset / 2048))
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


SQL_SEQUENCE_PACKING = """
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), chunks AS (
  SELECT doc_id, shard,
         CAST(u AS BIGINT) AS start,
         least(50, len(t) - u) AS n_tokens
  FROM toks, unnest(range(0,
       CASE WHEN len(t) <= 50 THEN 1
            ELSE ((len(t) - 50 + 49) // 50) * 50 + 1 END, 50)) AS r(u)
), offs AS (
  SELECT doc_id, shard, start, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, start
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS off
  FROM chunks
)
SELECT shard, CAST(floor(off / 2048) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM offs GROUP BY 1, 2
"""


def q_packed_sequences(spark, sf_dir):
    """The TRAINING-READY output of sequence packing: per (shard, pack)
    the actual packed token-ID stream — ``q_sequence_packing``'s layout
    (same shards, same per-shard running-offset pack assignment)
    composed with the vocabulary encode (top-20 vocab, OOV -> -1),
    verified by an order-sensitive digest of the concatenated ids.

    Scale shape: encode + chunking are map-only (the id array is
    ``let``-bound, so the vocab transform runs once per doc, not once
    per chunk); the only shuffles are the per-SHARD window cumsum and
    the (shard, pack) re-aggregation — no global order, no corpus-wide
    window, same as the accounting query. Pack reassembly sorts each
    pack's own chunk list (bounded: seq_len/chunk_size structs)."""
    from my_feast_spark.functions.text import chunk_array, let, tokens
    from my_feast_spark.operators.vocab import token_vocabulary

    size, seq_len = 50, 2048
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    vocab = {
        r.token: r.id
        for r in token_vocabulary(toked, "__ltoks", 20).collect()
    }
    vmap = F.create_map(*[F.lit(x) for kv in vocab.items() for x in kv])
    ids_expr = F.transform(
        F.col("__ltoks"), lambda t: F.coalesce(vmap[t], F.lit(-1))
    )
    chunks = (
        toked.select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            F.explode_outer(
                let(ids_expr,
                    lambda ids: chunk_array(ids, size=size, stride=size))
            ).alias("c"),
        )
        .filter(F.col("c").isNotNull())
        .select("doc_id", "shard", F.col("c.start").alias("start"),
                F.col("c.chunk").alias("chunk_ids"))
    )
    w = Window.partitionBy("shard").orderBy("doc_id", "start")
    n = F.size("chunk_ids")
    offset = F.sum(n).over(w) - n
    packed = chunks.withColumn("pack_id", F.floor(offset / seq_len))
    stream = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "start", "chunk_ids"))),
            lambda s: F.transform(s["chunk_ids"], lambda i: i.cast("string")),
        )
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(n).alias("n_tokens"),
        F.md5(F.encode(F.concat_ws(",", stream), "UTF-8")).alias("ids_md5"),
    )


SQL_PACKED_SEQUENCES = """
WITH tok AS (
  SELECT doc_id, doc_id % 8 AS shard,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), vocab AS (
  SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS INT) AS id
  FROM (
    SELECT token, count(*) AS n
    FROM (SELECT unnest(t) AS token FROM tok)
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
  )
), flat AS (
  SELECT doc_id, shard, CAST(i AS BIGINT) AS ord, t[i] AS token
  FROM tok, unnest(range(1, len(t) + 1)) AS r(i)
), enc AS (
  SELECT f.doc_id, f.shard, f.ord, COALESCE(v.id, -1) AS id
  FROM flat f LEFT JOIN vocab v USING (token)
), chunks AS (
  -- stride = size = 50: chunk start of a token is (ord-1) // 50 * 50,
  -- exactly chunk_array's non-overlapping window starts
  SELECT doc_id, shard, CAST((ord - 1) // 50 * 50 AS INT) AS start,
         list(id ORDER BY ord) AS ids, count(*) AS n
  FROM enc GROUP BY 1, 2, 3
), offs AS (
  SELECT doc_id, shard, start, ids, n,
         sum(n) OVER (PARTITION BY shard ORDER BY doc_id, start
                      ROWS UNBOUNDED PRECEDING) - n AS off
  FROM chunks
)
SELECT shard, CAST(floor(off / 2048) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(ids, ','), ',' ORDER BY doc_id, start)) AS ids_md5
FROM offs GROUP BY 1, 2
"""


def q_curation_pipeline_full(spark, sf_dir, *, hash_fn="portable"):
    """EVERY curation stage in one plan: exact dedup -> benchmark
    decontamination (4-gram overlap vs the doc_id%50==0 eval split) ->
    MinHash-LSH near-dup clustering with per-cluster representative
    pruning -> NB quality-classifier filter (GPT-3/CCNet recipe: the
    eval split stands in as the trusted reference class, the deduped
    crawl as negative; a doc drops when its evidence — log-odds minus
    the class prior — falls at or below
    ``CurationConfig.nb_evidence_cut``, -4.0 here) -> repetition
    filter -> stratified sample -> accounting. This is
    ``operators/curation.curate`` with the decontamination, near-dup,
    and NB stages on (the round-8 Gopher gate stays off here — its
    rules are adjudicated standalone by gopher_quality_filter and
    exercised in curate() by the demo + test_curation);
    the oracle replays the whole chain — the banded-LSH pipeline, a
    recursive-CTE connected components, AND the NB count/llr scoring —
    hash-for-hash (portable hash family for replayability; the 100 TB
    run flips ``near_dup_hash_fn`` to xxhash64 — bench times that
    variant too).

    Scale shape: one corpus shuffle (dedup window); decontamination adds
    a broadcast semi-join vs the (tiny) benchmark shingle set + one
    re-agg on the hit subset; near-dup adds the banded bucket joins over
    the deduped corpus; NB adds one count aggregation + a broadcast llr
    join; everything resolves into one anti-join against the (small)
    dropped-id set; repetition/sample stay map-only."""
    from my_feast_spark.operators.curation import CurationConfig, curate

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    cfg = CurationConfig(
        sample_rates={"en": 0.3, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5},
        decontaminate_ngram=4,
        near_dup="minhash",
        near_dup_hash_fn=hash_fn,
        nb_quality=True,
    )
    return curate(train, cfg, benchmark_df=bench, quality_reference_df=bench)


SQL_CURATION_PIPELINE_FULL = f"""
WITH RECURSIVE
fp0 AS (
  SELECT doc_id, lang, text,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents WHERE doc_id % 50 <> 0
),
dedup AS MATERIALIZED (
  SELECT doc_id, lang, text FROM fp0
  QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
),
dtoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM dedup
),
dsh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
  FROM dtoks WHERE len(t) >= 4
),
btoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 50 = 0
),
bsh AS MATERIALIZED (
  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS g
  FROM btoks WHERE len(t) >= 4
),
contaminated AS MATERIALIZED (
  SELECT DISTINCT d.doc_id
  FROM (SELECT doc_id, unnest(s) AS g FROM dsh) d JOIN bsh USING (g)
),
decont AS MATERIALIZED (
  SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
nbsrc AS (
  SELECT TRUE AS pos, string_split_regex(trim(lower(text)), '\\s+') AS lt
  FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT FALSE, string_split_regex(trim(lower(text)), '\\s+') FROM dedup
),
nbcnt AS MATERIALIZED (
  SELECT token,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM (SELECT pos, unnest(lt) AS token FROM nbsrc) GROUP BY token
),
nbtot AS (
  SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
         CAST(sum(c_neg) AS BIGINT) AS t_neg, count(*) AS v
  FROM nbcnt
),
nbpri AS (
  SELECT log2(CAST((SELECT count(*) FROM documents WHERE doc_id % 50 = 0)
                   AS DOUBLE)
              / (SELECT count(*) FROM dedup)) AS prior
),
nbdrop AS MATERIALIZED (
  -- drop rule mirrors curate(): EVIDENCE = round(log_odds,4) - prior,
  -- re-rounded to 4, at or below the configured cut (-4.0) — the same
  -- double chain the Spark side computes, so partial-sum order can't
  -- flip a boundary doc
  SELECT doc_id FROM (
    SELECT s.doc_id, any_value(nbpri.prior) AS prior,
           round(any_value(nbpri.prior)
                 + sum(log2((c.c_pos + 0.5) / (nbtot.t_pos + 0.5 * (nbtot.v + 1)))
                       - log2((c.c_neg + 0.5) / (nbtot.t_neg + 0.5 * (nbtot.v + 1)))),
                 4) AS log_odds
    FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
          FROM dedup) s
    JOIN nbcnt c USING (token) CROSS JOIN nbtot CROSS JOIN nbpri
    GROUP BY s.doc_id
  ) WHERE round(log_odds - prior, 4) <= -4.0
),
pairs AS ({_sql_minhash_dup_pairs(source="decont")}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.id
),
clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY 1),
pruned AS (
  SELECT * FROM decont
  WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
    AND doc_id NOT IN (SELECT doc_id FROM nbdrop)
),
ptoks AS (
  SELECT doc_id, lang,
         string_split_regex(trim(lower(text)), '\\s+') AS t,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM pruned
),
clean AS (
  SELECT doc_id, lang, n_tokens FROM ptoks
  WHERE round(list_max(list_transform(list_distinct(t),
            x -> len(list_filter(t, y -> y = x)))) / greatest(len(t), 1), 4)
        <= 0.12
    AND (CASE WHEN len(t) < 2 THEN 0.0 ELSE
          round((len(t) - 1 - len(list_distinct(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])))) / (len(t) - 1.0), 4)
         END) <= 0.05
),
sampled AS (
  SELECT doc_id, lang, n_tokens FROM clean
  WHERE CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':mix')
              & 9223372036854775807) % 1000000 AS BIGINT)
        < CASE lang WHEN 'en' THEN 300000
                    WHEN 'de' THEN 500000 WHEN 'es' THEN 500000
                    WHEN 'fr' THEN 500000 WHEN 'zh' THEN 500000
                    ELSE 0 END
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       CAST(CASE WHEN n_tokens <= 50 THEN 1
                 ELSE CAST(floor((n_tokens - 50 + 24) / 25) AS BIGINT) + 1
            END AS INT) AS n_chunks
FROM sampled
"""


def q_scd2_user_state(spark, sf_dir):
    """SCD Type-2 state-history build: collapse each user's event stream
    into ``(state, valid_from, valid_to, is_current)`` intervals — the
    slowly-changing-dimension table a feature store materializes so PIT
    retrieval becomes a plain range predicate instead of an as-of join
    (the batch-gold state table the reference's notebook pipelines imply;
    see asof_join.py for the query-time equivalent). Scale shape: ONE
    shuffle on user_id; the change-point filter and the lead() that
    closes each interval stack on the same (user_id, ts) sort order, so
    Catalyst reuses the Exchange and only re-sorts the (smaller)
    filtered relation. Ties broken by event_id so both engines collapse
    identically."""
    from my_feast_spark.operators.aggregations import scd2_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_intervals(
        ev, ["user_id"], "ts", "event_type", tie_breakers=["event_id"]
    )


SQL_SCD2_USER_STATE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
chg AS (
  -- null-safe change predicate mirroring scd2_intervals: IS DISTINCT
  -- FROM treats a NULL state as an ordinary value; rn = 1 opens the
  -- first interval even when its state is NULL
  SELECT user_id, ts, event_id, event_type FROM e
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM chg
"""


def q_token_pmi(spark, sf_dir):
    """Pointwise mutual information of adjacent token pairs — the
    collocation / phrase-mining signal (Mikolov-style word2vec phrase
    joining uses exactly this count ratio) a tokenizer-training pipeline
    computes next to the raw BPE pair counts. Scale shape: the corpus
    is scanned exactly TWICE — one hash aggregate for unigram counts,
    one for pair counts (both map-side-combining on power-law keys) —
    and both count relations are persisted (vocab-sized, NOT
    corpus-sized), so the grand totals and the two unigram joins read
    the caches instead of re-running the scans (Catalyst does not
    reuse a shuffle across separate actions; without the persist this
    query pays 5 corpus scans). The caches are exposed via
    ``_owned_caches`` per the repo cache-ownership rule. The top-k
    lowers to TakeOrderedAndProject keyed on the exact integer counts —
    PMI itself is reported rounded but never drives the ordering, so
    float formatting can't flip rows."""
    from my_feast_spark.functions.text import adjacent_pairs, let, tokens

    min_pair = 20
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode_outer(tokens(F.lower(F.col("text")))).alias("tok")
    ).filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok")).persist()
    n_toks = uni.agg(F.sum("n_tok").alias("total_toks"))

    pairs = docs.select(
        F.explode_outer(
            let(tokens(F.lower(F.col("text"))), adjacent_pairs)
        ).alias("pr")
    ).filter(F.col("pr").isNotNull())
    pc = pairs.groupBy(
        F.col("pr.a").alias("tok_a"), F.col("pr.b").alias("tok_b")
    ).agg(
        F.count(F.lit(1)).alias("n_pair")
    ).persist()
    n_pairs = pc.agg(F.sum("n_pair").alias("total_pairs"))

    out = (
        pc.filter(F.col("n_pair") >= min_pair)
        .join(F.broadcast(uni.withColumnRenamed("tok", "tok_a")
                          .withColumnRenamed("n_tok", "n_a")), "tok_a")
        .join(F.broadcast(uni.withColumnRenamed("tok", "tok_b")
                          .withColumnRenamed("n_tok", "n_b")), "tok_b")
        .crossJoin(F.broadcast(n_toks))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "tok_a",
            "tok_b",
            "n_pair",
            F.round(
                F.log2(
                    (F.col("n_pair") / F.col("total_pairs"))
                    / (
                        (F.col("n_a") / F.col("total_toks"))
                        * (F.col("n_b") / F.col("total_toks"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(40)
    )
    out._owned_caches = [uni, pc]
    return out


SQL_TOKEN_PMI = """
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
),
uni AS (
  -- mirror the Spark side's empty-token filter: splitting an empty or
  -- whitespace-only document yields [''], which must not count
  SELECT u AS tok, count(*) AS n_tok
  FROM (SELECT unnest(t) AS u FROM tok) WHERE u <> '' GROUP BY 1
),
tot AS (SELECT sum(n_tok) AS total_toks FROM uni),
pr AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
         i -> struct_pack(tok_a := t[i], tok_b := t[i+1]))) AS p
  FROM tok WHERE len(t) >= 2
),
pc AS (
  SELECT p.tok_a AS tok_a, p.tok_b AS tok_b, count(*) AS n_pair
  FROM pr GROUP BY 1, 2
),
ptot AS (SELECT sum(n_pair) AS total_pairs FROM pc)
SELECT pc.tok_a, pc.tok_b, CAST(n_pair AS BIGINT) AS n_pair,
       round(log2((n_pair / total_pairs) /
                  ((a.n_tok / total_toks) * (b.n_tok / total_toks))), 4)
         AS pmi
FROM pc
JOIN uni a ON pc.tok_a = a.tok
JOIN uni b ON pc.tok_b = b.tok
CROSS JOIN tot CROSS JOIN ptot
WHERE n_pair >= 20
ORDER BY n_pair DESC, tok_a ASC, tok_b ASC LIMIT 40
"""


def q_inverted_index(spark, sf_dir):
    """Inverted-index build with capped postings: token -> exact
    document frequency + the first 50 doc_ids (sorted). The capped
    shape is the scale-correct one — a hot token's full posting list is
    corpus-sized, so the cap is applied BEFORE materializing any array:
    df is a plain count aggregate (map-side combine), and the postings
    come from a row_number window that keeps <= 50 rows per token
    before collect_list ever runs, so no executor holds an unbounded
    array. (A production index would shard hot postings by
    (token, doc_id range); this query is one shard's build.) Both
    aggregates share the (doc_id, token) explode and join broadcast on
    the vocab-sized df table."""
    from my_feast_spark.functions.text import tokens

    cap = 50
    docs = _t(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(tokens(F.lower(F.col("text"))))
        ).alias("token"),
    ).filter(F.col("token").isNotNull() & (F.col("token") != ""))
    df_counts = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("token").orderBy("doc_id")
    capped = (
        dt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .groupBy("token")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("__postings"))
    )
    # postings rendered as a CSV string: the adjudication harness
    # value-hashes scalar columns (repo convention — every array-shaped
    # result ships as a deterministic string/digest)
    return (
        capped.join(F.broadcast(df_counts), "token")
        .select(
            "token", "df",
            F.concat_ws(",", F.col("__postings")).alias("postings"),
        )
    )


SQL_INVERTED_INDEX = """
WITH dt AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
           AS token
  FROM documents
),
dtn AS (SELECT doc_id, token FROM dt WHERE token IS NOT NULL AND token <> ''),
dfc AS (SELECT token, count(*) AS df FROM dtn GROUP BY 1),
capped AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM dtn
)
SELECT c.token, CAST(dfc.df AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM capped c JOIN dfc ON c.token = dfc.token
WHERE rn <= 50
GROUP BY c.token, dfc.df
"""


def q_span_removal(spark, sf_dir):
    """Cross-document repeated-span REMOVAL (Lee et al. exact-substring
    dedup at n-gram granularity, operators/span_dedup.py): every 5-gram
    span occurring in >1 distinct documents is cut, overlapping cuts
    merge, text is rebuilt from the complement. Scale shape: the n-gram
    shuffle carries 8-byte xxhash64 values (never text), the hot set is
    the FILTERED df>1 relation (semi-join prune, AQE-broadcastable),
    the interval merge + rebuild are per-doc folds. The oracle replays
    the pipeline on n-gram STRINGS — grouping by the hash and by the
    gram text agree absent 64-bit collisions."""
    from my_feast_spark.operators.span_dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, "doc_id", "text", n=5, max_docs=1).select(
        "doc_id",
        F.col("n_cut_tokens").cast("long").alias("n_cut_tokens"),
        "clean_text",
    )


SQL_SPAN_REMOVAL = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS rt,
         string_split_regex(trim(lower(text)), '\s+') AS lt
  FROM documents
),
g AS (
  SELECT doc_id, CAST(u.pos AS INTEGER) AS pos,
         array_to_string(lt[u.pos:u.pos+4], ' ') AS gram
  FROM t, UNNEST(generate_series(1, len(lt) - 4)) AS u(pos)
  WHERE len(lt) >= 5
),
hot AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
),
cutpos AS (
  SELECT DISTINCT g.doc_id, CAST(u.p AS INTEGER) AS p
  FROM g JOIN hot USING (gram), UNNEST(generate_series(g.pos, g.pos + 4)) AS u(p)
),
tok AS (
  SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, rt[CAST(u.pos AS INTEGER)] AS w
  FROM t, UNNEST(generate_series(1, len(rt))) AS u(pos)
),
kept AS (
  SELECT k.doc_id, k.pos, k.w
  FROM tok k LEFT JOIN cutpos c ON k.doc_id = c.doc_id AND k.pos = c.p
  WHERE c.p IS NULL
),
agg AS (
  SELECT doc_id, array_to_string(list(w ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
),
ncut AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_tokens
  FROM cutpos GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(n.n_cut_tokens, 0) AS n_cut_tokens,
       coalesce(a.clean_text, '') AS clean_text
FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN ncut n USING (doc_id)
"""


def q_bpe_merge_replay(spark, sf_dir, *, rounds=16, top_words=500):
    """BPE end-to-end: train ``rounds`` merges on the corpus (one
    distributed word-frequency pass + the in-process merge loop), then
    encode the top-``top_words`` most frequent words with the
    pure-expression merge replay (operators/bpe.py::apply_bpe_merges).
    The oracle retrains the merge list with the SAME pure-Python loop
    the pytest reference validates (test_bpe.py) over the oracle
    parquet and injects each word's expected encoding as VALUES
    literals — so the driver hash adjudicates the Spark expression
    fold, the word counts, and the top-k against an independent
    in-process replay (the deterministic-literals oracle pattern of
    embedding_near_dupes_lsh).

    BMP note: the char-split here (and the oracle's Python iteration)
    agree per the bpe.py module docstring only for BMP text — the
    oracle generator tokenizes on ASCII whitespace and the testdata
    corpus is BMP, so both sides split identically by construction."""
    from my_feast_spark.functions.text import tokens
    from my_feast_spark.operators.bpe import (
        EOW,
        apply_bpe_merges,
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", rounds=rounds)
    words = (
        docs.select(
            F.explode_outer(tokens(F.lower(F.col("text")))).alias("word")
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
        .limit(top_words)
    )
    start = F.concat(
        F.filter(F.split(F.col("word"), "(?!^)"), lambda x: x != ""),
        F.array(F.lit(EOW)),
    )
    return words.select(
        "word",
        "n_occurrences",
        F.concat_ws(" ", apply_bpe_merges(start, merges)).alias("bpe"),
    )


def _sql_bpe_merge_replay(*, rounds=16, top_words=500) -> str | None:
    """Oracle generator: pure-Python word counts + merge training +
    merge-order replay over the oracle parquet, emitted as VALUES
    literals. Returns None (rows-only check) if the oracle testdata is
    absent."""
    import re
    from collections import Counter

    from my_feast_spark.operators.bpe import EOW, _merge_loop_local, _merge_word

    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    wc: Counter = Counter()
    # ASCII \s and space-only strip: Python's re is Unicode-aware while
    # Spark's split()/trim() are ASCII-\s / space-only — a U+00A0 in a
    # document would otherwise tokenize differently between the engine
    # and this generator
    for txt in pq.read_table(path, columns=["text"]).column("text").to_pylist():
        for w in re.split(r"\s+", txt.strip(" ").lower(), flags=re.ASCII):
            if w:
                wc[w] += 1
    merges = _merge_loop_local(
        {tuple(w) + (EOW,): n for w, n in wc.items()}, rounds, 2
    )
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:top_words]

    def enc(word: str) -> str:
        sym = tuple(word) + (EOW,)
        for m in merges:
            sym = _merge_word(sym, m["left"], m["right"])
        return " ".join(sym)

    def q(s: str) -> str:
        return s.replace("'", "''")

    vals = ", ".join(f"('{q(w)}', {n}, '{q(enc(w))}')" for w, n in top)
    return (
        "SELECT word, CAST(n_occurrences AS BIGINT) AS n_occurrences, bpe "
        f"FROM (VALUES {vals}) AS v(word, n_occurrences, bpe)"
    )


SQL_BPE_MERGE_REPLAY = _LazySQL(_sql_bpe_merge_replay)


def q_nb_quality_score(spark, sf_dir):
    """Naive-Bayes quality-classifier scoring (operators/classifier.py)
    — the linear reference-vs-crawl filter of the GPT-3/PaLM data
    recipes, with lang='en' standing in as the reference class. ONE
    training pass (per-token class counts — the model IS a vocab-sized
    aggregate), then scoring = token explode + broadcast llr join + one
    hash agg per doc. Self-scoring the training corpus keeps the oracle
    self-contained (OOV fallback covered by tests); log-odds rounds to
    4 before the sign decision so engines can't split on a float
    boundary."""
    from my_feast_spark.operators.classifier import score_nb, train_nb

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("__pos", F.col("lang") == "en")
    model = train_nb(labeled, "text", "__pos")
    out = score_nb(docs, "doc_id", "text", model)
    out._owned_caches = list(model.token_llr._owned_caches)
    return out


SQL_NB_QUALITY_SCORE = r"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS pos,
         string_split_regex(trim(lower(text)), '\s+') AS lt
  FROM documents
),
tok AS (SELECT doc_id, pos, unnest(lt) AS token FROM t),
cnt AS (
  SELECT token,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM tok GROUP BY token
),
tot AS (
  SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
         CAST(sum(c_neg) AS BIGINT) AS t_neg,
         count(*) AS v
  FROM cnt
),
pri AS (
  SELECT log2(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)) AS prior
  FROM documents
),
scored AS (
  SELECT s.doc_id,
         round(any_value(pri.prior)
               + sum(log2((c.c_pos + 0.5) / (tot.t_pos + 0.5 * (tot.v + 1)))
                     - log2((c.c_neg + 0.5) / (tot.t_neg + 0.5 * (tot.v + 1)))),
               4) AS log_odds,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok s JOIN cnt c USING (token) CROSS JOIN tot CROSS JOIN pri
  GROUP BY s.doc_id
)
SELECT doc_id, log_odds, n_tokens,
       CAST(log_odds > 0 AS INTEGER) AS pred
FROM scored
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup — semantic dedup by k-means cell blocking (Abbas et al.
    2023; operators/similarity.py::semdedup): embeddings cluster into
    cells, cosine compares ONLY within a cell, any doc with a lower-id
    same-cell neighbor >= threshold drops. The cell index build is a
    pure function of the id-ordered capped sample + fixed seed, so the
    oracle retrains the SAME centroids and injects the per-id cell map
    as VALUES literals (the ivf_topk pattern), then replays the
    within-cell pair join and keep policy exactly."""
    from my_feast_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, "vec_id", "embedding", num_cells=16, threshold=0.4)
    caches = out._owned_caches
    out = out.select(F.col("id").alias("vec_id"), "cell", "keep")
    out._owned_caches = caches
    return out


def _sql_semdedup(*, num_cells=16, threshold=0.4, seed=42, sample_cap=4096):
    """Oracle generator for q_semdedup: retrain the deterministic cell
    index from the oracle parquet (same numpy routines the executor UDF
    runs), inject the id->cell map as literals, replay pairs + keep.
    Returns None (rows-only) if the oracle testdata is absent."""
    import numpy as np

    from my_feast_spark.operators.similarity import (
        make_cell_assigner,
        train_ivf_centroids,
    )

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = t.column("embedding").to_pylist()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    V = np.asarray([emb[i] for i in order], dtype=np.float64)
    centers = train_ivf_centroids(V[:sample_cap], num_cells, seed=seed)
    cells = make_cell_assigner(centers)(V, 1)[:, 0]
    cell_vals = ", ".join(f"({int(i)}, {int(c)})" for i, c in zip(ids, cells))
    return f"""
WITH cellmap(id, cell) AS (VALUES {cell_vals}),
e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c AS (SELECT id, v, cell FROM e JOIN cellmap USING (id)),
dropped AS (
  SELECT DISTINCT b.id
  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
  WHERE round(list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(b.v, b.v))), 6) >= {threshold}
)
SELECT c.id AS vec_id, c.cell, (d.id IS NULL) AS keep
FROM c LEFT JOIN dropped d ON c.id = d.id
"""


SQL_SEMDEDUP = _LazySQL(_sql_semdedup)


def q_pq_topk(spark, sf_dir, *, deterministic=True, n_queries=20):
    # NOTE: the oracle (SQL_PQ_TOPK) covers the DEFAULT n_queries=20
    # only — the parameter exists for bench scaling, never for
    # oracle comparison at other values
    """Product-quantization ANN (operators/pq.py): per-subspace
    codebooks trained on the bounded id-ordered sample, corpus encoded
    to m=8 k=16 codes in one Arrow pass (the compressed relation a
    100 TB search tier keeps hot — 8 ints per vector), asymmetric-
    distance top-5 as a pure-expression fold over broadcast per-query
    lookup tables. The oracle retrains the same codebooks, re-encodes
    with the same shape-stable numpy routine, builds the SAME lut
    doubles, and injects codes+luts as literals — DuckDB then replays
    the fold (same left-to-right summation order), the self-exclusion,
    and the (dist, id) tie order."""
    from my_feast_spark.operators.pq import pq_encode, pq_topk, train_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb, "embedding", "vec_id", m=8, k=16)
    codes = pq_encode(
        emb, "vec_id", "embedding", cb, deterministic=deterministic
    ).select(F.col("vec_id").alias("corpus_id"), "codes")
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(q, codes, cb, k=5)


def _sql_pq_topk(*, m=8, k=16, topk=5, seed=42, sample_cap=4096):
    """Oracle generator for q_pq_topk: same deterministic index build,
    codes and per-query luts injected as VALUES literals (repr floats
    round-trip exactly), ADC replayed as an explicit in-order 8-term
    sum. Returns None (rows-only) if the oracle testdata is absent."""
    import numpy as np

    from my_feast_spark.operators.pq import (
        make_pq_encoder,
        query_luts,
        train_pq_codebooks,
    )

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813 - operator module is `pq`

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = t.column("embedding").to_pylist()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    V = np.asarray([emb[i] for i in order], dtype=np.float64)

    # train on a DataFrame-free replica of train_pq_codebooks: id-ordered
    # capped sample, same normalization, same per-subspace seeds
    from my_feast_spark.operators.similarity import train_ivf_centroids

    X = V[:sample_cap].copy()
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dsub = X.shape[1] // m
    cb = np.stack([
        train_ivf_centroids(
            np.ascontiguousarray(X[:, j * dsub:(j + 1) * dsub]), k,
            seed=seed + j,
        )
        for j in range(m)
    ])
    codes = make_pq_encoder(cb)(V)
    qmask = ids < 20
    luts = query_luts(cb, V[qmask])

    code_vals = ", ".join(
        "(" + ", ".join(str(int(x)) for x in (i, *row)) + ")"
        for i, row in zip(ids, codes)
    )
    # CAST the literal list to DOUBLE[]: DuckDB types bare float literals
    # as DECIMAL and the whole ADC fold would run in decimal arithmetic,
    # diverging from Spark's double fold
    lut_vals = ", ".join(
        f"({int(i)}, CAST(["
        + ", ".join(repr(float(x)) for x in row)
        + "] AS DOUBLE[]))"
        for i, row in zip(ids[qmask], luts)
    )
    ccols = ", ".join(f"c{j}" for j in range(m))
    adc = " + ".join(f"l.lut[{j} * {k} + c.c{j} + 1]" for j in range(m))
    return f"""
WITH codes(corpus_id, {ccols}) AS (VALUES {code_vals}),
luts(query_id, lut) AS (VALUES {lut_vals}),
d AS (
  SELECT l.query_id, c.corpus_id AS neighbor_id,
         round({adc}, 6) AS adc_dist
  FROM codes c CROSS JOIN luts l
  WHERE c.corpus_id != l.query_id
),
r AS (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM d
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {topk}
"""


SQL_PQ_TOPK = _LazySQL(_sql_pq_topk)


def q_ivfpq_topk(spark, sf_dir, *, deterministic=True, n_queries=20):
    # NOTE: the oracle (SQL_IVFPQ_TOPK) covers the DEFAULT n_queries=20
    # only — the parameter exists for bench scaling, never for
    # oracle comparison at other values
    """IVFADC — the IVF x PQ composition (operators/pq.py::ivfpq_topk):
    coarse k-means cells prune the candidate set to ``nprobe`` cells per
    query, PQ codes + the broadcast per-query lookup tables compute the
    asymmetric distance inside them. This is the billion-vector search
    structure (Jégou 2011) for which ``pq_topk``'s exhaustive ADC scan
    is the verification baseline: same codes, same luts, same
    pure-expression fold — the only new element is the cell join, so
    per-query work drops from |corpus| to ~|corpus| * nprobe/num_cells.
    Runs the RESIDUAL variant (the paper's actual IVFADC): codebooks
    train on and codes encode ``x_n - centroid(cell)``, each query
    carries one lookup table per probed cell. (On the synthetic
    near-uniform test embeddings residual recall measures within noise
    of the raw-vector variant — the residual's win needs clustered
    data, where within-cell spread is much tighter than global; the
    adjudicated query still runs the canonical structure.) The oracle retrains the
    identical two-quantizer index (shared id-ordered sample, shared
    numpy routines) and injects codes + cell map + per-(query, cell)
    luts as literals, replaying the probe join and the in-order ADC
    fold in DuckDB."""
    from my_feast_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return ivfpq_topk(
        q, c, m=8, k_codes=16, num_centroids=16, nprobe=4, k=5,
        deterministic=deterministic, residual=True,
    )


def _sql_ivfpq_topk(
    *, m=8, k=16, num_centroids=16, nprobe=4, topk=5, seed=42,
    sample_cap=4096,
):
    """Oracle generator for q_ivfpq_topk: retrain both quantizers from
    the oracle parquet with the SAME shared routines (one id-ordered
    sample -> train_ivf_centroids + residual codebooks), inject the
    per-id (cell, codes) rows and the per-(query, probed-cell) residual
    lookup tables as VALUES literals, replay probe join + in-order ADC
    + top-k. Returns None (rows-only) if the oracle testdata is
    absent."""
    import numpy as np

    from my_feast_spark.operators.pq import (
        codebooks_from_sample,
        make_pq_encoder,
        query_luts,
    )
    from my_feast_spark.operators.similarity import (
        make_cell_assigner,
        train_ivf_centroids,
    )

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813 - operator module is `pq`

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = t.column("embedding").to_pylist()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    V = np.asarray([emb[i] for i in order], dtype=np.float64)

    X = V[:sample_cap]
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    centroids = train_ivf_centroids(Xn, num_centroids, seed=seed)
    assign = make_cell_assigner(centroids)
    Rs = Xn - centroids[assign(Xn, 1)[:, 0]]
    cb = codebooks_from_sample(Rs, m=m, k=k, seed=seed, normalize=False)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    cells = assign(Vn, 1)[:, 0]
    codes = make_pq_encoder(cb, normalize=False)(Vn - centroids[cells])
    qmask = ids < 20
    probes = assign(Vn[qmask], nprobe)

    code_vals = ", ".join(
        "(" + ", ".join(str(int(x)) for x in (i, c, *row)) + ")"
        for i, c, row in zip(ids, cells, codes)
    )
    probe_vals = ", ".join(
        f"({int(i)}, {int(c)}, CAST(["
        + ", ".join(repr(float(x)) for x in lut)
        + "] AS DOUBLE[]))"
        for i, cells_row, qn in zip(ids[qmask], probes, Vn[qmask])
        for c, lut in zip(
            cells_row,
            query_luts(
                cb, qn[None, :] - centroids[list(cells_row)],
                normalize=False,
            ),
        )
    )
    ccols = ", ".join(f"c{j}" for j in range(m))
    adc = " + ".join(f"p.lut[{j} * {k} + c.c{j} + 1]" for j in range(m))
    return f"""
WITH codes(corpus_id, cell, {ccols}) AS (VALUES {code_vals}),
probes(query_id, cell, lut) AS (VALUES {probe_vals}),
d AS (
  SELECT p.query_id, c.corpus_id AS neighbor_id,
         round({adc}, 6) AS adc_dist
  FROM codes c
  JOIN probes p USING (cell)
  WHERE c.corpus_id != p.query_id
),
r AS (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM d
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {topk}
"""


SQL_IVFPQ_TOPK = _LazySQL(_sql_ivfpq_topk)


# =========================================================================
# Round-7 promotions: text normalization, perceptual image dedup,
# streaming near-dup ingest — previously test-only, now oracle-adjudicated
# =========================================================================

def q_normalize_text(spark, sf_dir):
    """Crawl-text canonicalization (functions/text.py::normalize_text):
    typographic-punctuation folding, control stripping, whitespace
    collapse as pure translate/regexp expressions — map-only,
    whole-stage codegen. The oracle replays the identical fold chain in
    DuckDB (same translate tables, same RE2-compatible classes)."""
    from my_feast_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_text(F.col("text")).alias("norm_text"),
        F.length(normalize_text(F.col("text"))).alias("norm_len"),
    )


def _sql_normalize_text() -> str:
    from my_feast_spark.functions.text import _FOLD_DST, _FOLD_SRC

    src = _FOLD_SRC.replace("'", "''")
    dst = _FOLD_DST.replace("'", "''")
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"translate(text, '{src}', '{dst}'), '…', '...', 'g'), "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
        "'\\s+', ' ', 'g'))"
    )
    return f"""
SELECT doc_id, {norm} AS norm_text,
       CAST(length({norm}) AS INTEGER) AS norm_len
FROM documents
"""


SQL_NORMALIZE_TEXT = _LazySQL(_sql_normalize_text)


def q_image_dedup(spark, sf_dir):
    """Perceptual image near-dup pairs: deterministic fake image assets
    from the documents table (multimodal/assets.py — header assembled
    JVM-side, payload = the text bytes a real decoder would replace
    with pixels), 64-bit dHash-style fingerprints in one Arrow pass,
    then the dedup tier's pigeonhole hamming join (8 chunks x 8 bits —
    recall exactly 1 up to hamming 7, no cross join). The oracle
    recomputes each asset's dhash with the same byte-grid reduction in
    Python, injects (id, dhash) literals, and replays the FULL hamming
    predicate — which by the pigeonhole recall guarantee equals the
    blocked join's output exactly."""
    from my_feast_spark.multimodal.assets import (
        encode_fake_image_assets,
        image_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = encode_fake_image_assets(docs, "doc_id", "text")
    return image_near_dup_pairs(assets, max_hamming=6)


def _dhash_bits(payload: bytes) -> int:
    """Pure-Python mirror of assets.image_dhash's byte-grid reduction
    (shared by the oracle generator; pinned against the Spark path by
    tests/test_multimodal.py)."""
    data = payload if len(payload) >= 72 else payload + bytes(72 - len(payload))
    n = len(data)
    cells = [
        sum(data[(i * n) // 72:((i + 1) * n) // 72])
        / max(((i + 1) * n) // 72 - (i * n) // 72, 1)
        for i in range(72)
    ]
    bits = 0
    for row in range(8):
        for col in range(8):
            bits = (bits << 1) | (1 if cells[row * 9 + col] > cells[row * 9 + col + 1] else 0)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def _sql_image_dedup(*, max_hamming=6):
    """Oracle generator for q_image_dedup: dhash literals + the exact
    hamming predicate. Returns None (rows-only) if the oracle testdata
    is absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813

    t = pq_.read_table(path, columns=["doc_id", "text"])
    vals = ", ".join(
        f"({int(i)}, {_dhash_bits(s.encode('utf-8'))})"
        for i, s in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        )
    )
    return f"""
WITH fp(doc, dhash) AS (VALUES {vals})
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.dhash, b.dhash)) <= {max_hamming}
"""


SQL_IMAGE_DEDUP = _LazySQL(_sql_image_dedup)


def q_streaming_neardup_ingest(spark, sf_dir):
    """Streaming NEAR-dup ingest end-to-end (streaming/ingest.py::
    near_dedup_ingest_stream): the documents table arrives as three
    micro-batches (doc_id % 3, fed through ONE checkpoint so batch ids
    accumulate), each batch MinHash-signs its docs, collides band
    buckets against the partition-pruned accumulated index
    (index_buckets=8 — the bucketed layout is the adjudicated path),
    and drops docs whose signature-estimated Jaccard against an
    accepted or lower-id in-batch doc reaches 0.5. hash_fn="portable"
    makes the signatures the md5 Carter-Wegman family, so the oracle
    replays signing + banding + the est-Jaccard verify + the
    batch-sequential accept policy entirely in DuckDB (band-bucket
    equality replayed on the raw minhash tuples — the engine's
    xxhash64 band signature is an injective-up-to-collisions rename of
    them). Returns the accepted relation (doc_id, batch_id)."""
    from my_feast_spark.streaming.ingest import near_dedup_ingest_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = _scratch_dir("mfs_neardup_ingest_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    out = os.path.join(base, "accepted")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        )
        q = near_dedup_ingest_stream(
            sdf, out_path=out, index_path=idx, checkpoint=ckpt,
            n=3, num_hashes=64, bands=16, threshold=0.5,
            hash_fn="portable", index_buckets=8, available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
    return spark.read.parquet(out).select(
        "doc_id", F.col("batch_id").cast("int").alias("batch_id")
    )


def _sql_streaming_neardup_ingest(
    *, num_hashes=64, bands=16, threshold=0.5, n_batches=3,
):
    """DuckDB replay of the batch-sequential near-dup accept policy:
    portable minhash signatures (the SQL_MINHASH_DUP_PAIRS family),
    band buckets on the raw minhash tuples, signature-estimated
    Jaccard verify, then one chained CTE stage per micro-batch — a doc
    drops iff a same-bucket verified dominator is a LOWER-ID doc of
    its own batch (pairwise-greedy, like the engine) or an ACCEPTED
    doc of an earlier batch (only accepted docs enter the index)."""
    from my_feast_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    r = num_hashes // bands
    mh = ",\n         ".join(
        f"list_min(list_transform(bases, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]}) "
        f"% {MINHASH_P})) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc, {b} AS band, concat_ws(',', "
        + ", ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + ") AS bsig FROM sigs"
        for b in range(bands)
    )
    sig_arr = "[" + ", ".join(f"mh_{i}" for i in range(num_hashes)) + "]"
    est = (
        f"list_sum(list_transform(range(1, {num_hashes + 1}), "
        "i -> CASE WHEN sx.sig[i] = sy.sig[i] THEN 1 ELSE 0 END)) "
        f"/ {num_hashes}.0"
    )
    stages = []
    acc_union = None
    for k in range(n_batches):
        same_batch = (
            f"(v.x IN (SELECT doc FROM bat WHERE b = {k}) AND v.x < v.y)"
        )
        if acc_union:
            cond = f"({same_batch} OR v.x IN (SELECT doc FROM {acc_union}))"
        else:
            cond = same_batch
        stages.append(
            f"drop{k} AS (\n"
            f"  SELECT DISTINCT v.y AS doc FROM ver v\n"
            f"  JOIN bat ON bat.doc = v.y AND bat.b = {k}\n"
            f"  WHERE {cond}\n"
            f"), acc{k} AS (\n"
            f"  SELECT doc FROM bat WHERE b = {k}\n"
            f"  AND doc NOT IN (SELECT doc FROM drop{k})\n"
            f")"
        )
        acc_union = (
            f"acc{k}" if acc_union is None
            else f"(SELECT doc FROM {acc_union} UNION SELECT doc FROM acc{k})"
        )
        if k and acc_union.startswith("("):
            # materialize the running union as its own CTE for the next stage
            stages.append(
                f"accu{k} AS (SELECT doc FROM "
                + " UNION SELECT doc FROM ".join(f"acc{j}" for j in range(k + 1))
                + ")"
            )
            acc_union = f"accu{k}"
    final = " UNION ALL ".join(
        f"SELECT doc AS doc_id, {k} AS batch_id FROM acc{k}"
        for k in range(n_batches)
    )
    stage_sql = ",\n".join(stages)
    return f"""
WITH bat AS (
  SELECT doc_id AS doc, doc_id % {n_batches} AS b FROM documents
), toks AS (
  SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS MATERIALIZED (
  SELECT doc, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), based AS MATERIALIZED (
  SELECT doc, list_transform(s, sg ->
         CAST((md5_number_lower(sg) & 9223372036854775807) % {MINHASH_P} AS BIGINT)) AS bases
  FROM sh
), sigs AS MATERIALIZED (
  SELECT doc, {mh}
  FROM based
), sigarr AS MATERIALIZED (
  SELECT doc, {sig_arr} AS sig FROM sigs
), band_rows AS MATERIALIZED (
  {band_selects}
), coll AS (
  SELECT DISTINCT a.doc AS x, b.doc AS y
  FROM band_rows a JOIN band_rows b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc <> b.doc
), ver AS MATERIALIZED (
  SELECT x, y FROM coll
  JOIN sigarr sx ON sx.doc = coll.x
  JOIN sigarr sy ON sy.doc = coll.y
  WHERE {est} >= {threshold}
),
{stage_sql}
SELECT doc_id, CAST(batch_id AS INTEGER) AS batch_id FROM ({final})
"""


SQL_STREAMING_NEARDUP_INGEST = _LazySQL(_sql_streaming_neardup_ingest)


def q_score_weighted_sample(spark, sf_dir):
    """GPT-3's Pareto quality-weighted keep rule (Brown et al. 2020,
    Appendix A), in the deterministic replayable form of
    operators/sampling.py::score_weighted_sample: the heuristic quality
    composite (q_quality_score's length + lexical-diversity + stopword
    blend) stands in for the classifier score, and a doc keeps when
    ``uniform_hash(doc_id:pareto) < (2 - score)^-9`` — high scorers keep
    (almost) surely, low scorers survive with heavy-tailed small
    probability, so the filtered corpus still covers the low-score mass
    instead of cliff-cutting it. Map-only at any scale: score and keep
    rule are pure expressions over one documents scan, no shuffle, and
    the portable md5 hash family makes the keep set identical across
    runs, partitionings, and engines."""
    from my_feast_spark.functions.text import LANG_STOPWORDS, let, tokens
    from my_feast_spark.operators.sampling import score_weighted_sample

    stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])

    def _score(toks):
        # let-bound: the keep FILTER below gets this whole expression
        # substituted into its pushed-down predicate — binding the
        # token array keeps that substitution at ONE tokenization (a
        # plain projected column would inline split() per reference,
        # 5x; pinned by test_plans.py::test_text_queries_tokenize_once)
        n = F.greatest(F.size(toks), F.lit(1))
        n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        diversity = F.size(F.array_distinct(toks)) / n.cast("double")
        len_score = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
        stop_ratio = n_stop / n.cast("double")
        # floor(x*1e4+0.5)/1e4, not F.round: the engines' native
        # rounds disagree on .5-boundary composites (see
        # q_quality_score) and the keep rule amplifies any score
        # difference into a different keep SET
        return F.floor(
            (0.4 * len_score + 0.4 * diversity + 0.2 * stop_ratio)
            * F.lit(1e4)
            + F.lit(0.5)
        ) / F.lit(1e4)

    scored = _t(spark, sf_dir, "documents").select(
        "doc_id",
        let(tokens(F.lower(F.col("text"))), _score).alias("quality_score"),
    )
    return score_weighted_sample(scored, "quality_score", "doc_id", alpha=9.0)


SQL_SCORE_WEIGHTED_SAMPLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         greatest(len(toks), 1) AS n,
         len(list_distinct(toks)) AS nd,
         len(list_filter(toks, x -> list_contains(
             ['the', 'a', 'and', 'of', 'to', 'in', 'is'], x))) AS ns,
         least(len(toks) / 100.0e0, 1.0e0) AS len_score
  FROM t
), q AS (
  SELECT doc_id,
         floor((0.4e0 * len_score + 0.4e0 * (nd / CAST(n AS DOUBLE))
                + 0.2e0 * (ns / CAST(n AS DOUBLE))) * 1e4 + 0.5e0) / 1e4
             AS quality_score
  FROM s
)
SELECT doc_id, quality_score
FROM q, LATERAL (
  -- the keep probability (2 - s)^-9 as the EXPLICIT square-and-multiply
  -- tree 1 / (t * ((t2*t2) * (t2*t2))^... ) that
  -- operators/sampling.py::_pow_posint builds: native pow() is only
  -- 1-ulp-accurate per engine, and a last-ulp disagreement at a keep
  -- boundary flips the keep SET; fixed IEEE multiply trees evaluate
  -- bit-identically on both engines
  SELECT 2.0e0 - least(greatest(quality_score, 0.0e0), 1.0e0) AS t
) lt, LATERAL (SELECT lt.t * lt.t AS t2) l2,
LATERAL (SELECT l2.t2 * l2.t2 AS t4) l4,
LATERAL (SELECT l4.t4 * l4.t4 AS t8) l8
WHERE (CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':pareto')
             & 9223372036854775807) % 1000000 AS BIGINT) / 1000000.0)
      < 1.0e0 / (lt.t * l8.t8)
"""


def q_dsir_resample(spark, sf_dir, *, hash_fn="portable"):
    """DSIR end-to-end (operators/dsir.py; Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): fit
    hashed-n-gram bag models on a deterministic target slice
    (doc_id % 50 == 0 — the decontamination queries' eval-split
    convention) vs the full raw corpus, weigh every raw doc by its
    summed log2 bucket ratio, then draw 200 docs without replacement
    with P ∝ exp2(logw) via the deterministic Gumbel top-k. The oracle
    replays the ENTIRE pipeline in SQL — gram bucketing through the
    portable md5 family, the add-k ratio table, the per-doc weight sum
    (stable floor-round), the Gumbel noise from the same hash inverse-
    CDF, and the top-200 cut. ``gumbel_key`` stays internal (its raw
    double carries engine log() ulps); the selected SET is compared.

    Scale shape: one aggregation pass per corpus to fit (the model is a
    ≤B-row relation), one broadcast join + hash agg to weigh, and the
    draw is TakeOrderedAndProject — per-partition top-k, never a global
    sort. Ordering ties in ``logw + gumbel`` across engines require
    bit-equal doubles (then doc_id breaks them deterministically);
    near-ties within the engines' 1-ulp log() disagreement (~1e-15) are
    the same accepted risk class as the LM queries' double sums."""
    from my_feast_spark.operators.dsir import (
        dsir_gram_events,
        dsir_logweights,
        dsir_resample,
        fit_dsir,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE tokenize+hash pass (r16 optimization, guide §1.2 "don't
    # compute things twice"): the (doc_id, bucket) gram relation feeds
    # the raw-side fit counts, the target-side fit counts (the target
    # IS the doc_id%50 slice of the same corpus), and the weigh pass —
    # previously three independent gram passes, each paying the
    # portable md5 chain per gram (the dominant DSIR cost; the
    # xxhash64 variant, one intrinsic per gram, benched ~2.8x faster
    # for no other reason). Counts/weights are aggregates of the same
    # rows, so the model and weights are bit-identical.
    ev = dsir_gram_events(
        docs, "doc_id", "text", 10_000, hash_fn=hash_fn
    ).persist()
    model = fit_dsir(
        None, None, "text", num_buckets=10_000, k=0.5, hash_fn=hash_fn,
        target_events=ev.filter(F.col("doc_id") % 50 == 0),
        raw_events=ev,
    )
    weighted = dsir_logweights(docs, "doc_id", "text", model, events_df=ev)
    out = dsir_resample(weighted, "doc_id", 200, salt="dsir").select(
        "doc_id", "logw", "n_grams"
    )
    out._owned_caches = [*model.ratio._owned_caches, ev]
    return out


SQL_DSIR_RESAMPLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     w -> w <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, unnest(toks) AS gram FROM t
  UNION ALL
  SELECT doc_id, toks[CAST(i AS INTEGER) - 1] || ' '
                 || toks[CAST(i AS INTEGER)] AS gram
  FROM t, unnest(range(2, len(toks) + 1)) AS r(i)
  WHERE len(toks) >= 2
), ev AS (
  SELECT doc_id,
         CAST((md5_number_lower(gram) & 9223372036854775807) % 10000
              AS INTEGER) AS bucket
  FROM grams
), tc AS (
  SELECT bucket, count(*) AS ct FROM ev WHERE doc_id % 50 = 0
  GROUP BY bucket
), rc AS (
  SELECT bucket, count(*) AS cr FROM ev GROUP BY bucket
), tots AS (
  SELECT (SELECT sum(ct) FROM tc) AS tt, (SELECT sum(cr) FROM rc) AS tr
), ratio AS (
  -- target grams are a subset of raw grams (the target IS a corpus
  -- slice), so rc's bucket set covers tc's and the full-outer join of
  -- fit_dsir degenerates to this left join; add-k smooths over the
  -- FIXED 10000-bucket space
  SELECT rc.bucket,
         log2((COALESCE(tc.ct, 0) + 0.5e0) / (tt + 0.5e0 * 10000))
         - log2((rc.cr + 0.5e0) / (tr + 0.5e0 * 10000)) AS lr
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tots
), w AS (
  SELECT e.doc_id,
         floor(sum(r.lr) * 1e6 + 0.5e0) / 1e6 AS logw,
         CAST(count(*) AS BIGINT) AS n_grams
  FROM ev e JOIN ratio r USING (bucket)
  GROUP BY e.doc_id
), wall AS (
  -- gram-less docs (empty/NULL text) weigh exactly 0 with 0 grams,
  -- matching dsir_logweights' explode_outer
  SELECT d.doc_id, COALESCE(w.logw, 0.0e0) AS logw,
         COALESCE(w.n_grams, 0) AS n_grams
  FROM documents d LEFT JOIN w USING (doc_id)
), sel AS (
  SELECT doc_id, logw, n_grams,
         logw + (-ln(-ln(
             (CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':dsir')
                    & 9223372036854775807) % 1000000 AS BIGINT)
              + 0.5e0) / 1000000.0e0))
           / 0.6931471805599453e0) AS gk
  FROM wall
)
SELECT doc_id, logw, CAST(n_grams AS BIGINT) AS n_grams
FROM sel ORDER BY gk DESC, doc_id LIMIT 200
"""


def q_url_domain_curation(spark, sf_dir):
    """URL/domain-level curation — the pre-tokenization front door every
    crawl pipeline runs first (C4, RefinedWeb, Gopher): canonicalize the
    URL (functions/urls.py — lowercase scheme/host, strip one www.,
    drop default ports / tracking params / fragments, sort surviving
    params, normalize the path), extract host + registered domain
    (eTLD+1 against the full vendored public-suffix ruleset — ~1k
    exact rules incl. the PRIVATE hosting suffixes, PLUS the wildcard
    ``*.ck`` and exception ``!www.ck`` rule classes, new in round 13),
    drop blocklisted domains (broadcast anti-join), and cap
    each domain's contribution at 15 docs
    (operators/urls.py::domain_quota — salted two-phase top-n, no
    per-domain window sort). The documents table carries no URL column,
    so the query derives a deterministic synthetic URL per doc from
    (source, doc_id) with BOTH engines building the identical string —
    mixed-case scheme/host, optional www., an ICANN multi-label suffix
    (co.uk), a private-section one (github.io), a WILDCARD-ruled one
    (zone.ck -> ``*.ck`` keeps three labels) and an EXCEPTION-ruled one
    (www.ck -> ``!www.ck`` collapses every host under it to one domain,
    which the quota then caps), default and non-default ports, trailing
    slashes, tracking params, and fragments all exercised. Map-only until the quota's two hash aggregates;
    everything is pure expressions (RE2-safe regexes; the suffix isin
    lowers to InSet — O(1) per row at any ruleset size)."""
    from my_feast_spark.functions.urls import (
        registered_domain,
        url_canonicalize,
        url_host,
    )
    from my_feast_spark.operators.urls import blocklist_filter, domain_quota

    d = F.col("doc_id")

    def _part(mod, *arms, default=""):
        e = F.when(d % mod == 0, F.lit(arms[0]))
        for i, a in enumerate(arms[1:], start=1):
            e = e.when(d % mod == i, F.lit(a))
        return e.otherwise(F.lit(default))

    raw_url = F.concat(
        _part(2, "HTTPS", default="http"), F.lit("://"),
        _part(4, "WWW."),
        F.col("source"), F.lit("-Example"),
        _part(6, ".CO.UK", ".GitHub.IO", ".Zone.CK", ".Www.CK",
              default=".com"),
        _part(5, ":443", ":8080"),
        F.lit("/Docs/"), (d % 7).cast("string"),
        _part(7, "/"),
        F.lit("?"),
        _part(2, "utm_source=feed&"),
        F.lit("b="), (d % 11).cast("string"),
        F.lit("&a="), (d % 13).cast("string"),
        F.lit("&utm_campaign=x"),
        _part(5, "#frag"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # Persist the NARROW derived relation (r16 optimization, guide §5 +
    # §7.2): domain_quota consumes its input twice (aggregate phases +
    # the keep-set semi join-back), and without a materialization
    # barrier CollapseProject inlines the full canonicalize/eTLD+1
    # expression (the ~1k-rule suffix CASE over a host that itself
    # inlines the synthetic-URL CASE chain — a ~51KB expression) into
    # BOTH subtrees AND the pushed isnotnull join-key filters, blowing
    # the physical plan to 148KB: past the 64KB codegen method limit
    # (interpreted fallback per row) and ~35s of one-off optimizer/
    # codegen time. Cached, the expression evaluates once per row, the
    # plan is ~10x smaller, and both quota passes + the join-back read
    # the 4-column cache. Values unchanged (persist is plan-only).
    canon = docs.select(
        "doc_id",
        url_canonicalize(raw_url).alias("url_canon"),
        url_host(raw_url).alias("host"),
    ).withColumn("reg_domain", registered_domain(F.col("host"))).persist()
    allowed = blocklist_filter(
        canon, "reg_domain",
        ["src7-example.com", "src7-example.co.uk",
         "src7-example.github.io", "src11-example.com"],
    )
    out = domain_quota(allowed, "reg_domain", ["doc_id"], 15).select(
        "doc_id", "url_canon", "host", "reg_domain"
    )
    out._owned_caches = [canon]
    return out


def _sql_url_domain_curation() -> str:
    """Oracle generator for q_url_domain_curation: injects the SAME
    vendored public-suffix ruleset registered_domain defaults to
    (functions/urls.py::PUBLIC_SUFFIXES) as DuckDB list literals and
    replays the same precedence — exceptions first, then wildcard
    2-label bases, exact 3-label rules, wildcard 1-label bases, exact
    2-label rules, else last two labels."""
    from my_feast_spark.functions.urls import (
        PUBLIC_SUFFIXES,
        partition_suffix_rules,
    )

    rules = partition_suffix_rules(PUBLIC_SUFFIXES)

    def _lits(key):
        return ", ".join(f"'{s}'" for s in rules[key]) or "''"

    two, three = _lits("exact2"), _lits("exact3")
    wild1, wild2 = _lits("wild1"), _lits("wild2")
    exc2, exc3 = _lits("exc2"), _lits("exc3")
    return r"""
WITH raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
    || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
    || source || '-Example'
    || (CASE WHEN doc_id % 6 = 0 THEN '.CO.UK'
             WHEN doc_id % 6 = 1 THEN '.GitHub.IO'
             WHEN doc_id % 6 = 2 THEN '.Zone.CK'
             WHEN doc_id % 6 = 3 THEN '.Www.CK' ELSE '.com' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ':443'
             WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
    || '/Docs/' || CAST(doc_id % 7 AS VARCHAR)
    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END)
    || 'b=' || CAST(doc_id % 11 AS VARCHAR)
    || '&a=' || CAST(doc_id % 13 AS VARCHAR)
    || '&utm_campaign=x'
    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        AS raw_path,
    regexp_extract(url, '^[^#]*\?([^#]*)', 1) AS q
  FROM raw
), comp AS (
  SELECT doc_id, scheme,
    regexp_replace(lower(regexp_extract(auth, '^([^:]*)', 1)),
                   '^www\.', '') AS host,
    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
    CASE WHEN raw_path = '' THEN '/'
         ELSE regexp_replace(raw_path, '(.)/$', '\1') END AS path,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
        p -> p <> '' AND NOT starts_with(p, 'utm_')
             AND NOT starts_with(p, 'fbclid=')
             AND NOT starts_with(p, 'gclid=')
             AND NOT starts_with(p, 'ref='))), '&') AS qs
  FROM parts
), lab AS (
  SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n
  FROM comp
), canon AS (
  SELECT doc_id, host,
    scheme || '://' || host
    || (CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                  OR (scheme = 'http' AND port = '80') THEN ''
             ELSE ':' || port END)
    || path
    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS url_canon,
    CASE WHEN n <= 2 THEN host
         -- exception rules win over everything (PSL precedence)
         WHEN list_contains([__EXC3__],
                            ls[-3] || '.' || ls[-2] || '.' || ls[-1])
         THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         WHEN list_contains([__EXC2__], ls[-2] || '.' || ls[-1])
         THEN ls[-2] || '.' || ls[-1]
         -- wildcard 2-label base -> 3-label suffix
         WHEN list_contains([__WILD2__], ls[-2] || '.' || ls[-1])
              AND n >= 4
         THEN ls[-4] || '.' || ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         WHEN list_contains([__WILD2__], ls[-2] || '.' || ls[-1])
         THEN host
         WHEN list_contains([__THREE__],
                            ls[-3] || '.' || ls[-2] || '.' || ls[-1])
              AND n >= 4
         THEN ls[-4] || '.' || ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         WHEN list_contains([__THREE__],
                            ls[-3] || '.' || ls[-2] || '.' || ls[-1])
         THEN host
         -- wildcard 1-label base -> 2-label suffix (n >= 3 here)
         WHEN list_contains([__WILD1__], ls[-1])
         THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         WHEN list_contains([__TWO__], ls[-2] || '.' || ls[-1])
         THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         ELSE ls[-2] || '.' || ls[-1] END AS reg_domain
  FROM lab
), passed AS (
  SELECT * FROM canon
  WHERE reg_domain NOT IN
      ('src7-example.com', 'src7-example.co.uk',
       'src7-example.github.io', 'src11-example.com')
), ranked AS (
  -- the oracle replays domain_quota's salted two-phase top-n with the
  -- semantically-identical window form (top-n of a total order)
  SELECT doc_id, url_canon, host, reg_domain,
         row_number() OVER (PARTITION BY reg_domain ORDER BY doc_id) AS rn
  FROM passed
)
SELECT doc_id, url_canon, host, reg_domain FROM ranked WHERE rn <= 15
""".replace("__TWO__", two).replace("__THREE__", three) \
   .replace("__WILD1__", wild1).replace("__WILD2__", wild2) \
   .replace("__EXC2__", exc2).replace("__EXC3__", exc3)


SQL_URL_DOMAIN_CURATION = _LazySQL(_sql_url_domain_curation)


def q_domain_pagerank(spark, sf_dir):
    """Domain-graph PageRank in exact fixed-point arithmetic
    (operators/graph.py::pagerank_fixedpoint) — the URL-level quality
    prior of a crawl pipeline (Common Crawl publishes host/domain
    ranks; curation uses them before reading any text). The documents
    table carries no link graph, so the query derives a deterministic
    pseudo-domain edge list from doc_id (40 domain nodes, edge
    ``doc_id % 40 -> (doc_id*7 + 3) % 40`` — both engines build the
    identical multigraph) and runs 10 damped iterations. Every rank is
    a BIGINT in 1e-12 units and every update is integer division +
    exact integer sums, so the oracle — the same 10 iterations unrolled
    as chained CTEs (recursive CTEs cannot aggregate in the recursive
    member) — replays it bit-for-bit; the scaled double is derived from
    the exact integer at the end. Per iteration: one AQE-broadcastable
    rank join + one map-side-combined sum; rank relation checkpointed
    per round (lineage truncation), previous round released."""
    from my_feast_spark.operators.graph import pagerank_fixedpoint

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 40).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 40).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    pr = pagerank_fixedpoint(edges, "src", "dst", iterations=10)
    out = pr.select(
        "node",
        "rank_int",
        (
            F.floor(
                F.col("rank_int").cast("double") / F.lit(1e12) * F.lit(1e6)
                + F.lit(0.5)
            ) / F.lit(1e6)
        ).alias("rank"),
    )
    out._owned_checkpoints = list(getattr(pr, "_owned_checkpoints", ()))
    return out


def _sql_domain_pagerank(
    iterations: int = 10, n_domains: int = 40,
    scale: int = 10**12, dnum: int = 85, dden: int = 100,
) -> str:
    """Unrolled-CTE replay of q_domain_pagerank (same constants)."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f""", r{i} AS (
  SELECT n.node,
         CAST((SELECT base FROM consts) + COALESCE(c.s, 0) AS BIGINT)
             AS rank_int
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS node,
           sum((r.rank_int * {dnum}) // ({dden} * ed.deg)) AS s
    FROM ed JOIN {prev} r ON r.node = ed.src
    GROUP BY ed.dst
  ) c USING (node)
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT doc_id % {n_domains} AS src,
         (doc_id * 7 + 3) % {n_domains} AS dst
  FROM documents
  WHERE doc_id % {n_domains} <> (doc_id * 7 + 3) % {n_domains}
), deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
  )
), consts AS (
  SELECT CAST({scale} // count(*) AS BIGINT) AS r0val,
         CAST(({scale} * {dden - dnum}) // ({dden} * count(*)) AS BIGINT)
             AS base
  FROM nodes
), r0 AS (
  SELECT node, (SELECT r0val FROM consts) AS rank_int FROM nodes
){''.join(steps)}
SELECT node, CAST(rank_int AS BIGINT) AS rank_int,
       floor(CAST(rank_int AS DOUBLE) / 1e12 * 1e6 + 0.5e0) / 1e6 AS rank
FROM {prev}
"""


SQL_DOMAIN_PAGERANK = _sql_domain_pagerank()


def q_audio_dedup(spark, sf_dir):
    """Perceptual audio near-dup pairs (multimodal/audio.py): fake audio
    assets from the documents table (MFAU header + the text bytes as u8
    PCM samples — the honest codec stub), 64-bit energy-delta
    fingerprints in one Arrow pass (bit i = frame i's RMS energy exceeds
    frame i+1's), then the dedup tier's pigeonhole hamming join (8
    chunks x 8 bits — recall exactly 1 up to hamming 7, no cross join).
    The oracle recomputes each asset's fingerprint with the same
    65-frame energy reduction in Python, injects (id, afp) literals, and
    replays the FULL hamming predicate — which by the pigeonhole recall
    guarantee equals the blocked join's output exactly."""
    from my_feast_spark.multimodal.audio import (
        audio_near_dup_pairs,
        encode_fake_audio_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = encode_fake_audio_assets(docs, "doc_id", "text")
    return audio_near_dup_pairs(assets, max_hamming=6)


def _afp_bits(payload: bytes) -> int:
    """Pure-Python mirror of audio.audio_fingerprint's 65-frame
    energy-delta reduction (float32 sample decode, float64 energy — the
    Arrow path's exact arithmetic; pinned against the Spark path by
    tests/test_multimodal_audio.py)."""
    import numpy as np

    samples = (
        np.frombuffer(payload, dtype=np.uint8).astype(np.float32) - 128.0
    ) / 128.0
    if samples.size < 65:
        samples = np.pad(samples, (0, 65 - samples.size))
    n = samples.size
    sq = samples.astype(np.float64) ** 2
    energy = [
        float(sq[(i * n) // 65:((i + 1) * n) // 65].mean())
        for i in range(65)
    ]
    bits = 0
    for i in range(64):
        bits = (bits << 1) | (1 if energy[i] > energy[i + 1] else 0)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def _sql_audio_dedup(*, max_hamming=6):
    """Oracle generator for q_audio_dedup: energy-fingerprint literals +
    the exact hamming predicate. Returns None (rows-only) if the oracle
    testdata is absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813

    t = pq_.read_table(path, columns=["doc_id", "text"])
    vals = ", ".join(
        f"({int(i)}, {_afp_bits(s.encode('ISO-8859-1'))})"
        for i, s in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        )
    )
    return f"""
WITH fp(doc, afp) AS (VALUES {vals})
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.afp, b.afp)) <= {max_hamming}
"""


SQL_AUDIO_DEDUP = _LazySQL(_sql_audio_dedup)


def q_video_dedup(spark, sf_dir):
    """Video near-duplicate pairs (multimodal/assets.py::
    video_near_dup_pairs) — the industry recipe: sample every-2nd
    64-byte frame, perceptual-hash each frame (the image tier's dHash
    byte-grid), treat an asset's frame-hash SET as its shingle set, and
    run MinHash + banded LSH over it with an exact frame-set-Jaccard
    verify. True near-dups exist by construction: every 25th document
    also arrives as a trimmed re-encode (the leading 4/5 of its text) —
    the classic trimmed-copy case that shares most sampled frames. The
    portable md5 Carter-Wegman signature family makes the oracle replay
    signing + banding (on the raw minhash tuples) + the exact Jaccard
    verify entirely in DuckDB over per-asset frame-hash sets recomputed
    in pure Python."""
    from my_feast_spark.multimodal.assets import (
        encode_fake_image_assets,
        video_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.floor(F.length("text") * 4 / 5).cast("int")
        ).alias("text"),
    )
    assets = encode_fake_image_assets(
        docs.unionByName(copies), "doc_id", "text"
    )
    return video_near_dup_pairs(
        assets, frame_bytes=64, every_k=2, threshold=0.5,
        num_hashes=32, bands=8, hash_fn="portable",
    )


def _frame_hash_set(payload: bytes, *, frame_bytes=64, every_k=2):
    """Pure-Python mirror of sample_frames + frame_dhash: the sampled
    frame-hash SET of one asset (empty when the payload is shorter than
    one frame)."""
    n_frames = len(payload) // frame_bytes
    return {
        _dhash_bits(payload[f_i * frame_bytes:(f_i + 1) * frame_bytes])
        for f_i in range(0, n_frames, every_k)
    }


def _sql_video_dedup(
    *, threshold=0.5, num_hashes=32, bands=8, max_bucket=50,
):
    """Oracle generator for q_video_dedup: per-asset frame-hash sets as
    literals, then the SQL_MINHASH_DUP_PAIRS replay shape — portable CW
    signatures, band equality on the raw minhash tuples, bucket cap,
    exact set-Jaccard verify. Returns None (rows-only) if the oracle
    testdata is absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813

    from my_feast_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        _MASK63,
    )

    t = pq_.read_table(path, columns=["doc_id", "text"])
    rows = []
    for i, s in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        rows.append((int(i), s))
        if i % 25 == 0:
            rows.append((int(i) + 100000, s[: (4 * len(s)) // 5]))
    vals = ", ".join(
        f"({i}, CAST([{', '.join(str(h) for h in sorted(fhs))}] AS BIGINT[]))"
        for i, fhs in (
            (i, _frame_hash_set(s.encode("utf-8"))) for i, s in rows
        )
        if fhs
    )
    r = num_hashes // bands
    mh = ",\n         ".join(
        f"list_min(list_transform(bases, x -> ({MINHASH_A[i]} * x + "
        f"{MINHASH_B[i]}) % {MINHASH_P})) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc, {b} AS band, concat_ws(',', "
        + ", ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + ") AS sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH fs(doc, fhs) AS (VALUES {vals}),
based AS MATERIALIZED (
  SELECT doc, fhs, list_transform(fhs, fh ->
         CAST((md5_number_lower(CAST(fh AS VARCHAR)) & {_MASK63})
              % {MINHASH_P} AS BIGINT)) AS bases
  FROM fs
), sigs AS (
  SELECT doc, {mh}
  FROM based
), band_rows AS MATERIALIZED (
  {band_selects}
), ok AS (
  SELECT band, sig FROM band_rows GROUP BY band, sig
  HAVING count(*) <= {max_bucket}
), br AS MATERIALIZED (
  SELECT band_rows.* FROM band_rows JOIN ok USING (band, sig)
), cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM br a JOIN br b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
)
SELECT doc_a, doc_b,
       floor(len(list_intersect(fa.fhs, fb.fhs))
             / (len(fa.fhs) + len(fb.fhs)
                - len(list_intersect(fa.fhs, fb.fhs))) * 1e4 + 0.5e0)
         / 1e4 AS jaccard
FROM cand
JOIN fs fa ON fa.doc = doc_a
JOIN fs fb ON fb.doc = doc_b
WHERE floor(len(list_intersect(fa.fhs, fb.fhs))
            / (len(fa.fhs) + len(fb.fhs)
               - len(list_intersect(fa.fhs, fb.fhs))) * 1e4 + 0.5e0) / 1e4
      >= {threshold}
"""


SQL_VIDEO_DEDUP = _LazySQL(_sql_video_dedup)


def q_gopher_quality_filter(spark, sf_dir):
    """The Gopher rule-based quality gate (Rae et al. 2021, Appendix
    A1.1; functions/text.py::gopher_features): word-count bounds, mean
    word length bounds, symbol-to-word ratio cap, alphabetic-word
    fraction floor, stopword-hit floor — the cheap rules production
    pipelines run before any learned filter (C4/Gopher/RedPajama all
    lead with this tier). Map-only pure expressions over ONE shared
    token-array projection (the q_quality_score shape — every measure
    reads the projected array, not its own tokenization); the 0/1
    verdict compares the ROUNDED measures so the DuckDB oracle reaches
    the identical decision."""
    from my_feast_spark.functions.text import gopher_features_arr, tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__ltoks")
    )
    feats = gopher_features_arr(F.col("__ltoks"))
    # (r16: a Generate-barrier variant materializing the measures
    # measured FLAT here — the duplicated per-measure passes are cheap
    # linear scans, unlike q_repetition_filter's array_sort)
    return docs.select(
        "doc_id", *[c.alias(k) for k, c in feats.items()]
    )


SQL_GOPHER_QUALITY_FILTER = """
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), m AS (
  -- floor-round form + DISTINCT stopword presence: the exact twins of
  -- functions/text.py::gopher_features_arr (see floor_round's contract)
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         floor(list_sum(list_transform(toks, w -> len(w)))
               / CAST(greatest(len(toks), 1) AS DOUBLE)
               * 1e4 + 0.5e0) / 1e4 AS mean_word_len,
         floor(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3)
               / CAST(greatest(len(toks), 1) AS DOUBLE)
               * 1e4 + 0.5e0) / 1e4 AS symbol_ratio,
         floor(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
               / CAST(greatest(len(toks), 1) AS DOUBLE)
               * 1e4 + 0.5e0) / 1e4 AS alpha_frac,
         CAST(len(list_intersect(toks,
             ['the', 'a', 'and', 'of', 'to', 'in', 'is']))
             AS BIGINT) AS stop_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1
            AND alpha_frac >= 0.8
            AND stop_hits >= 2 AS INTEGER) AS gopher_pass
FROM m
"""


def q_chunk_dedup(spark, sf_dir, *, hash_fn="portable"):
    """Sub-document exact dedup (operators/dedup.py::chunk_dedup) —
    CCNet's paragraph-hash dedup (Wenzek et al. 2020) adapted to
    unstructured text: 20-word non-overlapping chunks stand in for
    paragraphs, each chunk keeps only its FIRST corpus-wide occurrence
    (ordered by doc_id, chunk_idx), docs rebuild from surviving chunks.
    One fingerprint-keyed window shuffle + one doc regroup; chunk text
    rides along, only the 8-byte hash decides."""
    from my_feast_spark.operators.dedup import chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup(docs, "doc_id", "text", chunk_words=20, hash_fn=hash_fn)


SQL_CHUNK_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), ch AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         array_to_string(list_slice(t, i * 20 + 1, (i + 1) * 20), ' ')
             AS chunk
  FROM toks, unnest(range(0, CAST(ceil(len(t) / 20.0) AS INT))) AS u(i)
  WHERE len(t) > 0
), flagged AS (
  SELECT doc_id, chunk_idx, chunk,
         CAST(row_number() OVER (
             PARTITION BY md5_number_lower(chunk)
             ORDER BY doc_id, chunk_idx
         ) = 1 AS INTEGER) AS kept
  FROM ch
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE kept = 1), '')) AS kept_md5
FROM flagged
GROUP BY doc_id
"""


def q_cdc_chunk_dedup(spark, sf_dir, *, hash_fn="portable"):
    """Content-defined chunking dedup (operators/dedup.py::
    cdc_chunk_dedup) — LBFS rolling-hash boundaries (Muthitacharoen et
    al. 2001) over words: boundary after word i iff the Rabin-style
    polynomial over the trailing 4 per-word portable hashes is
    0 mod 16 (~16-word chunks), then the same first-occurrence keep +
    doc rebuild as chunk_dedup. The boundary rule makes sub-document
    dedup
    SHIFT-ROBUST: a word inserted near the top of a near-copy moves
    every fixed 20-word window but CDC boundaries re-synchronize within
    ~4 words, so the shared suffix still dedups. Chunking is map-only
    (higher-order array expressions, let-bound tokens/bounds); the
    winner decision is the map-side-combined aggregate chunk_dedup
    pins in test_plans.py."""
    from my_feast_spark.operators.dedup import cdc_chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, "doc_id", "text", hash_fn=hash_fn)


#: the CDC boundary polynomial's coefficients — must mirror
#: operators/dedup.py::cdc_chunk_dedup (base 1_000_003, modulus
#: MINHASH_P, window 4)
_CDC_BPOW = [pow(1_000_003, j, 2147483647) for j in range(4)]

SQL_CDC_CHUNK_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), wh AS (
  SELECT doc_id, t,
         list_transform(t, s ->
             CAST(concat('0x', substr(md5(s), 25, 8)) AS BIGINT)
                 % 2147483647) AS h
  FROM toks
), bnd AS (
  SELECT doc_id, t,
         [CAST(0 AS BIGINT)]
           || list_filter(range(1, len(t)), i ->
                (( (CASE WHEN i >= 1 THEN h[i]     * {_CDC_BPOW[0]} % 2147483647 ELSE 0 END)
                 + (CASE WHEN i >= 2 THEN h[i - 1] * {_CDC_BPOW[1]} % 2147483647 ELSE 0 END)
                 + (CASE WHEN i >= 3 THEN h[i - 2] * {_CDC_BPOW[2]} % 2147483647 ELSE 0 END)
                 + (CASE WHEN i >= 4 THEN h[i - 3] * {_CDC_BPOW[3]} % 2147483647 ELSE 0 END)
                 ) % 2147483647) % 16 = 0)
           || [len(t)] AS bounds
  FROM wh
), ch AS (
  SELECT doc_id, CAST(j - 1 AS INTEGER) AS chunk_idx,
         array_to_string(list_slice(t, bounds[j] + 1, bounds[j + 1]), ' ')
             AS chunk
  FROM bnd, unnest(range(1, len(bounds))) AS u(j)
), flagged AS (
  SELECT doc_id, chunk_idx, chunk,
         CAST(row_number() OVER (
             PARTITION BY md5_number_lower(chunk)
             ORDER BY doc_id, chunk_idx
         ) = 1 AS INTEGER) AS kept
  FROM ch
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE kept = 1), '')) AS kept_md5
FROM flagged
GROUP BY doc_id
"""


def q_ccnet_buckets(spark, sf_dir, *, exact_quantiles=True):
    """CCNet's head/middle/tail quality terciles (Wenzek et al. 2020),
    PER LANGUAGE as in the paper (each language's corpus splits into
    its own terciles — a global cut would let a high-perplexity
    language's whole corpus land in "tail"): score every doc with the
    bigram-LM mean log2 probability (operators/lm.py train_bigram_lm +
    score_docs; self-scoring with one shared LM stands in for CCNet's
    per-language KenLM — the KN variant is adjudicated separately),
    compute each language's tercile CUTOFF VALUES with one tiny grouped
    aggregate (|langs| rows), broadcast-join them back on lang, and
    assign buckets map-side — never a rank/ntile window (a per-language
    sort partition at corpus scale). ``exact_quantiles=True`` is the
    small-SF oracle-parity choice (DuckDB quantile_cont shares the
    linear-interpolation semantics); a 100 TB run flips to the
    percentile_approx sketch, same plan shape (functions/scalar.py::
    percentile_agg documents the trade)."""
    from my_feast_spark.functions.scalar import percentile_agg
    from my_feast_spark.operators.lm import score_docs, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(docs, "text")
    # persist: the narrow (doc_id, lang, avg_logprob) relation feeds BOTH
    # the tercile-cut aggregate and the final bucket join-back — without
    # it the whole scoring pipeline (n-gram explode + bigram join + per-
    # doc aggregate) runs twice (r16, guide §5 caching; measured 2.48s
    # -> 1.4s min-of-4 at sf0.1). Handed to the caller via _owned_caches.
    scored = score_docs(docs, "doc_id", "text", model).select(
        "doc_id", "avg_logprob"
    ).join(docs.select("doc_id", "lang"), "doc_id").persist()
    cuts = scored.groupBy("lang").agg(
        percentile_agg(
            "avg_logprob", 2.0 / 3.0, exact=exact_quantiles
        ).alias("cut_head"),
        percentile_agg(
            "avg_logprob", 1.0 / 3.0, exact=exact_quantiles
        ).alias("cut_mid"),
    )
    out = scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("cut_head"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("cut_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    out._owned_caches = [model.bigrams, scored]
    return out


SQL_CCNET_BUCKETS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS lt
  FROM documents
),
ev AS (
  SELECT doc_id,
         CASE WHEN CAST(u.pos AS INTEGER) = 1 THEN '<s>'
              ELSE lt[CAST(u.pos AS INTEGER) - 1] END AS h,
         lt[CAST(u.pos AS INTEGER)] AS w
  FROM t, UNNEST(generate_series(1, len(lt))) AS u(pos)
  WHERE len(lt) >= 1
),
big AS (SELECT h, w, count(*) AS c_hw FROM ev GROUP BY h, w),
uni AS (SELECT h, CAST(sum(c_hw) AS BIGINT) AS c_h FROM big GROUP BY h),
v AS (SELECT count(DISTINCT w) AS vs FROM big),
scored AS (
  SELECT e.doc_id,
         floor(avg(log2((b.c_hw + 0.5) / (u.c_h + 0.5 * (v.vs + 1))))
               * 1e4 + 0.5e0) / 1e4
           AS avg_logprob
  FROM ev e
  JOIN big b USING (h, w)
  JOIN uni u USING (h)
  CROSS JOIN v
  GROUP BY e.doc_id
),
langed AS (
  SELECT s.doc_id, d.lang, s.avg_logprob
  FROM scored s JOIN documents d USING (doc_id)
),
cuts AS (
  -- per-language terciles, as in the paper: each language's corpus
  -- splits into its own head/middle/tail
  SELECT lang,
         quantile_cont(avg_logprob, 2.0 / 3.0) AS cut_head,
         quantile_cont(avg_logprob, 1.0 / 3.0) AS cut_mid
  FROM langed GROUP BY lang
)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN avg_logprob >= cut_head THEN 'head'
            WHEN avg_logprob >= cut_mid THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM langed JOIN cuts USING (lang)
"""


def q_streaming_embedding_ingest(spark, sf_dir):
    """Streaming SEMANTIC near-dup ingest end-to-end (streaming/
    ingest.py::embedding_dedup_ingest_stream): the embeddings table
    arrives as three micro-batches (vec_id % 3, one checkpoint so batch
    ids accumulate), each batch hyperplane-LSH buckets its normalized
    vectors across 8 independent 4-bit sign tables, collides them
    against the partition-pruned accumulated index (index_buckets=8),
    and drops vectors whose exact cosine against an accepted or
    lower-id in-batch vector reaches 0.4 (rounded to 6 first — the
    oracle replays the identical rounded compare). The hyperplane
    tables and the normalize/dot folds are deterministic, so the oracle
    replays bucketing (numpy literals, the embedding_near_dupes_lsh
    pattern), the exact-cosine verify (explicit left-fold chains — the
    engine's aggregate() order), and the batch-sequential accept policy
    entirely in DuckDB. Returns the accepted (vec_id, batch_id)."""
    from my_feast_spark.streaming.ingest import embedding_dedup_ingest_stream

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = _scratch_dir("mfs_emb_ingest_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    out = os.path.join(base, "accepted")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    for b in range(3):
        emb.filter(F.col("vec_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        sdf = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(in_dir)
        q = embedding_dedup_ingest_stream(
            sdf, out_path=out, index_path=idx, checkpoint=ckpt,
            id_col="vec_id", vec_col="embedding", threshold=0.4,
            num_planes=4, num_tables=8, dim=64, seed=42,
            index_buckets=8, available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
    return spark.read.parquet(out).select(
        "vec_id", F.col("batch_id").cast("int").alias("batch_id")
    )


def _sql_streaming_embedding_ingest(
    *, threshold=0.4, num_planes=4, num_tables=8, dim=64, seed=42,
    n_batches=3,
):
    """Oracle generator for q_streaming_embedding_ingest. Bucket ids are
    VALUES literals from the SAME shape-stable numpy bucketer the
    executor UDF runs, over vectors normalized with plain left-to-right
    float arithmetic (the engine normalizes JVM-side with aggregate()
    folds, which DuckDB replays below as explicit left-assoc chains —
    0.0 + t1 == t1, so the plain chain is the same fold). The accept
    policy is the SQL_STREAMING_NEARDUP_INGEST chained-CTE stage shape.
    Returns None (rows-only) if the oracle testdata is absent."""
    import math

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import numpy as np
    import pyarrow.parquet as pq_  # noqa: N813

    from my_feast_spark.operators.similarity import (
        _hyperplanes,
        make_lsh_bucketer,
    )

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    normed = []
    for x in vecs:
        acc = 0.0
        for xi in x:
            d = float(np.float32(xi))
            acc += d * d
        nrm = max(math.sqrt(acc), 1e-12)
        normed.append([float(np.float32(xi)) / nrm for xi in x])
    tables = [
        _hyperplanes(dim, num_planes, seed + i) for i in range(num_tables)
    ]
    buckets = make_lsh_bucketer(tables)(
        np.asarray(normed, dtype=np.float64)
    )
    bucket_vals = ", ".join(
        "(" + ", ".join(str(int(x)) for x in (i, *row)) + ")"
        for i, row in zip(ids, buckets)
    )
    bcols = ", ".join(f"b{i}" for i in range(num_tables))
    any_table = " OR ".join(f"a.b{i} = c.b{i}" for i in range(num_tables))
    norm_chain = " + ".join(f"x[{i + 1}] * x[{i + 1}]" for i in range(dim))
    dot_chain = " + ".join(
        f"vx.v[{i + 1}] * vy.v[{i + 1}]" for i in range(dim)
    )
    stages = []
    acc_union = None
    for k in range(n_batches):
        same_batch = (
            f"(ver.x IN (SELECT doc FROM bat WHERE b = {k}) "
            "AND ver.x < ver.y)"
        )
        if acc_union:
            cond = (
                f"({same_batch} OR ver.x IN (SELECT doc FROM {acc_union}))"
            )
        else:
            cond = same_batch
        stages.append(
            f"drop{k} AS (\n"
            f"  SELECT DISTINCT ver.y AS doc FROM ver\n"
            f"  JOIN bat ON bat.doc = ver.y AND bat.b = {k}\n"
            f"  WHERE {cond}\n"
            f"), acc{k} AS (\n"
            f"  SELECT doc FROM bat WHERE b = {k}\n"
            f"  AND doc NOT IN (SELECT doc FROM drop{k})\n"
            f")"
        )
        if k == 0:
            acc_union = "acc0"
        else:
            stages.append(
                f"accu{k} AS (SELECT doc FROM "
                + " UNION SELECT doc FROM ".join(
                    f"acc{j}" for j in range(k + 1)
                )
                + ")"
            )
            acc_union = f"accu{k}"
    final = " UNION ALL ".join(
        f"SELECT doc AS vec_id, {k} AS batch_id FROM acc{k}"
        for k in range(n_batches)
    )
    stage_sql = ",\n".join(stages)
    return f"""
WITH bl(doc, {bcols}) AS (VALUES {bucket_vals}),
e AS (
  SELECT vec_id AS doc, vec_id % {n_batches} AS b,
         CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings
), nr AS (
  SELECT doc, b, x, greatest(sqrt({norm_chain}), 1e-12) AS nrm FROM e
), v AS MATERIALIZED (
  SELECT doc, b, list_transform(x, t -> t / nrm) AS v FROM nr
), bat AS (SELECT doc, b FROM e),
coll AS (
  SELECT DISTINCT a.doc AS x, c.doc AS y
  FROM bl a JOIN bl c ON a.doc <> c.doc AND ({any_table})
), ver AS MATERIALIZED (
  SELECT coll.x, coll.y FROM coll
  JOIN v vx ON vx.doc = coll.x
  JOIN v vy ON vy.doc = coll.y
  WHERE floor(({dot_chain}) * 1e6 + 0.5e0) / 1e6 >= {threshold}
),
{stage_sql}
SELECT vec_id, CAST(batch_id AS INTEGER) AS batch_id FROM ({final})
"""


SQL_STREAMING_EMBEDDING_INGEST = _LazySQL(_sql_streaming_embedding_ingest)


def q_lsh_recall(spark, sf_dir):
    """LSH recall audit (operators/dedup_eval.py::lsh_recall_report) —
    the production practice before trusting a banded-LSH config on the
    full corpus: draw the deterministic 30% hash sample, compute exact
    Jaccard truth pairs on it (the quadratic-ish shingle self-join is
    affordable ONLY on the sample — that is the operator's whole
    point), run the same-config MinHash-LSH on the same sample, and
    report a 1-row recall/precision summary. Portable hash family, so
    the oracle replays BOTH pair pipelines and the full-outer-join
    report in DuckDB."""
    from my_feast_spark.operators.dedup_eval import lsh_recall_report

    docs = _t(spark, sf_dir, "documents")
    return lsh_recall_report(
        docs, "doc_id", "text", sample_rate=0.3, hash_fn="portable",
    )


def _sql_lsh_recall(*, rate_cut=300_000, threshold=0.5):
    """Oracle generator for q_lsh_recall: the md5 sample slice, the
    exact-Jaccard truth pairs, the embedded SQL_MINHASH_DUP_PAIRS
    replay over the same slice, and the full-outer-join report."""
    inner = _sql_minhash_dup_pairs(source="smpl")
    return f"""
WITH smpl AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  WHERE CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':lsh-eval')
        & 9223372036854775807) % 1000000 AS BIGINT) < {rate_cut}
),
ttoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM smpl
), tsh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
         range(1, greatest(len(t) - 2, 0) + 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM ttoks WHERE len(t) >= 3
), tex AS (
  SELECT doc_id, unnest(s) AS shingle FROM tsh
), tinter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM tex a JOIN tex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tsizes AS (SELECT doc_id, len(s) AS n_sh FROM tsh),
truth AS (
  SELECT doc_a, doc_b, 1 AS tt
  FROM tinter
  JOIN tsizes sa ON sa.doc_id = doc_a
  JOIN tsizes sb ON sb.doc_id = doc_b
  WHERE floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e4 + 0.5e0) / 1e4
      >= {threshold}
),
lshp AS ({inner}),
lsh AS (SELECT doc_a, doc_b, 1 AS ll FROM lshp),
j AS (
  SELECT tt, ll FROM truth FULL OUTER JOIN lsh USING (doc_a, doc_b)
),
rep AS (
  SELECT CAST(coalesce(sum(tt), 0) AS BIGINT) AS truth_pairs,
         CAST(coalesce(sum(ll), 0) AS BIGINT) AS lsh_pairs,
         CAST(coalesce(sum(CASE WHEN tt IS NOT NULL AND ll IS NOT NULL
                           THEN 1 END), 0) AS BIGINT) AS matched
  FROM j
),
sc AS (SELECT CAST(count(*) AS INTEGER) AS sample_docs FROM smpl)
SELECT sc.sample_docs, rep.truth_pairs, rep.lsh_pairs, rep.matched,
       CASE WHEN rep.truth_pairs > 0
            THEN floor(rep.matched / rep.truth_pairs * 1e4 + 0.5e0) / 1e4
            END AS recall,
       CASE WHEN rep.lsh_pairs > 0
            THEN floor(rep.matched / rep.lsh_pairs * 1e4 + 0.5e0) / 1e4
            END AS precision
FROM rep, sc
"""


SQL_LSH_RECALL = _LazySQL(_sql_lsh_recall)


def q_lm_perplexity_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (operators/lm.py::
    train_bigram_kn / score_docs_kn) — the smoothing production
    perplexity filters actually run (CCNet's KenLM is modified KN):
    discounted bigram mass interpolates with the CONTINUATION
    probability N1+(*,w)/N1+(*,*) instead of raw unigram frequency.
    Same scale shape as the add-k model: one corpus pass builds the
    bigram counts, every other statistic aggregates the vocab-sized
    relation, scoring is explode + broadcastable count joins + one
    hash agg per doc. Self-scoring keeps the oracle self-contained;
    avg log2 rounds to 4 (partial-agg order differs between
    engines)."""
    from my_feast_spark.operators.lm import score_docs_kn, train_bigram_kn

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_kn(docs, "text")
    out = score_docs_kn(docs, "doc_id", "text", model)
    out._owned_caches = [model.bigrams]
    return out


SQL_LM_PERPLEXITY_KN = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS lt
  FROM documents
),
ev AS (
  SELECT doc_id,
         CASE WHEN CAST(u.pos AS INTEGER) = 1 THEN '<s>'
              ELSE lt[CAST(u.pos AS INTEGER) - 1] END AS h,
         lt[CAST(u.pos AS INTEGER)] AS w
  FROM t, UNNEST(generate_series(1, len(lt))) AS u(pos)
  WHERE len(lt) >= 1
),
big AS (SELECT h, w, count(*) AS c_hw FROM ev GROUP BY h, w),
uni AS (
  SELECT h, CAST(sum(c_hw) AS BIGINT) AS c_h, count(*) AS n1_h
  FROM big GROUP BY h
),
cont AS (SELECT w, count(*) AS n1_w FROM big GROUP BY w),
nall AS (SELECT CAST(count(*) AS DOUBLE) AS n1_all FROM big)
SELECT e.doc_id,
       floor(avg(log2(greatest(
           (greatest(b.c_hw - 0.75, 0.0)
            + 0.75 * u.n1_h * c.n1_w / n.n1_all) / u.c_h,
           1e-12))) * 1e4 + 0.5e0) / 1e4 AS avg_logprob,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM ev e
JOIN big b USING (h, w)
JOIN uni u USING (h)
JOIN cont c USING (w)
CROSS JOIN nall n
GROUP BY e.doc_id
"""


def q_jsonl_scan(spark, sf_dir):
    """JSONL interchange round-trip (sources/readers.py::read_jsonl +
    sources/writers.py::write_jsonl) — the format text corpora actually
    ship in. The documents table is written as gzipped JSON-Lines
    shards (maxRecordsPerFile sizing, no repartition shuffle), read
    back with an explicit schema in FAILFAST mode, and summarized per
    language: row count, character volume, and a portable content
    digest (sum of md5-derived buckets over ``doc_id:text``) that pins
    every round-tripped value, not just cardinalities. The oracle
    computes the identical summary straight from the parquet source, so
    a green row certifies writer + reader + escaping end-to-end."""
    from my_feast_spark.operators.dedup import _MASK63, portable_hash64
    from my_feast_spark.sources.readers import read_jsonl
    from my_feast_spark.sources.writers import write_jsonl

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base = _scratch_dir("mfs_jsonl_")
    write_jsonl(docs, base, target_rows_per_file=200)
    back = read_jsonl(
        spark, base, schema="doc_id long, lang string, text string",
        strict=True,
    )
    digest = F.pmod(
        portable_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).bitwiseAND(F.lit(_MASK63)),
        F.lit(1_000_000),
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(digest).alias("content_digest"),
    )


SQL_JSONL_SCAN = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum((md5_number_lower(CAST(doc_id AS VARCHAR) || ':' || text)
                 & 9223372036854775807) % 1000000) AS BIGINT)
         AS content_digest
FROM documents
GROUP BY lang
"""


def q_pack_bfd(spark, sf_dir):
    """Best-fit-decreasing sequence packing (operators/packing.py::
    pack_bfd): every document's whitespace-token count is packed into
    capacity-128 bins, sharded 8 ways by the portable md5 hash family
    so the per-shard sequential fold — the legitimate applyInPandas
    escape hatch: only (id, len) pairs leave the JVM — is replayed
    bit-for-bit by a DuckDB recursive CTE carrying the (remaining,
    pack_id)-encoded bin state. The fold order (len desc, id asc) and
    the tie rule (lowest pack id among equal best fits) are total
    orders, so the assignment is deterministic on both engines."""
    from my_feast_spark.functions.text import tokens
    from my_feast_spark.operators.dedup import _MASK63, portable_hash64
    from my_feast_spark.operators.packing import pack_bfd

    docs = _t(spark, sf_dir, "documents")
    slim = docs.select(
        F.pmod(
            portable_hash64(
                F.concat(F.col("doc_id").cast("string"), F.lit(":pack"))
            ).bitwiseAND(F.lit(_MASK63)),
            F.lit(8),
        ).cast("long").alias("shard"),
        F.col("doc_id"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).filter((F.col("n_tokens") >= 1) & (F.col("n_tokens") <= 128))
    return pack_bfd(slim, "doc_id", "n_tokens", 128, shard_col="shard")


# The recursive CTE replays the per-shard BFD fold exactly: items in
# (len desc, id asc) order; bin state as a BIGINT list encoding
# remaining * 2^32 + pack_id, so "smallest remaining >= len, lowest
# pack id among ties" is one list_min over a filtered list — the same
# total order pack_bfd's bisect walks.
SQL_PACK_BFD = r"""
WITH RECURSIVE slim AS (
  SELECT CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':pack')
         & 9223372036854775807) % 8 AS BIGINT) AS shard,
         doc_id AS id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS len
  FROM documents
  WHERE len(string_split_regex(trim(text), '\s+')) BETWEEN 1 AND 128
), items AS (
  SELECT shard, id, len,
         row_number() OVER (PARTITION BY shard ORDER BY len DESC, id) AS rn
  FROM slim
), st AS (
  SELECT shard, CAST(0 AS BIGINT) AS rn,
         CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS len,
         CAST(NULL AS BIGINT) AS pack_id,
         CAST([] AS BIGINT[]) AS keys, CAST(0 AS BIGINT) AS next_pack
  FROM (SELECT DISTINCT shard FROM items)
  UNION ALL
  SELECT i.shard, i.rn, i.id, i.len,
         CASE WHEN b.best IS NULL THEN s.next_pack
              ELSE b.best % 4294967296 END,
         CASE WHEN b.best IS NULL
              THEN list_append(s.keys,
                   (128 - i.len) * 4294967296 + s.next_pack)
              ELSE list_append(
                     list_filter(s.keys, k -> k != b.best),
                     ((b.best // 4294967296) - i.len) * 4294967296
                     + (b.best % 4294967296))
         END,
         CASE WHEN b.best IS NULL THEN s.next_pack + 1
              ELSE s.next_pack END
  FROM st s
  JOIN items i ON i.shard = s.shard AND i.rn = s.rn + 1,
  LATERAL (SELECT list_min(list_filter(s.keys,
                  k -> (k // 4294967296) >= i.len)) AS best) b
)
SELECT shard, pack_id, id, len FROM st WHERE rn >= 1
"""


def q_compaction_replay(spark, sf_dir):
    """Streaming-index compaction adjudicated end-to-end: the exact
    dedup ingest (streaming/ingest.py::dedup_ingest_stream) drains the
    documents table as three micro-batches (doc_id % 3, one shared
    checkpoint) with in-stream auto-compaction, then a CRASHED
    maintenance cycle is simulated — a fold commits its superset
    generation and deletes one of its sources, then dies before
    deleting the rest, so an absorbed generation lingers next to the
    fold — and compact_index heals it. The query raises unless exactly
    one generation remains, and returns the accepted corpus (winner per
    fingerprint in (batch, id) order) stamped with the healed index
    cardinality, so the CORRECTNESS row pins both the ingest dedup
    semantics and the lossless-compaction invariant."""
    import contextlib
    from unittest import mock

    from my_feast_spark.sources import generations
    from my_feast_spark.streaming.ingest import (
        compact_index,
        dedup_ingest_stream,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = _scratch_dir("mfs_compact_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    out = os.path.join(base, "accepted")
    idx = os.path.join(base, "fp_index")
    ckpt = os.path.join(base, "ckpt")
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        sdf = spark.readStream.schema("doc_id long, text string").parquet(
            in_dir
        )
        q = dedup_ingest_stream(
            sdf, out_path=out, index_path=idx, checkpoint=ckpt,
            available_now=True, index_buckets=4, compact_every=1,
        )
        if not q.awaitTermination(300):
            q.stop()

    # the interrupted cycle: the fold commits its marker, deletes one
    # source and dies
    deleted = []

    def crash_after_first_delete(fs, path):
        if deleted:
            raise InterruptedError("simulated crash mid-fold")
        deleted.append(path)
        fs.delete(path, True)

    with contextlib.suppress(InterruptedError), mock.patch.object(
        generations, "_remove", crash_after_first_delete
    ):
        compact_index(spark, idx)
    compact_index(spark, idx)
    survivors = [d for d in os.listdir(idx) if d.startswith("batch_id=")]
    gens = generations.committed(idx, "batch_id")
    if len(deleted) != 1 or len(survivors) != 1 or len(gens) != 1:
        raise RuntimeError(
            f"compaction did not converge to one generation: {survivors}"
        )
    n_idx = spark.read.parquet(gens[0][1]).count()
    return (
        spark.read.parquet(out)
        .select("doc_id", F.col("batch_id").cast("int").alias("batch_id"))
        .withColumn("index_rows", F.lit(n_idx).cast("long"))
    )


SQL_COMPACTION_REPLAY = r"""
WITH fp AS (
  SELECT doc_id, doc_id % 3 AS b,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
  FROM documents
), win AS (
  SELECT doc_id, b FROM fp
  QUALIFY row_number() OVER (PARTITION BY f ORDER BY b, doc_id) = 1
), n AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS index_rows FROM fp)
SELECT w.doc_id, CAST(w.b AS INTEGER) AS batch_id, n.index_rows
FROM win w CROSS JOIN n
"""


def q_compact_table_replay(spark, sf_dir):
    """Batch small-file compaction adjudicated end-to-end
    (sources/maintenance.py::compact_table — the crash-safe rewrite
    protocol for append-mode batch tables): the events table is staged
    day-partitioned and fragmented by three append-mode ingest runs
    (three files per day leaf), then BOTH crash windows of the commit
    protocol are planted before a single compact_table call:

      * the FIRST day leaf gets an UNCOMMITTED staging dir (a junk
        rewrite, no marker) — heal must ABORT it, originals stay
        authoritative;
      * the SECOND day leaf gets a COMMITTED staging dir (full rewrite
        staged + complete _COMMIT.json, one original already deleted —
        the mid-delete crash) — heal must FINISH it from the staged
        files.

    The query raises unless the heal counters, the compaction counters,
    and the post-compaction one-file-per-leaf layout are exact, then
    returns per-day content aggregates stamped with the total file
    count — the oracle recomputes them from the SOURCE table, so the
    green row pins losslessness across both heals plus the compaction
    itself. Scale shape: compaction is per-leaf parallel-safe and
    reads/writes each leaf once; the adjudicated content check is one
    day-grouped aggregate."""
    import shutil

    from my_feast_spark.sources.maintenance import (
        _MARKER,
        _STAGING,
        compact_table,
    )

    # first 8 days only: compact_table heals/compacts leaf-by-leaf
    # (sequential driver-side jobs by design — each leaf's rewrite is
    # independent and a real deployment parallelizes across tables, not
    # inside one call), so the adjudicated replay bounds the leaf count
    # rather than paying 30 tiny jobs for no extra coverage
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-09")
    ).select(
        F.col("event_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("event_day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    path = _scratch_dir("mfs_compact_table_")
    ev = ev.localCheckpoint()  # one scan feeds all fragmentation passes
    try:
        for frag in range(3):
            ev.filter(F.col("event_id") % 3 == frag).coalesce(1).write.mode(
                "append"
            ).partitionBy("event_day").parquet(path)
    finally:
        from my_feast_spark.operators.graph import release_checkpoint

        release_checkpoint(ev)
    days = sorted(
        d for d in os.listdir(path) if d.startswith("event_day=")
    )
    # crash window 1: uncommitted staging on the first leaf
    leaf_a = os.path.join(path, days[0])
    staging_a = os.path.join(leaf_a, _STAGING)
    spark.range(1).selectExpr("id AS junk").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(staging_a, "job-dead"))
    # crash window 2: committed staging, one original deleted, on the
    # second leaf — rebuild the exact mid-delete state by hand
    leaf_b = os.path.join(path, days[1])
    staging_b = os.path.join(leaf_b, _STAGING)
    originals = sorted(
        f for f in os.listdir(leaf_b) if not f.startswith(("_", "."))
    )
    work = os.path.join(staging_b, "job-crashed")
    spark.read.parquet(leaf_b).coalesce(1).write.mode("overwrite").parquet(
        work
    )
    for f in os.listdir(work):
        if not f.startswith(("_", ".")):
            os.rename(os.path.join(work, f), os.path.join(staging_b, f))
    shutil.rmtree(work)
    with open(os.path.join(staging_b, _MARKER), "w") as fh:
        json.dump({"originals": originals}, fh)
    os.remove(os.path.join(leaf_b, originals[0]))

    stats = compact_table(spark, path, min_files=2)
    n_days = len(days)
    per_leaf = {
        d: [
            f for f in os.listdir(os.path.join(path, d))
            if not f.startswith(("_", "."))
        ]
        for d in days
    }
    ok = (
        stats["healed_aborted"] == 1
        and stats["healed_finished"] == 1
        and stats["leaves"] == n_days
        # the healed-finished leaf is already one file -> not recompacted
        and stats["leaves_compacted"] == n_days - 1
        and all(len(v) == 1 for v in per_leaf.values())
        and stats["files_after"] == n_days
    )
    if not ok:
        raise RuntimeError(
            f"compact_table replay diverged: stats={stats} "
            f"files={ {d: len(v) for d, v in per_leaf.items()} }"
        )
    return (
        spark.read.parquet(path)
        .groupBy("event_day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .withColumn(
            "files_after", F.lit(int(stats["files_after"])).cast("long")
        )
        # partition-column inference types the yyyy-MM-dd dir values as
        # DATE on read-back; the adjudicated contract is the string form
        .select(
            F.col("event_day").cast("string").alias("event_day"),
            "n_rows", "sum_value", "files_after",
        )
    )


SQL_COMPACT_TABLE_REPLAY = """
WITH e AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-09'
), d AS (
  SELECT event_day, COUNT(*) AS n_rows, CAST(SUM(v) AS DOUBLE) AS sum_value
  FROM e GROUP BY event_day
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS files_after FROM d)
SELECT d.event_day, d.n_rows, d.sum_value, n.files_after
FROM d CROSS JOIN n
"""


def q_zorder_scan(spark, sf_dir):
    """Z-order layout rewrite + file-level stats skipping adjudicated
    end-to-end (sources/zorder.py::zorder_table +
    sources/skipping.py::write_file_stats/scan_with_skipping — the two
    plain-parquet layout levers that replicate Delta's OPTIMIZE
    ZORDER + data-skipping log): orders gets two uniform portable-hash
    keys (the oracle replays them via md5_number_lower), is written
    naturally-ordered, rewritten z-clustered on (k1, k2) into 16
    files, footer-swept into the stats sidecar (the DISTRIBUTED sweep
    path — spark passed), then scanned with a selective 2-D range
    predicate. The query RAISES unless the report proves real pruning
    (0 < files_read < files_total, skipped+read == total) and stamps
    the prune facts on every row — the oracle asserts them as TRUE
    literals and recomputes the content aggregates from the source
    table, so the green row pins layout losslessness, sidecar
    correctness, AND that the scan never opened most of the table.
    Scale shape: the rewrite is one range-partition shuffle; the sweep
    is one footer-read task per file slice; the scan schedules only
    surviving files — the lever that turns a 100 TB selective query
    into a file-count-proportional one."""
    from my_feast_spark.operators.dedup import _MASK63, portable_hash64
    from my_feast_spark.sources.skipping import (
        scan_with_skipping,
        write_file_stats,
    )
    from my_feast_spark.sources.zorder import zorder_table

    def _key(salt):
        return F.pmod(
            portable_hash64(
                F.concat(F.col("o_orderkey").cast("string"), F.lit(salt))
            ).bitwiseAND(F.lit(_MASK63)),
            F.lit(1000),
        )

    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        _key(":zk1").alias("k1"),
        _key(":zk2").alias("k2"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = _scratch_dir("mfs_zorder_scan_")
    nat = f"{root}/natural"
    src.repartition(8).write.mode("overwrite").parquet(nat)
    z = zorder_table(
        spark, nat, ["k1", "k2"], out_path=f"{root}/z", num_files=16
    )
    write_file_stats(z, ["k1", "k2"], spark=spark)
    pruned_df, rep = scan_with_skipping(
        spark, z, {"k1": (100, 299), "k2": (400, 699)}
    )
    if not (
        rep["files_read"] + rep["files_skipped"] == rep["files_total"]
        and 0 < rep["files_read"] < rep["files_total"]
    ):
        raise RuntimeError(f"z-order scan failed to prune: {rep}")
    return (
        pruned_df.groupBy(F.floor(F.col("k1") / 50).alias("k1_band"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("price").cast("double").alias("sum_price"),
        )
        .withColumn(
            "files_pruned",
            F.lit(bool(rep["files_read"] < rep["files_total"])),
        )
        .withColumn(
            "files_covered",
            F.lit(bool(
                rep["files_read"] + rep["files_skipped"]
                == rep["files_total"]
            )),
        )
    )


SQL_ZORDER_SCAN = """
WITH src AS (
  SELECT o_orderkey,
         CAST((md5_number_lower(CAST(o_orderkey AS VARCHAR) || ':zk1')
               & 9223372036854775807) % 1000 AS BIGINT) AS k1,
         CAST((md5_number_lower(CAST(o_orderkey AS VARCHAR) || ':zk2')
               & 9223372036854775807) % 1000 AS BIGINT) AS k2,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT CAST(k1 // 50 AS BIGINT) AS k1_band,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(price) AS DOUBLE) AS sum_price,
       TRUE AS files_pruned,
       TRUE AS files_covered
FROM src
WHERE k1 BETWEEN 100 AND 299 AND k2 BETWEEN 400 AND 699
GROUP BY 1
"""


def q_materialize_stream(spark, sf_dir):
    """Streaming online-store materialization adjudicated end-to-end
    (streaming/online.py::materialize_stream, closing the reference's
    batch-materialize staleness gap,
    chicago_taxi_trips_hourly_gold.ipynb:473-479). Invariants pinned: a
    batch materialize writes the base in the BUCKETED layout (8
    __pbucket partitions, recorded in its meta) from the first third of
    the events window; two streaming rounds publish the rest as deltas,
    the first REPLAYING the materialized rows too (fresh checkpoint:
    the duplicate collapses); the event_id%3 split makes deltas carry
    rows OLDER than the base, which never regress latest-per-entity.
    It raises unless every committed generation records 8 buckets and
    holds __pbucket directories. The result, the online rows, equals
    the one-shot batch latest-per-key over the window — the oracle."""
    from my_feast_spark.core import (
        Entity,
        Feature,
        FeatureStore,
        FeatureView,
        FileSource,
    )
    from my_feast_spark.streaming.online import materialize_stream

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-08"))
        .select(
            "user_id", "ts", "event_id", "event_type",
            F.col("value").cast("double").alias("value"),
        )
    )
    base = _scratch_dir("mfs_mat_stream_")
    in_dir = os.path.join(base, "incoming")
    ckpt = os.path.join(base, "ckpt")
    repo = os.path.join(base, "repo")
    os.makedirs(repo)
    with open(os.path.join(repo, "feature_store.yaml"), "w") as fh:
        fh.write(
            "project: mat_stream\nonline_store:\n  type: parquet\n"
            "  buckets: 8\n"
        )
    fs = FeatureStore(repo, spark=spark)
    fs.apply([
        Entity(name="user", value_type="INT64", join_keys=["user_id"]),
        FeatureView(
            name="user_latest",
            entities=["user"],
            features=[
                Feature("event_type", "STRING"),
                Feature("value", "DOUBLE"),
            ],
            source=FileSource(
                path=in_dir,
                timestamp_field="ts",
                created_timestamp_column="event_id",
            ),
        ),
    ])
    ev = ev.localCheckpoint()  # one scan feeds all three batch writes
    try:
        ev.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        fs.materialize(
            dt.datetime(2024, 1, 1), dt.datetime(2024, 12, 31),
            ["user_latest"],
        )
        sch = (
            "user_id long, ts timestamp, event_id long, "
            "event_type string, value double"
        )
        for b in (1, 2):
            ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            q = materialize_stream(
                fs, "user_latest",
                spark.readStream.schema(sch).parquet(in_dir),
                checkpoint=ckpt, available_now=True,
            )
            if not q.awaitTermination(300):
                q.stop()
    finally:
        from my_feast_spark.operators.graph import release_checkpoint

        release_checkpoint(ev)
    gens = fs._online_committed("user_latest")
    snap, buckets, _schema = fs._online_latest("user_latest", gens)
    flat = [
        p for _, p in gens
        if not any(d.startswith("__pbucket=") for d in os.listdir(p))
    ]
    if buckets != 8 or flat:
        raise RuntimeError(
            f"streaming merge lost the bucketed layout: generations "
            f"record {buckets} buckets, unbucketed: {flat}"
        )
    return snap.select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("feature_ts"),
        "event_type",
        F.round("value", 2).alias("value"),
        F.lit(int(buckets)).cast("long").alias("layout_buckets"),
    )


SQL_MATERIALIZE_STREAM = """
WITH r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS feature_ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08'
)
SELECT user_id, feature_ts, event_type, round(value, 2) AS value,
       CAST(8 AS BIGINT) AS layout_buckets
FROM r WHERE rn = 1
"""


def q_scd2_stream_maintain(spark, sf_dir):
    """Streaming SCD2 maintenance adjudicated end-to-end
    (streaming/scd2.py::scd2_maintain_stream): the events table arrives
    as three micro-batches split by event_id % 3 — batches 1 and 2
    carry events EARLIER than batch 0's, the late arrivals that must
    SPLIT intervals the previous batch already wrote — each batch
    appending to the bucket-partitioned event log and rebuilding only
    its touched key buckets' intervals under dynamic partition
    overwrite. The maintained table's contract is equality with the
    one-shot batch scd2_intervals rebuild over everything ingested; the
    oracle replays exactly that rebuild in SQL, so the green row pins
    the late-split recompute, the idempotent log append, and the
    bucket-pruned overwrite in one hash. Scale shape: per batch the
    recompute cost is (touched buckets / n_buckets) of the log scan,
    partition-pruned — never the whole corpus."""
    from my_feast_spark.streaming.scd2 import (
        read_scd2_table,
        scd2_maintain_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    base = _scratch_dir("mfs_scd2m_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    log = os.path.join(base, "event_log")
    ivals = os.path.join(base, "intervals")
    ckpt = os.path.join(base, "ckpt")
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        sdf = spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        ).parquet(in_dir)
        q = scd2_maintain_stream(
            sdf, events_path=log, intervals_path=ivals, checkpoint=ckpt,
            keys=["user_id"], ts_col="ts", state_col="event_type",
            tie_breakers=["event_id"], n_buckets=8, available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
    return read_scd2_table(spark, ivals)


#: identical contract to the batch rebuild — scd2_maintain_stream's
#: output must equal scd2_intervals over the full event log
SQL_SCD2_STREAM_MAINTAIN = SQL_SCD2_USER_STATE


def q_scd2_lookup(spark, sf_dir):
    """Point-in-time state lookup against the materialized SCD2 table
    (operators/aggregations.py::scd2_lookup) — WHY a feature store
    materializes scd2_intervals: the as-of join's window machinery
    collapses to an equi join on the entity key plus a range conjunct,
    and per key the interval relation holds one row per state CHANGE
    (not per event), so the join fan-out is bounded and each probe
    matches at most one interval by the timeline-partition invariant.
    Probes are the purchase events; each gains the state its user was
    in at that instant. Scale shape: one shuffle to build intervals,
    one key-equi join for the lookup (range conjunct filters matches;
    at a real events-per-change ratio the interval side is orders of
    magnitude smaller and broadcastable)."""
    from my_feast_spark.operators.aggregations import (
        scd2_intervals,
        scd2_lookup,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ivals = scd2_intervals(
        ev, ["user_id"], "ts", "event_type", tie_breakers=["event_id"]
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("probe_ts")
    )
    return scd2_lookup(
        ivals, probes, ["user_id"], "probe_ts", state_col="state"
    ).select(
        "event_id", "user_id",
        F.col("probe_ts").cast("timestamp_ntz").alias("probe_ts"),
        "state",
    )


SQL_SCD2_LOOKUP = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
chg AS (
  SELECT user_id, ts, event_id, event_type FROM e
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
),
iv AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM chg
),
p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS probe_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.probe_ts, iv.state
FROM p LEFT JOIN iv
  ON iv.user_id = p.user_id
 AND iv.valid_from <= p.probe_ts
 AND (iv.valid_to IS NULL OR p.probe_ts < iv.valid_to)
"""


#: unigram tokenizer params for the adjudicated query (modest so the
#: driver row stays cheap; the operator scales by the module contract)
_UNIGRAM_KW = dict(
    vocab_size=400, seed_size=1500, max_piece_len=6, iterations=3
)


def q_unigram_tokenize(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer train + encode
    (operators/unigram.py) — the second real-world tokenizer-training
    algorithm next to BPE (bpe_merge_replay): substring-seeded vocab,
    EM shrink with QUANTIZED expected counts (exact BIGINT aggregation
    — order-independent, the pagerank_fixedpoint trick applied to EM),
    Viterbi encode. Returns per-doc (n_pieces, md5 digest of the piece-
    id sequence) stamped with the final vocab size; the oracle's mirror
    retrains the identical vocabulary driver-side (same kernel closures,
    same exact-integer prunes) and injects every doc's digest as
    literals. Scale shape: corpus scanned once into the word-count
    relation; each EM iteration is one Arrow pass over WORDS (never the
    corpus) + one exact long aggregation; encode is map-only with the
    vocab in the closure."""
    from my_feast_spark.operators.unigram import (
        train_unigram,
        unigram_encode,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = train_unigram(docs, "text", **_UNIGRAM_KW)
    n_vocab = vocab.count()
    enc = unigram_encode(
        docs, "doc_id", "text", vocab,
        max_piece_len=_UNIGRAM_KW["max_piece_len"],
    )
    return enc.select(
        "doc_id",
        "n_pieces",
        F.md5(
            F.concat_ws(
                ",", F.transform("piece_ids", lambda x: x.cast("string"))
            )
        ).alias("ids_digest"),
        F.lit(int(n_vocab)).cast("long").alias("vocab_size"),
    )


def _sql_unigram_tokenize():
    """Oracle generator for q_unigram_tokenize: the driver-side mirror
    (operators/unigram.py::train_unigram_local — the same kernel
    closures and exact-integer arithmetic as the Spark path) retrains
    the vocabulary from the oracle parquet, encodes every doc, and
    injects (doc_id, n_pieces, digest) literals. Returns None
    (rows-only) if the oracle testdata is absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import hashlib

    import pyarrow.parquet as pq_  # noqa: N813

    from my_feast_spark.operators.unigram import (
        encode_local,
        train_unigram_local,
    )

    t = pq_.read_table(path, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    lp = train_unigram_local(texts, **_UNIGRAM_KW)
    rows = []
    for i, s in zip(ids, texts):
        enc = encode_local(
            s, lp, max_piece_len=_UNIGRAM_KW["max_piece_len"]
        )
        digest = hashlib.md5(
            ",".join(str(x) for x in enc).encode()
        ).hexdigest()
        rows.append(f"({int(i)}, {len(enc)}, '{digest}')")
    vals = ", ".join(rows)
    return f"""
WITH enc(doc_id, n_pieces, ids_digest) AS (VALUES {vals})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_pieces AS BIGINT) AS n_pieces,
       ids_digest,
       CAST({len(lp)} AS BIGINT) AS vocab_size
FROM enc
"""


SQL_UNIGRAM_TOKENIZE = _LazySQL(_sql_unigram_tokenize)


def q_wordpiece_tokenize(spark, sf_dir):
    """WordPiece tokenizer train + encode (operators/wordpiece.py) —
    the third real-world tokenizer-training algorithm, completing the
    BPE / unigram-LM / WordPiece family a training-data pipeline
    chooses between: likelihood-argmax merges
    (count(ab)/(count(a)*count(b)), exact integer cross-multiplication
    — no float in any decision), greedy longest-match encode with
    [UNK] for unsegmentable words. Returns per-doc (n_pieces, n_unk,
    md5 digest of the piece-id sequence) stamped with the final vocab
    size; the oracle's mirror retrains the identical vocabulary
    driver-side (same kernel closures, shared merge-loop function) and
    injects every doc's digest as literals. Scale shape: ONE corpus
    pass builds the distinct-word table (the bpe.py observation — the
    merge loop is vocabulary-sized, in-process), encode is map-only
    with the vocab in the closure."""
    from my_feast_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = train_wordpiece(docs, "text", **_WORDPIECE_KW)
    n_vocab = vocab.count()
    enc = wordpiece_encode(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        "n_pieces",
        "n_unk",
        F.md5(
            F.concat_ws(
                ",", F.transform("piece_ids", lambda x: x.cast("string"))
            )
        ).alias("ids_digest"),
        F.lit(int(n_vocab)).cast("long").alias("vocab_size"),
    )


_WORDPIECE_KW = dict(vocab_size=400, min_pair_count=2)


def _sql_wordpiece_tokenize():
    """Oracle generator for q_wordpiece_tokenize: the driver-side
    mirror (operators/wordpiece.py::train_wordpiece_local — the same
    kernel closures and the SHARED merge-loop function as the Spark
    path) retrains the vocabulary from the oracle parquet, encodes
    every doc, and injects (doc_id, n_pieces, n_unk, digest) literals.
    Returns None (rows-only) if the oracle testdata is absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import hashlib

    import pyarrow.parquet as pq_  # noqa: N813

    from my_feast_spark.operators.wordpiece import (
        UNK,
        encode_local,
        train_wordpiece_local,
    )

    t = pq_.read_table(path, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    pieces = train_wordpiece_local(texts, **_WORDPIECE_KW)
    unk_id = pieces.index(UNK)
    rows = []
    for i, s in zip(ids, texts):
        enc = encode_local(s, pieces)
        digest = hashlib.md5(
            ",".join(str(x) for x in enc).encode()
        ).hexdigest()
        rows.append(
            f"({int(i)}, {len(enc)}, {enc.count(unk_id)}, '{digest}')"
        )
    vals = ", ".join(rows)
    return f"""
WITH enc(doc_id, n_pieces, n_unk, ids_digest) AS (VALUES {vals})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_pieces AS BIGINT) AS n_pieces,
       CAST(n_unk AS BIGINT) AS n_unk,
       ids_digest,
       CAST({len(pieces)} AS BIGINT) AS vocab_size
FROM enc
"""


SQL_WORDPIECE_TOKENIZE = _LazySQL(_sql_wordpiece_tokenize)


def _warc_capture_dir(sf_dir: str) -> str:
    """Build (once per sf_dir) a crawl-shard WARC fixture: every
    document rendered as an HTML page inside an HTTP response record,
    written as 4 per-record-gzip ``.warc.gz`` shards (the Common-Crawl
    layout) under the repo warehouse dir. Content-addressable: same
    input rows -> byte-identical shards, so the cache never goes stale
    for the immutable testdata dirs."""
    import hashlib

    import pyarrow.parquet as pq

    from my_feast_spark.sources.warc_io import write_warc_file

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(repo_root, "spark-warehouse", f"warc_capture_{key}")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "source", "text"],
    )
    rows = sorted(t.to_pylist(), key=lambda r: r["doc_id"])
    recs = []
    for r in rows:
        esc = (
            (r["text"] or "")
            .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )
        html = (
            f"<html><head><title>Doc {r['doc_id']}</title>"
            "<style>p {margin:0}</style>"
            f"<script>var id={r['doc_id']};</script></head>"
            f"<body><h1>{r['source']}</h1><p>{esc}</p>"
            "<!-- crawl fixture --></body></html>"
        ).encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode() + html
        )
        recs.append(dict(
            warc_type="response",
            record_id=f"<urn:uuid:doc-{r['doc_id']}>",
            url=f"http://crawl.test/{r['source']}/{r['doc_id']}",
            warc_date="2024-01-01T00:00:00Z",
            content_type="application/http; msgtype=response",
            payload=http,
        ))
    n_files = 4
    for i in range(n_files):
        write_warc_file(
            os.path.join(out, f"shard-{i}.warc.gz"), recs[i::n_files]
        )
    open(done, "w").close()
    return out


def q_warc_text_extract(spark, sf_dir):
    """WARC crawl-shard scan + HTML text extraction end-to-end
    (sources/warc_io.py::warc_scan + functions/html.py::strip_html) —
    the real front door of a crawl-curation pipeline, upstream of the
    URL/lang/quality/dedup tiers this engine already runs: binaryFile
    gives one task per ``.warc.gz`` shard, the self-contained parser
    walks the gzip members and splits each response's HTTP envelope,
    and extraction is a pure regexp_replace chain (whole-stage codegen,
    no UDF) decoding the body to text. The fixture wraps every document
    in a deterministic HTML template (title/style/script/comment/
    entities all exercised); the oracle rebuilds the identical HTML in
    SQL and replays the IDENTICAL strip chain
    (functions/html.py::strip_html_sql — same patterns, same order), so
    the green row pins the record framing, the HTTP split, AND the
    extraction semantics. Scale shape: parse is embarrassingly parallel
    at shard granularity with zero shuffle; extraction rides the scan."""
    from my_feast_spark.functions.html import strip_html
    from my_feast_spark.sources.warc_io import warc_scan

    path = _warc_capture_dir(sf_dir)
    resp = warc_scan(spark, path).filter(F.col("warc_type") == "response")
    txt = resp.select(
        F.regexp_extract("url", "/([0-9]+)$", 1).cast("long")
        .alias("doc_id"),
        F.col("http_status"),
        strip_html(F.decode(F.col("payload"), "UTF-8")).alias("t"),
    )
    return txt.select(
        "doc_id",
        "http_status",
        F.octet_length("t").alias("n_bytes"),
        F.md5(F.encode(F.col("t"), "UTF-8")).alias("text_md5"),
    )


def _sql_warc_text_extract():
    """Oracle generator for q_warc_text_extract: rebuild the fixture's
    HTML template per document in SQL and replay the identical
    strip-chain via functions/html.py::strip_html_sql."""
    from my_feast_spark.functions.html import strip_html_sql

    html_expr = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p {margin:0}</style>"
        "<script>var id=' || CAST(doc_id AS VARCHAR) || ';</script>"
        "</head><body><h1>' || source || '</h1><p>' || "
        "replace(replace(replace(coalesce(text, ''), "
        "'&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
        "'</p><!-- crawl fixture --></body></html>'"
    )
    return f"""
WITH h AS (
  SELECT doc_id, {html_expr} AS html FROM documents
), s AS (
  SELECT doc_id, {strip_html_sql('html')} AS t FROM h
)
SELECT doc_id,
       CAST(200 AS INTEGER) AS http_status,
       CAST(strlen(t) AS INTEGER) AS n_bytes,
       md5(t) AS text_md5
FROM s
"""


SQL_WARC_TEXT_EXTRACT = _LazySQL(_sql_warc_text_extract)


def q_audio_vad(spark, sf_dir):
    """Voice-activity segmentation over audio assets (multimodal/
    audio.py::segment_silence): fake MFAU assets from the documents
    table (text bytes as u8 PCM — the honest codec stub, real decoders
    aren't in this container), then the Arrow-batched mapInPandas VAD
    pass — per-window RMS against a silence threshold, run-length over
    the voiced mask, one output row per kept segment with its time
    bounds and energy. Parameters (threshold 0.33, 5 ms windows @ 8 kHz
    = 40-sample frames) chosen so the sf0.01 corpus genuinely exercises
    the run-length logic: multi-segment docs, zero-segment docs, and
    dropped sub-minimum runs all occur. RMS is floor-rounded to 6dp on
    both engines (the repo's stable-round convention). Scale shape:
    map-only — one Arrow transfer per batch, no shuffle; the oracle
    recomputes every segment with the same float32/float64 arithmetic
    driver-side and injects them as literals."""
    from my_feast_spark.multimodal.audio import (
        encode_fake_audio_assets,
        segment_silence,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = encode_fake_audio_assets(docs, "doc_id", "text")
    seg = segment_silence(
        assets, silence_rms=0.33, window_ms=5, min_segment_windows=2
    )
    return seg.select(
        "asset_id", "segment_idx", "start_ms", "end_ms",
        (F.floor(F.col("rms") * 1e6 + F.lit(0.5)) / 1e6).alias("rms"),
    )


def _vad_segments(payload: bytes, *, sr=8000, silence_rms=0.33,
                  window_ms=5, min_seg=2):
    """Pure-Python mirror of audio.segment_silence's windowed-RMS
    run-length (float32 sample decode, numpy mean — the Arrow path's
    exact arithmetic; the Spark path is pinned against hand-computed
    segments by tests/test_multimodal_audio.py)."""
    import numpy as np

    s = (
        np.frombuffer(payload, dtype=np.uint8).astype(np.float32) - 128.0
    ) / 128.0
    win = max(int(sr * window_ms / 1000), 1)
    n_win = len(s) // win
    if not n_win:
        return []
    w = s[: n_win * win].reshape(n_win, win)
    voiced = np.sqrt((w * w).mean(axis=1)) >= silence_rms
    out, seg, i = [], 0, 0
    while i < n_win:
        if voiced[i]:
            j = i
            while j < n_win and voiced[j]:
                j += 1
            if j - i >= min_seg:
                seg_s = s[i * win:j * win]
                rms = float(np.sqrt((seg_s * seg_s).mean()))
                out.append((
                    seg, int(i * win * 1000 / sr), int(j * win * 1000 / sr),
                    math.floor(rms * 1e6 + 0.5) / 1e6,
                ))
                seg += 1
            i = j
        else:
            i += 1
    return out


def _sql_audio_vad():
    """Oracle generator for q_audio_vad: recompute every VAD segment
    driver-side and inject as literals (the audio_dedup oracle
    pattern). Returns None (rows-only) if the oracle testdata is
    absent."""
    path = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq_  # noqa: N813

    t = pq_.read_table(path, columns=["doc_id", "text"])
    rows = []
    for i, s in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        for seg, start_ms, end_ms, rms in _vad_segments(
            s.encode("ISO-8859-1")
        ):
            rows.append(
                f"({int(i)}, {seg}, {start_ms}, {end_ms}, {rms:.6f})"
            )
    vals = ", ".join(rows)
    return f"""
WITH seg(asset_id, segment_idx, start_ms, end_ms, rms) AS (VALUES {vals})
SELECT CAST(asset_id AS BIGINT) AS asset_id,
       CAST(segment_idx AS INTEGER) AS segment_idx,
       CAST(start_ms AS BIGINT) AS start_ms,
       CAST(end_ms AS BIGINT) AS end_ms,
       CAST(rms AS DOUBLE) AS rms
FROM seg
"""


SQL_AUDIO_VAD = _LazySQL(_sql_audio_vad)


# --- cardinality / overlap sketches (operators/sketches.py) ---------------

#: KMV sketch size for the overlap query: error ~ 1/sqrt(k) ≈ 6%.
_KMV_K = 256
#: HLL precision for the group-distinct profile: m=256 registers,
#: error ~ 1.04/sqrt(m) ≈ 6.5%.
_HLL_P = 8


def q_hll_group_distinct(spark, sf_dir, hash_fn="portable"):
    """Per-group distinct-count profile by HyperLogLog register table
    (operators/sketches.py): distinct users per event type WITHOUT a
    count(DISTINCT) re-key of the events relation. The shuffle carries
    at most m=2^p rows per group (map-side max partial agg), constant
    in input volume — the state is mergeable across days/shards with an
    elementwise register MAX, which count(DISTINCT) can never be. The
    adjudicated row carries the full register digest, the exact-integer
    Z sum, and the estimate — so the driver hash checks the SKETCH, not
    just the scalar."""
    from my_feast_spark.operators.sketches import hll_group_distinct

    ev = _t(spark, sf_dir, "events")
    out = hll_group_distinct(
        ev.select("event_type", F.col("user_id").cast("string").alias("u")),
        "u", ["event_type"], p=_HLL_P, hash_fn=hash_fn,
    )
    return out.select(
        "event_type", "n_zero", "sum_scaled", "registers_md5", "est_distinct"
    )


def _sql_hll_group_distinct(p: int = _HLL_P) -> str:
    from my_feast_spark.operators.sketches import (
        HLL_SCALE_BITS, hll_alpha, hll_rho_sql, sketch_hash_sql,
    )

    m = 1 << p
    width = 63 - p
    alpha = hll_alpha(m)
    scale = 1 << HLL_SCALE_BITS
    hs = sketch_hash_sql("CAST(user_id AS VARCHAR)")
    rho = hll_rho_sql("rest", width)
    reg = ("lpad(CAST(bucket AS VARCHAR),4,'0') || ':' || "
           "lpad(CAST(rho AS VARCHAR),2,'0')")
    raw = (f"round({alpha!r}e0 * {m} * {m} * {float(scale)!r}e0 / "
           f"(n_zero * {scale} + sum_scaled), 4)")
    return f"""
WITH h AS (SELECT event_type, {hs} AS hv FROM events),
b AS (SELECT event_type, hv & {m - 1} AS bucket, hv >> {p} AS rest FROM h),
r AS (SELECT event_type, bucket, max({rho}) AS rho FROM b GROUP BY 1, 2),
a AS (
  SELECT event_type,
         CAST({m} - count(*) AS BIGINT) AS n_zero,
         CAST(sum(CASE WHEN rho <= {HLL_SCALE_BITS}
                       THEN (CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - rho))
                       ELSE 0 END) AS BIGINT) AS sum_scaled,
         md5(string_agg({reg}, ',' ORDER BY {reg})) AS registers_md5
  FROM r GROUP BY 1)
SELECT event_type, n_zero, sum_scaled, registers_md5,
       CASE WHEN {raw} <= {2.5 * m!r}e0 AND n_zero > 0
            THEN round({float(m)!r}e0 * ln({float(m)!r}e0 / n_zero), 4)
            ELSE {raw} END AS est_distinct
FROM a
"""


SQL_HLL_GROUP_DISTINCT = _LazySQL(_sql_hll_group_distinct)

#: streaming HLL maintenance precision — differs from the batch query's
#: so the two adjudicated rows never share registers by accident
_HLL_STREAM_P = 10


def q_streaming_sketch_ingest(spark, sf_dir):
    """Streaming HLL sketch maintenance adjudicated end-to-end
    (streaming/sketches.py::hll_ingest_stream): the events table arrives
    as three micro-batches (event_id % 3), each writing ONLY its own
    registers to a ``batch_id=N`` generation; ``compact_every=2`` folds
    the early generations mid-stream through the shared compact_index
    protocol (set semantics hold for registers under max-merge — the
    module docstring's argument, exercised here in the adjudicated
    run). The maintained estimate's contract is equality with the
    one-shot batch sketch over everything ingested — HLL mergeability —
    and THAT is what the DuckDB oracle replays."""
    from my_feast_spark.streaming.sketches import (
        hll_ingest_stream,
        hll_stream_estimate,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("user_id").cast("string").alias("u"),
    )
    base = _scratch_dir("mfs_hlls_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    sk = os.path.join(base, "sketch")
    ckpt = os.path.join(base, "ckpt")
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).select(
            "event_type", "u"
        ).coalesce(1).write.mode("append").parquet(in_dir)
        sdf = spark.readStream.schema(
            "event_type string, u string"
        ).parquet(in_dir)
        q = hll_ingest_stream(
            sdf, sketch_path=sk, checkpoint=ckpt, value_col="u",
            group_cols=["event_type"], p=_HLL_STREAM_P, compact_every=2,
            available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
    return hll_stream_estimate(
        spark, sk, p=_HLL_STREAM_P, group_cols=["event_type"]
    )


#: the maintained stream state must equal the one-shot batch sketch —
#: the oracle replays the batch form at the stream's precision
SQL_STREAMING_SKETCH_INGEST = _LazySQL(
    lambda: _sql_hll_group_distinct(_HLL_STREAM_P)
)


def q_kmv_corpus_overlap(spark, sf_dir, hash_fn="portable"):
    """Corpus-overlap estimation by KMV (bottom-k) sketches
    (operators/sketches.py): distinct 3-word-shingle cardinality of two
    corpus halves (doc_id parity), their union, Jaccard, and the
    intersection size — from THREE k-row sketches instead of three
    corpus-wide distinct counts. Spark shape: ONE distinct-by-hash
    shuffle builds the flagged hash relation (in_a/in_b), then three
    TakeOrderedAndProject bottom-k passes over the persisted result (k
    rows per partition to the driver merge, never the distinct set).
    The estimators are exact-integer until one final division (rounded
    4 dp), so the DuckDB oracle replays sketch members AND estimates
    bit-for-bit."""
    from my_feast_spark.operators.dedup import _with_shingles
    from my_feast_spark.operators.sketches import TWO63_F, sketch_hash

    k = _KMV_K
    docs = _t(spark, sf_dir, "documents")
    sh = _with_shingles(docs, "doc_id", "text", 3)
    ex = sh.select("doc", F.explode("sh").alias("sg"))
    # Aggregate-first (r16 optimization): collapse the gram stream to
    # (sg, in_a, in_b) BEFORE hashing, then hash each distinct gram
    # once and re-group by the hash (md5 collisions merge exactly as
    # when grouping the raw hashed stream — max of maxes — so members
    # and flags are bit-identical). The portable md5 chain previously
    # ran per gram OCCURRENCE in front of the one corpus shuffle
    # (7.86s at sf0.1); now it runs per distinct gram, and the second
    # exchange is distinct-gram-sized (~2x faster). The shuffle key
    # widens from 8-byte hash to the gram string — at 100 TB flip
    # hash_fn to xxhash64 (benched variant) where hashing first is
    # one cheap intrinsic and the narrow key wins again.
    base = (
        ex.select(
            "sg",
            (F.col("doc") % 2 == 0).cast("int").alias("a"),
            (F.col("doc") % 2 == 1).cast("int").alias("b"),
        )
        .groupBy("sg")
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
        .select(sketch_hash(F.col("sg"), hash_fn).alias("h"), "a", "b")
        .groupBy("h")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
        .persist()
    )
    numer = F.lit(float(k - 1) * TWO63_F)

    def _est(kth, n):
        return F.when(
            n >= k, F.round(numer / kth, 4)
        ).otherwise(n.cast("double"))

    bot_a = base.where(F.col("in_a") == 1).orderBy("h").limit(k)
    bot_b = base.where(F.col("in_b") == 1).orderBy("h").limit(k)
    bot_u = base.orderBy("h").limit(k)
    agg_a = bot_a.agg(
        F.max("h").alias("kth_a"), F.count(F.lit(1)).alias("n_a")
    )
    agg_b = bot_b.agg(
        F.max("h").alias("kth_b"), F.count(F.lit(1)).alias("n_b")
    )
    agg_u = bot_u.agg(
        F.max("h").alias("kth_union"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_common"),
    )
    out = (
        agg_a.crossJoin(F.broadcast(agg_b))
        .crossJoin(F.broadcast(agg_u))
        .select(
            F.lit(k).cast("long").alias("k"),
            "kth_a", "kth_b", "kth_union", "n_common",
            _est(F.col("kth_a"), F.col("n_a")).alias("est_distinct_a"),
            _est(F.col("kth_b"), F.col("n_b")).alias("est_distinct_b"),
            _est(F.col("kth_union"), F.col("n_union")).alias(
                "est_distinct_union"
            ),
            F.round(F.col("n_common") / F.col("n_union"), 4).alias(
                "est_jaccard"
            ),
        )
        .withColumn(
            "est_intersection",
            F.round(F.col("est_jaccard") * F.col("est_distinct_union"), 4),
        )
    )
    out._owned_caches = [base]
    return out


def _sql_kmv_corpus_overlap() -> str:
    k = _KMV_K
    numer = f"{float(k - 1)!r}e0 * 9.223372036854775808e18"
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), ex AS (
  SELECT doc, unnest(s) AS sg FROM sh
), base AS MATERIALIZED (
  SELECT (md5_number_lower(sg) & 9223372036854775807) AS h,
         max(CASE WHEN doc % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN doc % 2 = 1 THEN 1 ELSE 0 END) AS in_b
  FROM ex GROUP BY 1
), ka AS (
  SELECT max(h) AS kth_a, CAST(count(*) AS BIGINT) AS n_a
  FROM (SELECT h FROM base WHERE in_a = 1 ORDER BY h LIMIT {k})
), kb AS (
  SELECT max(h) AS kth_b, CAST(count(*) AS BIGINT) AS n_b
  FROM (SELECT h FROM base WHERE in_b = 1 ORDER BY h LIMIT {k})
), ku AS (
  SELECT max(h) AS kth_union, CAST(count(*) AS BIGINT) AS n_union,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_common
  FROM (SELECT h, in_a, in_b FROM base ORDER BY h LIMIT {k})
)
SELECT CAST({k} AS BIGINT) AS k, kth_a, kth_b, kth_union, n_common,
       CASE WHEN n_a >= {k} THEN round(({numer}) / kth_a, 4)
            ELSE CAST(n_a AS DOUBLE) END AS est_distinct_a,
       CASE WHEN n_b >= {k} THEN round(({numer}) / kth_b, 4)
            ELSE CAST(n_b AS DOUBLE) END AS est_distinct_b,
       CASE WHEN n_union >= {k} THEN round(({numer}) / kth_union, 4)
            ELSE CAST(n_union AS DOUBLE) END AS est_distinct_union,
       round(CAST(n_common AS DOUBLE) / n_union, 4) AS est_jaccard,
       round(round(CAST(n_common AS DOUBLE) / n_union, 4) *
             (CASE WHEN n_union >= {k} THEN round(({numer}) / kth_union, 4)
                   ELSE CAST(n_union AS DOUBLE) END), 4) AS est_intersection
FROM ka, kb, ku
"""


SQL_KMV_CORPUS_OVERLAP = _LazySQL(_sql_kmv_corpus_overlap)


# --- Bloom-filter cross-corpus prefilter (operators/bloom.py) --------------

#: Bloom geometry for the containment query: ~10k reference shingles at
#: sf0.01 -> load 0.23 bits/bit, FP ~0.9% (the adjudicated row exercises
#: real false positives); the filter is 2^17 bits = 2048 packed longs.
_BLOOM_M = 1 << 17
_BLOOM_K = 3


def q_bloom_prefilter_dedup(spark, sf_dir, hash_fn="portable"):
    """Cross-corpus containment decontamination through a Bloom filter
    (operators/bloom.py): for every incoming (odd-doc_id) document, the
    fraction of its 3-word shingles already present in the reference
    (even-doc_id) corpus — drop the document when containment >= 0.5
    (the C4/RealNews-style overlap rule).

    Why bloom: the naive form joins EVERY candidate shingle against the
    corpus-wide reference vocabulary — a full shuffle of both sides. The
    packed filter is m/64 = 2048 literal longs built distributed
    (bit_or partial agg; only the packed words — bounded by the guarded
    m — reach the driver), and membership is a map-side expression, so
    ONLY the maybe-present fraction pays the exact-verify join. The
    adjudicated row carries n_bloom_maybe next to n_in_ref, so the
    driver hash pins the filter's exact bit behavior INCLUDING its
    false positives. At larger m the positions-relation strategy
    (bloom_maybe_contains — zero candidate shuffle, k broadcast joins)
    replaces the literal; equivalence is pinned in tests/test_bloom.py."""
    from my_feast_spark.operators.bloom import (
        bloom_bitmap_from_hashes, bloom_maybe_from_bitmap_hash,
    )
    from my_feast_spark.operators.dedup import _with_shingles
    from my_feast_spark.operators.sketches import sketch_hash

    docs = _t(spark, sf_dir, "documents")
    sh = _with_shingles(docs, "doc_id", "text", 3).persist()
    # Aggregate-first reference relation (guide §2.3, r17 — the cms/kmv
    # shape applied here): collapse the exploded even-doc shingle stream
    # to DISTINCT grams BEFORE the hash chain, hash once per distinct
    # gram, and persist the (tiny) distinct-hash relation — it feeds
    # BOTH the bitmap build and the exact-verify set, which previously
    # each re-exploded the reference and ran the md5 chain per shingle
    # OCCURRENCE (two full passes). Bit-identical: the bitmap is a set
    # OR over positions (occurrence counts never mattered), and the
    # verify set was already the distinct hash set. The trailing
    # distinct on hk keeps the verify join keys unique even under a
    # 2^-63 gram-hash collision, exactly as before.
    ref_hk = (
        sh.where(F.col("doc") % 2 == 0)
        .select(F.explode("sh").alias("sg")).distinct()
        .select(sketch_hash(F.col("sg"), hash_fn).alias("hk"))
        .distinct()
        .persist()
    )
    bm = bloom_bitmap_from_hashes(
        ref_hk, "hk", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    # hash ONCE per candidate shingle: the bitmap probe slices its
    # positions from it AND the exact-verify join keys on it (64-bit
    # equality on an 8-byte key instead of variable-length strings —
    # identity-by-hash is deterministic in both engines, collision odds
    # 2^-63, and the DuckDB oracle replays the identical join)
    cand = (
        sh.where(F.col("doc") % 2 == 1)
        .select("doc", F.explode("sh").alias("sg"))
        .select("doc", sketch_hash(F.col("sg"), hash_fn).alias("hk"))
    )
    # persisted: the maybe/rest split, the verify join and the agg all
    # consume ann — without the cache, projection-collapse re-inlines
    # the md5 chain into every consumer (plan-counted: 40 md5 nodes
    # before, k per row after)
    ann = cand.withColumn(
        "maybe",
        bloom_maybe_from_bitmap_hash(
            F.col("hk"), bm, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
        ),
    ).persist()
    # exact verification of the maybe fraction ONLY (bloom's contract:
    # no false negatives, so everything else is definitely-absent) —
    # reads the already-persisted distinct-hash relation
    ref_set = ref_hk.withColumn("__r", F.lit(1))
    maybe = ann.where(F.col("maybe"))
    rest = ann.where(~F.col("maybe")).withColumn("in_ref", F.lit(False))
    ver = (
        maybe.join(ref_set, "hk", "left")
        .withColumn("in_ref", F.col("__r").isNotNull())
        .drop("__r")
    )
    # the per-doc agg needs only the three narrow columns
    allc = ver.select("doc", "maybe", "in_ref").unionByName(
        rest.select("doc", "maybe", "in_ref")
    )
    out = (
        allc.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("maybe").cast("long")).alias("n_bloom_maybe"),
            F.sum(F.col("in_ref").cast("long")).alias("n_in_ref"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles", "n_bloom_maybe", "n_in_ref",
            F.round(F.col("n_in_ref") / F.col("n_shingles"), 4).alias(
                "containment"
            ),
        )
        .withColumn("keep", F.col("containment") < 0.5)
    )
    out._owned_caches = [sh, ref_hk, ann]
    return out


def _sql_bloom_prefilter_dedup() -> str:
    m, k = _BLOOM_M, _BLOOM_K
    p = m.bit_length() - 1
    mask = 9223372036854775807
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), refh AS MATERIALIZED (
  SELECT DISTINCT (md5_number_lower(sg) & {mask}) AS hk
  FROM (SELECT DISTINCT unnest(s) AS sg FROM sh WHERE doc % 2 = 0)
), refpos AS MATERIALIZED (
  SELECT DISTINCT ((hk & {m - 1}) + i * (((hk >> {p}) % {m - 1}) + 1))
           % {m} AS pos
  FROM refh, generate_series(0, {k - 1}) t(i)
), cand AS (
  SELECT doc, (md5_number_lower(sg) & {mask}) AS hk
  FROM (SELECT doc, unnest(s) AS sg FROM sh WHERE doc % 2 = 1)
), cpos AS (
  SELECT DISTINCT doc, hk,
         ((hk & {m - 1}) + i * (((hk >> {p}) % {m - 1}) + 1)) % {m} AS pos
  FROM cand, generate_series(0, {k - 1}) t(i)
), ann AS (
  SELECT doc, hk,
         count(*) = count(*) FILTER (
           WHERE pos IN (SELECT pos FROM refpos)) AS maybe
  FROM cpos GROUP BY 1, 2
), ver AS (
  SELECT doc, hk, maybe,
         (maybe AND hk IN (SELECT hk FROM refh)) AS in_ref
  FROM ann
)
SELECT doc AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_maybe,
       CAST(sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_in_ref,
       round(CAST(sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS containment,
       (round(CAST(sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 4) < 0.5e0) AS keep
FROM ver GROUP BY 1
"""


SQL_BLOOM_PREFILTER_DEDUP = _LazySQL(_sql_bloom_prefilter_dedup)


# --- count-min heavy hitters (operators/sketches.py) ------------------------

#: CMS geometry for the heavy-hitter query: ~16k distinct shingles at
#: sf0.01 into w=4096 columns -> ~4 keys/counter, so overestimation is
#: real and the adjudicated row pins it exactly.
_CMS_D = 4
_CMS_W = 4096


def q_cms_heavy_hitters(spark, sf_dir, hash_fn="portable"):
    """Document-frequency heavy hitters through a count-min sketch
    (operators/sketches.py::cms_build/cms_estimate): the corpus's top-20
    3-shingles by exact document frequency, each with its CMS point
    estimate and the (always >= 0) overestimate. The sketch is a d*w
    = 16k-counter relation — constant-size mergeable state vs the
    corpus-wide groupBy the exact path pays; the exact counts ride along
    here precisely so the hashed row pins the sketch's collision
    behavior, not just happy paths."""
    from my_feast_spark.operators.dedup import _with_shingles
    from my_feast_spark.operators.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    sh = _with_shingles(docs, "doc_id", "text", 3)
    # Aggregate-first (r16 optimization): collapse the gram stream to
    # (sg, exact_count) ONCE, then build the sketch FROM the aggregate
    # with weight=exact_count — integer counter sums are order-free, so
    # the sketch is bit-identical to building from raw occurrences, but
    # the portable md5 hash and the d-way explode now run once per
    # DISTINCT gram instead of once per occurrence, and the persisted
    # relation shrinks from (doc, sg) pairs to the distinct-gram
    # aggregate (which the exact top-20 needed anyway). Was: persist
    # the exploded (doc, sg) stream and aggregate it twice (9.19s at
    # sf0.1); now one corpus-sized aggregation total (~3x faster).
    gcnt = (
        sh.select(F.explode("sh").alias("sg"))
        .groupBy("sg")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .persist()
    )
    cms = cms_build(
        gcnt, "sg", d=_CMS_D, w=_CMS_W, hash_fn=hash_fn,
        weight="exact_count",
    )
    top = (
        gcnt.orderBy(F.col("exact_count").desc(), F.col("sg").asc())
        .limit(20)
    )
    est = cms_estimate(cms, top, "sg", d=_CMS_D, w=_CMS_W, hash_fn=hash_fn)
    out = est.select(
        F.col("sg").alias("term"),
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
    )
    out._owned_caches = [gcnt]
    return out


def _sql_cms_heavy_hitters() -> str:
    from my_feast_spark.operators.sketches import cms_col_sql

    d, w = _CMS_D, _CMS_W
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
), grams AS MATERIALIZED (
  SELECT doc, unnest(s) AS sg FROM sh
), cms AS MATERIALIZED (
  SELECT i AS r, {cms_col_sql('sg', 'i', w)} AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM grams, generate_series(0, {d - 1}) t(i) GROUP BY 1, 2
), top AS (
  SELECT sg, CAST(count(*) AS BIGINT) AS exact_count
  FROM grams GROUP BY 1
  ORDER BY exact_count DESC, sg ASC LIMIT 20
), probe AS (
  SELECT top.sg, top.exact_count, i AS r,
         {cms_col_sql('top.sg', 'i', w)} AS c
  FROM top, generate_series(0, {d - 1}) t(i)
), est AS (
  SELECT probe.sg, probe.exact_count,
         min(coalesce(cms.cnt, 0)) AS est_count
  FROM probe LEFT JOIN cms USING (r, c)
  GROUP BY 1, 2
)
SELECT sg AS term, exact_count, est_count,
       est_count - exact_count AS overestimate
FROM est
"""


SQL_CMS_HEAVY_HITTERS = _LazySQL(_sql_cms_heavy_hitters)


# --- versioned-table protocol (sources/versioned.py) ------------------------


def q_versioned_replay(spark, sf_dir):
    """Versioned-table protocol adjudicated end-to-end
    (sources/versioned.py — the transaction-log lever of the Delta
    triple, next to z-order and skipping): a bounded deterministic
    events subset lands as THREE commits (initial load + two appends by
    event_id mod), a torn commit is planted (data directory written,
    manifest never published) and vacuumed, and the result reports one
    row per version — rows, 4dp value sum, id bounds — read back
    THROUGH the log. The oracle recomputes each version's logical
    content straight from the events view, so the hash pins time-travel
    correctness AND torn-commit invisibility in one row set."""
    from my_feast_spark.sources.versioned import (
        read_version,
        vacuum,
        write_version,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_id") % 5 == 0) & (F.col("event_id") < 30000))
        .select("event_id", "user_id", "event_type", "value")
    )
    base = _scratch_dir("mfs_vlog_")
    path = os.path.join(base, "table")
    write_version(ev.where(F.col("event_id") % 3 == 0), path)
    write_version(
        ev.where(F.col("event_id") % 3 == 1), path, mode="append"
    )
    # torn commit: a data directory no manifest ever published
    ev.limit(7).write.parquet(os.path.join(path, "data", "vdeadbeefcafe"))
    write_version(
        ev.where(F.col("event_id") % 3 == 2), path, mode="append"
    )
    # grace 0: the replay owns the table, no concurrent writer exists
    vacuum(spark, path, keep_last=3, grace_seconds=0)
    out = None
    for v in (0, 1, 2):
        agg = read_version(spark, path, v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        ).select(F.lit(v).alias("version"), "*")
        out = agg if out is None else out.unionByName(agg)
    return out


SQL_VERSIONED_REPLAY = """
WITH src AS (
  SELECT event_id, value FROM events
  WHERE event_id % 5 = 0 AND event_id < 30000
)
SELECT v.version,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) AS sum_value,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM (VALUES (0), (1), (2)) v(version)
JOIN src ON (src.event_id % 3) <= v.version
GROUP BY 1
"""


def q_pit_versioned_asof(spark, sf_dir):
    """Time-traveled PIT retrieval — the versioned log composed with the
    feature-store surface (core/model.py FileSource(file_format=
    "versioned") + get_historical_features(as_of_version=...)): the
    hourly gold table lands as TWO commits (even-hour buckets, then the
    odd-hour append), and the SAME probe set is retrieved as of v0 and
    as of latest in one result — the reproducible-training-set contract
    the reference's cloud tier gets from Delta time travel
    (/root/reference/CASE.MD:107). The oracle recomputes both versions'
    PIT answers from the even/odd split, so the hash pins that v0 reads
    see NONE of the appended buckets while latest sees all."""
    from my_feast_spark.core import (
        Entity,
        Feature,
        FeatureStore,
        FeatureView,
        FileSource,
    )
    from my_feast_spark.sources.versioned import write_version

    from my_feast_spark.operators.graph import release_checkpoint

    events = _t(spark, sf_dir, "events")
    # pin the gold aggregate once (eager): both filtered commits below
    # read the checkpointed blocks instead of re-running the events
    # scan + groupBy twice (review-caught)
    gold = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        _stable_round_avg("value", 4).alias("avg_value"),
        F.count(F.lit(1)).alias("cnt_events"),
    ).localCheckpoint()
    scratch = _scratch_dir("mfs_vstore_")
    vt = f"{scratch}/vgold"
    try:
        write_version(gold.where(F.hour("bucket_ts") % 2 == 0), vt)
        write_version(
            gold.where(F.hour("bucket_ts") % 2 == 1), vt, mode="append"
        )
    finally:
        release_checkpoint(gold)
    fs = FeatureStore(f"{scratch}/repo", spark=spark)
    fs.apply([
        Entity(name="user", value_type="INT64", join_keys=["user_id"]),
        FeatureView(
            name="user_hourly",
            entities=["user"],
            features=[
                Feature("avg_value", "DOUBLE"),
                Feature("cnt_events", "INT64"),
            ],
            source=FileSource(
                path=vt, file_format="versioned",
                timestamp_field="bucket_ts",
            ),
            ttl=dt.timedelta(days=2),
        ),
    ])
    probes = events.where(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0)
    ).select("event_id", "user_id", F.col("ts").alias("event_timestamp"))
    out = None
    for v in (0, 1):
        df = fs.get_historical_features(
            probes,
            ["user_hourly:avg_value", "user_hourly:cnt_events"],
            as_of_version=v,
        ).to_spark_df().select(
            F.lit(v).alias("version"),
            "event_id",
            "user_id",
            F.col("event_timestamp").cast("timestamp_ntz").alias(
                "event_timestamp"
            ),
            "avg_value",
            "cnt_events",
        )
        out = df if out is None else out.unionByName(df)
    return out


SQL_PIT_VERSIONED_ASOF = f"""
WITH feat AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         {_sql_stable_round_avg("value", 4)} AS avg_value,
         CAST(count(*) AS BIGINT) AS cnt_events
  FROM events GROUP BY 1, 2
), probe AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS event_timestamp
  FROM events WHERE event_type = 'purchase' AND event_id % 3 = 0
), j AS (
  SELECT v.version, p.event_id, p.user_id, p.event_timestamp,
         f.avg_value, f.cnt_events,
         row_number() OVER (
           PARTITION BY v.version, p.event_id
           ORDER BY f.bucket_ts DESC
         ) AS rn
  FROM (VALUES (0), (1)) v(version)
  CROSS JOIN probe p
  LEFT JOIN feat f
    ON f.user_id = p.user_id
   AND f.bucket_ts <= p.event_timestamp
   AND f.bucket_ts >= p.event_timestamp - INTERVAL 2 DAY
   AND (v.version = 1 OR hour(f.bucket_ts) % 2 = 0)
)
SELECT version, event_id, user_id, event_timestamp, avg_value, cnt_events
FROM j WHERE rn = 1
"""


def q_streaming_versioned_ingest(spark, sf_dir):
    """Streaming ingest into a versioned table adjudicated end-to-end
    (streaming/versioned.py): a bounded events subset arrives as THREE
    micro-batches, each committing one atomic table version with
    ``txn=(app, batch_id)`` idempotency (Delta's txnAppId lever);
    ``compact_chain_at=2`` collapses the chain mid-stream (the txn
    record must survive the compaction), and a REPLAY from a fresh
    stream checkpoint (same app, batch id 0 again) must commit nothing.
    Protocol facts — version count, final chain length, recorded txn
    high-water, zero replay commits — are raised on failure and pinned
    in-row as oracle-asserted literals (the zorder_scan pattern); the
    content aggregates come straight through the log."""
    from my_feast_spark.sources.versioned import (
        _fs as _vfs,
        _read_manifest,
        list_versions,
        read_version,
    )
    from my_feast_spark.streaming.versioned import versioned_ingest_stream

    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_id") % 7 == 0) & (F.col("event_id") < 21000))
        .select("event_id", "user_id", "event_type", "value")
    )
    base = _scratch_dir("mfs_vstream_")
    in_dir = os.path.join(base, "incoming")
    os.makedirs(in_dir)
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")
    schema = "event_id long, user_id long, event_type string, value double"
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        sdf = spark.readStream.schema(schema).parquet(in_dir)
        q = versioned_ingest_stream(
            sdf, table, checkpoint=ckpt, available_now=True,
            compact_chain_at=2, compact_kwargs={"num_files": 1},
        )
        if not q.awaitTermination(300):
            q.stop()
    versions = list_versions(spark, table)
    # b0 -> v0 (chain 1); b1 -> v1 (chain 2) -> compact v2; b2 -> v3
    # (chain 2) -> compact v4
    if len(versions) != 5:
        raise AssertionError(f"expected 5 versions, got {versions}")
    jvm, vfs = _vfs(spark, table)
    latest = _read_manifest(jvm, vfs, table, versions[-1])
    if len(latest["dirs"]) != 1:
        raise AssertionError(f"chain not compacted: {latest['dirs']}")
    txn_hw = latest.get("txn", {}).get("versioned_ingest", -1)
    if txn_hw != 2:
        raise AssertionError(f"txn high-water {txn_hw} != 2")
    # replay from a FRESH stream checkpoint: everything reprocesses as
    # batch 0, which the txn record (high-water 2) must skip
    sdf = spark.readStream.schema(schema).parquet(in_dir)
    q = versioned_ingest_stream(
        sdf, table, checkpoint=os.path.join(base, "ckpt_replay"),
        available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
    replay_new = len(list_versions(spark, table)) - len(versions)
    if replay_new != 0:
        raise AssertionError(f"replay committed {replay_new} versions")
    return read_version(spark, table).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    ).select(
        "*",
        F.lit(5).alias("n_versions"),
        F.lit(1).alias("final_chain_dirs"),
        F.lit(2).alias("txn_last_batch"),
        F.lit(0).alias("replay_new_versions"),
    )


SQL_STREAMING_VERSIONED_INGEST = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) AS sum_value,
       min(event_id) AS min_id, max(event_id) AS max_id,
       5 AS n_versions, 1 AS final_chain_dirs,
       2 AS txn_last_batch, 0 AS replay_new_versions
FROM events WHERE event_id % 7 = 0 AND event_id < 21000
"""


def q_versioned_restore_diff(spark, sf_dir):
    """RESTORE + version diff adjudicated end-to-end
    (sources/versioned.py::restore_version/diff_versions): a bad-deploy
    overwrite lands on a two-commit table, ``diff_versions`` reports
    the damage (changed/removed/added per key), and ``restore_version``
    rolls back by publishing ONE manifest — no data rewritten (the
    data-directory listing is asserted unchanged), latest content
    asserted equal to the pre-deploy version. Protocol facts ride
    in-row as oracle-asserted literals (the zorder_scan pattern); the
    diff rows themselves are recomputed by the oracle from the same
    id-mod derivation."""
    from my_feast_spark.sources.versioned import (
        _fs as _vfs,
        _read_manifest,
        diff_versions,
        list_versions,
        read_version,
        restore_version,
        write_version,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_id") % 5 == 0) & (F.col("event_id") < 25000))
        .select("event_id", "value")
    )
    base = _scratch_dir("mfs_vrestore_")
    path = os.path.join(base, "table")
    write_version(ev.where(F.col("event_id") % 3 == 0), path)
    write_version(
        ev.where(F.col("event_id") % 3 == 1), path, mode="append"
    )
    # the bad deploy: an overwrite that perturbs the mod-0 rows, drops
    # the mod-1 rows, and invents the mod-2 rows
    bad = ev.where(F.col("event_id") % 3 == 0).select(
        "event_id", (F.col("value") + F.lit(1.0)).alias("value")
    ).unionByName(ev.where(F.col("event_id") % 3 == 2))
    write_version(bad, path, mode="overwrite")

    diff = diff_versions(spark, path, 1, 2, ["event_id"])

    jvm, vfs = _vfs(spark, path)
    droot = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "data"))
    dirs_before = sorted(
        st.getPath().getName() for st in vfs.listStatus(droot)
    )
    v3 = restore_version(spark, path, 1)
    dirs_after = sorted(
        st.getPath().getName() for st in vfs.listStatus(droot)
    )
    if dirs_before != dirs_after:
        raise AssertionError("restore rewrote data directories")
    m = _read_manifest(jvm, vfs, path, v3)
    if m.get("restored_from") != 1:
        raise AssertionError(f"restored_from {m.get('restored_from')}")
    # latest content == the pre-deploy version, exactly
    n_mismatch = (
        read_version(spark, path)
        .unionByName(read_version(spark, path, 1))
        .groupBy("event_id", "value")
        .count()
        .where(F.col("count") != 2)
        .count()
    )
    if n_mismatch:
        raise AssertionError(f"{n_mismatch} rows differ post-restore")
    return diff.select(
        "event_id",
        "change",
        F.lit(1).alias("restored_from"),
        F.lit(1).alias("restore_manifest_only"),
        F.lit(0).alias("post_restore_mismatches"),
    )


SQL_VERSIONED_RESTORE_DIFF = """
SELECT event_id,
       CASE WHEN event_id % 3 = 0 THEN 'changed'
            WHEN event_id % 3 = 1 THEN 'removed'
            ELSE 'added' END AS change,
       1 AS restored_from, 1 AS restore_manifest_only,
       0 AS post_restore_mismatches
FROM events WHERE event_id % 5 = 0 AND event_id < 25000
"""


#: HLL precision for the time rollup — distinct from the group-distinct
#: query's p=8 and the streaming row's p=10, so no two adjudicated rows
#: share register content by accident
_HLL_ROLLUP_P = 9


def q_hll_time_rollup(spark, sf_dir, hash_fn="portable"):
    """Distinct-count time rollup over HLL register state
    (operators/sketches.py::hll_time_rollup — the hypertable
    continuous-aggregate shape): daily distinct users from ONE raw
    scan, monthly folded from the daily REGISTERS (date_trunc +
    elementwise MAX) without rescanning the month's rows. The oracle
    recomputes each level straight from the raw rows — register
    max-merge associativity makes fold-coarse ≡ recompute-at-coarse,
    and THAT mergeability contract is what the row hashes pin (digest +
    exact-integer Z sum per period, not just the estimates)."""
    from my_feast_spark.operators.sketches import hll_time_rollup

    ev = _t(spark, sf_dir, "events")
    out = hll_time_rollup(
        ev.select("ts", F.col("user_id").cast("string").alias("u")),
        "ts", "u", p=_HLL_ROLLUP_P, levels=("day", "month"),
        hash_fn=hash_fn,
    )
    res = out.select(
        "granularity",
        F.col("period").cast("timestamp_ntz").alias("period"),
        "n_zero", "sum_scaled", "registers_md5", "est_distinct",
    )
    res._owned_caches = list(getattr(out, "_owned_caches", ()))
    return res


def _sql_hll_time_rollup(p: int = _HLL_ROLLUP_P) -> str:
    from my_feast_spark.operators.sketches import (
        HLL_SCALE_BITS,
        hll_alpha,
        hll_rho_sql,
        sketch_hash_sql,
    )

    m = 1 << p
    width = 63 - p
    alpha = hll_alpha(m)
    scale = 1 << HLL_SCALE_BITS
    hs = sketch_hash_sql("CAST(user_id AS VARCHAR)")
    rho = hll_rho_sql("rest", width)
    reg = ("lpad(CAST(bucket AS VARCHAR),4,'0') || ':' || "
           "lpad(CAST(rho AS VARCHAR),2,'0')")
    raw = (f"round({alpha!r}e0 * {m} * {m} * {float(scale)!r}e0 / "
           f"(n_zero * {scale} + sum_scaled), 4)")
    blocks = []
    for lvl in ("day", "month"):
        blocks.append(f"""
SELECT '{lvl}' AS granularity, period, n_zero, sum_scaled, registers_md5,
       CASE WHEN {raw} <= {2.5 * m!r}e0 AND n_zero > 0
            THEN round({float(m)!r}e0 * ln({float(m)!r}e0 / n_zero), 4)
            ELSE {raw} END AS est_distinct
FROM (
  SELECT period,
         CAST({m} - count(*) AS BIGINT) AS n_zero,
         CAST(sum(CASE WHEN rho <= {HLL_SCALE_BITS}
                       THEN (CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - rho))
                       ELSE 0 END) AS BIGINT) AS sum_scaled,
         md5(string_agg({reg}, ',' ORDER BY {reg})) AS registers_md5
  FROM (
    SELECT period, bucket, max({rho}) AS rho
    FROM (
      -- DuckDB's date_trunc('day'/'month') yields DATE; Spark's yields
      -- TIMESTAMP — cast so the schemas agree
      SELECT CAST(date_trunc('{lvl}', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS period,
             hv & {m - 1} AS bucket, hv >> {p} AS rest
      FROM (SELECT ts, {hs} AS hv FROM events)
    ) GROUP BY 1, 2
  ) GROUP BY 1
)""")
    return "\nUNION ALL\n".join(blocks)


SQL_HLL_TIME_ROLLUP = _LazySQL(_sql_hll_time_rollup)

#: skew_report parameters for the adjudicated row: the salt sizing uses
#: a deliberately small rows_per_task so the hot keys actually report
#: salt factors > 1 at the driver's sf
_SKEW_ROWS_PER_TASK = 1000
_SKEW_SAMPLE_MOD = 64
_SKEW_TOP = 5


def q_skew_report(spark, sf_dir, hash_fn="portable"):
    """Shuffle-skew diagnosis from sketches
    (operators/sketches.py::skew_report): the hottest event_type keys
    estimated from a CMS + a deterministic 1/64 row-id-hash sample —
    never a full re-key of the relation. The oracle replays the exact
    protocol (same sample, same CMS bit-slices, same salt arithmetic),
    so the hashed rows pin the no-hot-key-missed guarantee: any key
    frequent enough to matter appears in both engines' candidate sets
    and its CMS estimate never underestimates."""
    from my_feast_spark.operators.sketches import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(
        ev.select("event_id", "event_type"),
        "event_type", "event_id",
        d=_CMS_D, w=_CMS_W, top=_SKEW_TOP,
        sample_mod=_SKEW_SAMPLE_MOD,
        rows_per_task=_SKEW_ROWS_PER_TASK,
        hash_fn=hash_fn,
    )


def _sql_skew_report() -> str:
    from my_feast_spark.operators.sketches import cms_col_sql, sketch_hash_sql

    d, w = _CMS_D, _CMS_W
    rpt, mod, top = _SKEW_ROWS_PER_TASK, _SKEW_SAMPLE_MOD, _SKEW_TOP
    return f"""
WITH cms AS MATERIALIZED (
  SELECT i AS r, {cms_col_sql('event_type', 'i', w)} AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events, generate_series(0, {d - 1}) t(i) GROUP BY 1, 2
), total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM events),
cand AS (
  SELECT DISTINCT event_type AS key FROM events
  WHERE ({sketch_hash_sql('CAST(event_id AS VARCHAR)')}) % {mod} = 0
), probe AS (
  SELECT cand.key, i AS r, {cms_col_sql('cand.key', 'i', w)} AS c
  FROM cand, generate_series(0, {d - 1}) t(i)
), est AS (
  SELECT probe.key, min(coalesce(cms.cnt, 0)) AS est_count
  FROM probe LEFT JOIN cms USING (r, c) GROUP BY 1
)
SELECT key, est_count,
       floor(est_count * 1000000.0 / (SELECT n FROM total) + 0.5)
         / 1000000.0 AS est_share,
       CAST(greatest(1, ceil(est_count / {float(rpt)!r})) AS INTEGER)
         AS suggested_salt
FROM est ORDER BY est_count DESC, key ASC LIMIT {top}
"""


SQL_SKEW_REPORT = _LazySQL(_sql_skew_report)


# --- BM25 ranked retrieval (operators/bm25.py) ------------------------------


def q_bm25_topk(spark, sf_dir):
    """BM25 top-5 documents for three deterministic corpus-derived
    queries (operators/bm25.py). The query set is the corpus's nine
    highest-df terms dealt round-robin into three 3-term queries — so
    both engines derive the same queries from the same relation and the
    row hashes cover the derivation too. Scale shape: the tf relation
    keys the only corpus shuffle; query terms, the pruned df relation
    and the (N, sum_dl) scalars are broadcast; per-term float scores
    are quantized to micro-unit BIGINTs before the per-doc sum, so no
    float reduction order exists for partial aggregation to disturb."""
    from my_feast_spark.functions.text import tokens
    from my_feast_spark.operators.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode_outer(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term").isNotNull())
    dfreq = (
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    top9 = dfreq.orderBy(F.col("df").desc(), F.col("term").asc()).limit(9)
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    qt = (
        top9.withColumn("rn", F.row_number().over(w))
        .select(
            F.concat(
                F.lit("q"), (((F.col("rn") - 1) % 3) + 1).cast("string")
            ).alias("query_id"),
            "term",
        )
    )
    return bm25_topk(docs, "doc_id", "text", qt, k=5)


def _sql_bm25_topk() -> str:
    from my_feast_spark.operators.bm25 import bm25_sql

    query_cte = """
  SELECT 'q' || CAST(((rn - 1) % 3) + 1 AS VARCHAR) AS query_id, term
  FROM (SELECT term,
               row_number() OVER (ORDER BY df DESC, term ASC) AS rn
        FROM dfreq)
  WHERE rn <= 9"""
    return bm25_sql(query_cte=query_cte, k=5)


SQL_BM25_TOPK = _LazySQL(_sql_bm25_topk)


# --- ORC round-trip scan ----------------------------------------------------


def _orc_capture_dir(spark, sf_dir: str) -> str:
    """Build (once per sf_dir) an ORC twin of a deterministic documents
    subset under the repo warehouse dir — the avro-capture pattern:
    content-addressable on the sf path, _SUCCESS-marked, immutable."""
    import hashlib

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(repo_root, "spark-warehouse", f"orc_capture_{key}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(2)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .orc(out)
    )
    return out


def q_orc_scan(spark, sf_dir):
    """ORC round-trip: write a deterministic documents subset as ORC
    (Spark native writer), scan it back, and build a per-lang aggregate
    the oracle computes straight from the parquet source — a full hash
    check on the ORC encode+decode path (Spark's other first-class
    columnar format; DuckDB cannot read ORC, so the round-trip
    equivalence IS the oracle strategy, like avro_scan). Predicate/
    column pushdown into the ORC scan is plan-pinned in
    tests/test_orc.py."""
    path = _orc_capture_dir(spark, sf_dir)
    return (
        spark.read.orc(path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("text")))
            ).alias("texts_md5"),
        )
    )


SQL_ORC_SCAN = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       md5(string_agg(text, '|' ORDER BY text)) AS texts_md5
FROM documents WHERE doc_id % 5 = 0
GROUP BY 1
"""


# =========================================================================
# Query registry.
#
# queries() entries are adjudicated IN ORDER, and only the first
# ADJUDICATION_WINDOW of them get a CORRECTNESS row, so QUERIES is laid
# out as three blocks:
#   1. PINNED ANCHORS: the flagship gold-build + point-in-time retrieval
#      path. They lead every window, so no registry growth can push them
#      past the cut.
#   2. WINDOW HALF: 48 rotating queries inside the current window.
#   3. TAIL HALF: the other 48 rotating queries, outside it.
# A rotation swaps the two halves whole (the tail moves in behind the
# anchors), so no query sits out two windows in a row. A query that is
# new, or whose output can change at any scale factor, is in-window when
# it changes. The registry holds 2 + 48 + 48 = 98 entries, inside the
# adjudication budget of ~100.
#
# RETIRED_QUERIES are never submitted for adjudication. An entry stays there
# only while bench.py times it, a test uses its q_* function as the
# reference side of an equality, or it is the only DuckDB value check of
# a public my_feast_spark function or a COVERAGE.md capability row.
#
# tests/test_oracle_parity.py value-checks every QUERIES and
# RETIRED_QUERIES entry against its oracle on every run, whatever its
# window position; tests/test_workload_registry.py pins the anchors, the
# window, the tail and the retired set, so membership changes are
# explicit.
# =========================================================================

ADJUDICATION_WINDOW = 50

QUERIES: dict[str, tuple] = {
    # ---- pinned anchors: lead every window ----
    "pit_user_features": (q_pit_user_features, SQL_PIT_USER_FEATURES),
    "hourly_user_agg": (q_hourly_user_agg, SQL_HOURLY_USER_AGG),
    # ---- window half: inside the current window ----
    "versioned_replay": (q_versioned_replay, SQL_VERSIONED_REPLAY),
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
    "streaming_sketch_ingest": (
        q_streaming_sketch_ingest, SQL_STREAMING_SKETCH_INGEST,
    ),
    "pit_versioned_asof": (q_pit_versioned_asof, SQL_PIT_VERSIONED_ASOF),
    "hll_time_rollup": (q_hll_time_rollup, SQL_HLL_TIME_ROLLUP),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "priority_collapse_types": (
        q_priority_collapse_types, SQL_PRIORITY_COLLAPSE_TYPES,
    ),
    "part_brand_stats": (q_part_brand_stats, SQL_PART_BRAND_STATS),
    "idle_customers_anti": (q_idle_customers_anti, SQL_IDLE_CUSTOMERS_ANTI),
    "user_value_deltas": (q_user_value_deltas, SQL_USER_VALUE_DELTAS),
    "jaccard_dup_pairs": (q_jaccard_dup_pairs, SQL_JACCARD_DUP_PAIRS),
    "audio_dedup": (q_audio_dedup, SQL_AUDIO_DEDUP),
    "video_dedup": (q_video_dedup, SQL_VIDEO_DEDUP),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "compact_table_replay": (q_compact_table_replay, SQL_COMPACT_TABLE_REPLAY),
    "scd2_stream_maintain": (q_scd2_stream_maintain, SQL_SCD2_STREAM_MAINTAIN),
    "audio_vad": (q_audio_vad, SQL_AUDIO_VAD),
    "dsir_resample": (q_dsir_resample, SQL_DSIR_RESAMPLE),
    "domain_pagerank": (q_domain_pagerank, SQL_DOMAIN_PAGERANK),
    "gopher_quality_filter": (
        q_gopher_quality_filter, SQL_GOPHER_QUALITY_FILTER,
    ),
    "score_weighted_sample": (
        q_score_weighted_sample, SQL_SCORE_WEIGHTED_SAMPLE,
    ),
    "lm_perplexity_kn": (q_lm_perplexity_kn, SQL_LM_PERPLEXITY_KN),
    "scd2_lookup": (q_scd2_lookup, SQL_SCD2_LOOKUP),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
    "ivfpq_topk": (q_ivfpq_topk, SQL_IVFPQ_TOPK),
    "image_dedup": (q_image_dedup, SQL_IMAGE_DEDUP),
    "streaming_neardup_ingest": (
        q_streaming_neardup_ingest, SQL_STREAMING_NEARDUP_INGEST,
    ),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "packed_sequences": (q_packed_sequences, SQL_PACKED_SEQUENCES),
    "mixture_temperature": (q_mixture_temperature, SQL_MIXTURE_TEMPERATURE),
    "boilerplate_ngrams": (q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS),
    "global_shuffle": (q_global_shuffle, SQL_GLOBAL_SHUFFLE),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "column_profile": (q_column_profile, SQL_COLUMN_PROFILE),
    "cluster_keep_longest": (q_cluster_keep_longest, SQL_CLUSTER_KEEP_LONGEST),
    "stratum_ksample": (q_stratum_ksample, SQL_STRATUM_KSAMPLE),
    "profile_drift": (q_profile_drift, SQL_PROFILE_DRIFT),
    "token_pmi": (q_token_pmi, SQL_TOKEN_PMI),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "contamination_report": (q_contamination_report, SQL_CONTAMINATION_REPORT),
    "avro_scan": (q_avro_scan, SQL_AVRO_SCAN),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "stream_capture_files": (q_stream_capture_files, SQL_STREAM_CAPTURE_FILES),
    "normalize_text": (q_normalize_text, SQL_NORMALIZE_TEXT),
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "top_terms_tfidf": (q_top_terms_tfidf, SQL_TOP_TERMS_TFIDF),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    # ---- tail half: next rotation's window ----
    "pit_late_arrival": (q_pit_late_arrival, SQL_PIT_LATE_ARRIVAL),
    "hourly_global_agg": (q_hourly_global_agg, SQL_HOURLY_GLOBAL_AGG),
    "event_types_salted": (q_event_types_salted, SQL_EVENT_TYPES_SALTED),
    "streaming_versioned_ingest": (
        q_streaming_versioned_ingest, SQL_STREAMING_VERSIONED_INGEST,
    ),
    "versioned_restore_diff": (
        q_versioned_restore_diff, SQL_VERSIONED_RESTORE_DIFF,
    ),
    "zorder_scan": (q_zorder_scan, SQL_ZORDER_SCAN),
    "materialize_stream": (q_materialize_stream, SQL_MATERIALIZE_STREAM),
    "unigram_tokenize": (q_unigram_tokenize, SQL_UNIGRAM_TOKENIZE),
    "url_domain_curation": (q_url_domain_curation, SQL_URL_DOMAIN_CURATION),
    "hll_group_distinct": (q_hll_group_distinct, SQL_HLL_GROUP_DISTINCT),
    "kmv_corpus_overlap": (q_kmv_corpus_overlap, SQL_KMV_CORPUS_OVERLAP),
    "bloom_prefilter_dedup": (
        q_bloom_prefilter_dedup, SQL_BLOOM_PREFILTER_DEDUP,
    ),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "orc_scan": (q_orc_scan, SQL_ORC_SCAN),
    "wordpiece_tokenize": (q_wordpiece_tokenize, SQL_WORDPIECE_TOKENIZE),
    "warc_text_extract": (q_warc_text_extract, SQL_WARC_TEXT_EXTRACT),
    "compaction_replay": (q_compaction_replay, SQL_COMPACTION_REPLAY),
    "jsonl_scan": (q_jsonl_scan, SQL_JSONL_SCAN),
    "pack_bfd": (q_pack_bfd, SQL_PACK_BFD),
    "minhash_dup_pairs": (q_minhash_dup_pairs, SQL_MINHASH_DUP_PAIRS),
    "curation_pipeline_full": (
        q_curation_pipeline_full, SQL_CURATION_PIPELINE_FULL,
    ),
    "cdc_chunk_dedup": (q_cdc_chunk_dedup, SQL_CDC_CHUNK_DEDUP),
    "streaming_embedding_ingest": (
        q_streaming_embedding_ingest, SQL_STREAMING_EMBEDDING_INGEST,
    ),
    "lsh_recall": (q_lsh_recall, SQL_LSH_RECALL),
    "scd2_user_state": (q_scd2_user_state, SQL_SCD2_USER_STATE),
    "bpe_merge_replay": (q_bpe_merge_replay, SQL_BPE_MERGE_REPLAY),
    "vocab_encode_join": (q_vocab_encode_join, SQL_VOCAB_ENCODE_JOIN),
    "span_removal": (q_span_removal, SQL_SPAN_REMOVAL),
    "nb_quality_score": (q_nb_quality_score, SQL_NB_QUALITY_SCORE),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "feature_store_retrieval": (
        q_feature_store_retrieval, SQL_FEATURE_STORE_RETRIEVAL,
    ),
    "streaming_sessionize": (q_streaming_sessionize, SQL_STREAMING_SESSIONIZE),
    "streaming_hourly_agg": (q_streaming_hourly_agg, SQL_STREAMING_HOURLY_AGG),
    "repetition_filter": (q_repetition_filter, SQL_REPETITION_FILTER),
    "online_lookup": (q_online_lookup, SQL_ONLINE_LOOKUP),
    "streaming_dedup": (q_streaming_dedup, SQL_STREAMING_DEDUP),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "pii_redaction": (q_pii_redaction, SQL_PII_REDACTION),
    "train_val_split": (q_train_val_split, SQL_TRAIN_VAL_SPLIT),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "embedding_near_dupes_lsh": (
        q_embedding_near_dupes_lsh, SQL_EMBEDDING_NEAR_DUPES_LSH,
    ),
    "simhash_dup_pairs": (q_simhash_dup_pairs, SQL_SIMHASH_DUP_PAIRS),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "latest_event_per_user": (
        q_latest_event_per_user, SQL_LATEST_EVENT_PER_USER,
    ),
    "map_pivot_props": (q_map_pivot_props, SQL_MAP_PIVOT_PROPS),
    "regional_revenue": (q_regional_revenue, SQL_REGIONAL_REVENUE),
    "order_priority_count": (q_order_priority_count, SQL_ORDER_PRIORITY_COUNT),
    "top_spenders": (q_top_spenders, SQL_TOP_SPENDERS),
}

#: Not submitted for adjudication; each group names the rule that keeps
#: its entries (see the registry comment above).
RETIRED_QUERIES: dict[str, tuple] = {
    # timed by bench.py
    "chunk_dedup": (q_chunk_dedup, SQL_CHUNK_DEDUP),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "doc_fingerprints": (q_doc_fingerprints, SQL_DOC_FINGERPRINTS),
    "pq_topk": (q_pq_topk, SQL_PQ_TOPK),
    # reference side of an equality in tests/test_extensions.py
    "vocab_encode": (q_vocab_encode, SQL_VOCAB_ENCODE),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    # only DuckDB check of a public function: sources.readers.flatten_struct,
    # functions.text.hash_sample, multimodal.decode_assets,
    # operators.dedup.exact_dedup
    "struct_flatten": (q_struct_flatten, SQL_STRUCT_FLATTEN),
    "hash_sampled_docs": (q_hash_sampled_docs, SQL_HASH_SAMPLED_DOCS),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "exact_dedup_docs": (q_exact_dedup_docs, SQL_EXACT_DEDUP_DOCS),
    # only DuckDB check of a COVERAGE.md row: unix_timestamp/from_unixtime,
    # DataFrame.unpivot, the Q17 decorrelated subquery, EXCEPT/INTERSECT,
    # CUBE, a sliding rowsBetween frame, ntile, PIVOT
    "datetime_functions": (q_datetime_functions, SQL_DATETIME_FUNCTIONS),
    "lineitem_unpivot": (q_lineitem_unpivot, SQL_LINEITEM_UNPIVOT),
    "small_quantity_revenue": (
        q_small_quantity_revenue, SQL_SMALL_QUANTITY_REVENUE,
    ),
    "user_cohort_sets": (q_user_cohort_sets, SQL_USER_COHORT_SETS),
    "returnflag_cube": (q_returnflag_cube, SQL_RETURNFLAG_CUBE),
    "moving_avg_revenue": (q_moving_avg_revenue, SQL_MOVING_AVG_REVENUE),
    "customer_balance_deciles": (
        q_customer_balance_deciles, SQL_CUSTOMER_BALANCE_DECILES,
    ),
    "event_type_pivot": (q_event_type_pivot, SQL_EVENT_TYPE_PIVOT),
}
