"""SURVEY §2 relational and TPC-H query functions on the testdata.

Each query function pairs with an ANSI-SQL oracle (``*_SQL``) that DuckDB
runs on the same parquet tables. ``driver_registry.FINAL_REGISTRY`` binds
the graded ones by name; the rest are building blocks of its composed
entries or bench rows (``bench.BENCH_ROWS``).

Cross-engine determinism rules (learned against DuckDB 1.0):
  * never ``CAST(double AS INT)`` — Spark truncates, DuckDB rounds; go
    through ``floor``/``round`` first;
  * double aggregates are order-dependent in the last bits — ``round`` all
    float outputs (2 dp for money, 4-6 dp for ratios);
  * top-k needs a total order — always add a unique tiebreaker column;
  * timestamps flow as naive UTC (session tz pinned in session.py).

Scale notes are in each query's docstring: the same plan shapes hold at
100 TB because dimensions broadcast, aggregations combine map-side, and
filters/projections push into the parquet scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    """One driver-checkable query: Spark side + optional DuckDB oracle."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL over pre-registered views, or None → rows-only check


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _events_ts_meta(path: str) -> tuple[str, str | None]:
    """(unit, tz) of the ``ts`` column ('ns'/'us'/…, tz string or None),
    probed from the parquet footer only (no data read). Driver-generated
    testdata has shipped both TIMESTAMP(NANOS) and timestamp[us] encodings
    across rounds, so the readers branch on the actual file. A plain int64
    ``ts`` (epoch nanos without the logical type) maps to the nanos branch;
    anything else fails loudly instead of an opaque AttributeError."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(path).field("ts").type
    if pa.types.is_timestamp(t):
        return t.unit, t.tz
    if t == pa.int64():
        return "ns", None  # raw epoch-nanos int64 — same read path as NANOS
    raise TypeError(
        f"events.ts has unsupported parquet type {t!r}; expected a timestamp "
        "(any unit/tz) or int64 epoch nanos — testdata encoding drifted"
    )


def _read_nanos_as_long(spark: SparkSession, path: str) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) read with ``nanosAsLong`` scoped to THIS
    read: the conf is consulted at schema-resolution time (verified
    empirically — a later action on the returned DataFrame succeeds with
    the conf restored), so set/restore around ``spark.read`` leaves the
    session untouched for any subsequent nanos-parquet read."""
    prev = spark.conf.get(_NANOS_CONF, None)
    spark.conf.set(_NANOS_CONF, "true")
    try:
        return spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prev)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events reader, adaptive to the parquet timestamp encoding.

    TIMESTAMP(NANOS) files are rejected by Spark's vectorized reader:
    read nanos as long (conf scoped to the read — see _read_nanos_as_long)
    and convert with *integer* division (``ts DIV 1000`` — double division
    would lose precision at 1.7e18), matching DuckDB's truncating
    nanos→micros read. timestamp[us] files read natively (NTZ when naive,
    LTZ when isAdjustedToUTC); cast to session-tz TIMESTAMP (identity
    under the engine's pinned UTC session) so downstream plans and
    oracles see one type either way."""
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    unit, _tz = _events_ts_meta(path)
    if unit == "ns":
        raw = _read_nanos_as_long(spark, path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    raw = spark.read.parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# --------------------------------------------------------------------------
# Aggregation core (TPC-H-style; the engine's groupBy/agg surface)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → hash aggregate on 2 low-card keys.

    Scale: partial aggregation map-side reduces the shuffle to
    |groups| × partitions rows; AQE coalesces the tiny reduce side."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q3_body(cust: DataFrame, orders: DataFrame, li: DataFrame) -> DataFrame:
    """TPC-H Q3 plan body over injectable inputs — the same logical plan
    runs on raw parquet scans (q3_top_orders) or bucketed catalog tables
    (q3_top_orders_bucketed, where the fact join needs no Exchange)."""
    cust = cust.filter(F.col("c_mktsegment") == "BUILDING")
    orders = orders.filter(F.col("o_orderdate") < F.lit("1996-06-01"))
    li = li.filter(F.col("l_shipdate") > F.lit("1996-06-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q3_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.

    Scale: customer filter first (segment) then broadcast to lineitem's
    join; top-10 via sort-limit (TakeOrdered — no full sort shuffle)."""
    return _q3_body(
        _t(spark, sf, "customer"), _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _q5_body(
    region: DataFrame,
    nation: DataFrame,
    cust: DataFrame,
    sup: DataFrame,
    orders: DataFrame,
    li: DataFrame,
) -> DataFrame:
    """TPC-H Q5 plan body over injectable inputs (see _q3_body)."""
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(cust.c_nationkey == sup.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q5_regional_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: full star join through region→nation→customer→orders
    →lineitem with supplier co-nation condition.

    Scale: region/nation/supplier/customer all broadcast (dimensions);
    only orders⋈lineitem shuffles, on the same key both sides."""
    return _q5_body(
        _t(spark, sf, "region"),
        _t(spark, sf, "nation"),
        _t(spark, sf, "customer"),
        _t(spark, sf, "supplier"),
        _t(spark, sf, "orders"),
        _t(spark, sf, "lineitem"),
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def q6_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg; every predicate pushes to the
    parquet scan (row-group pruning on l_shipdate/l_discount stats)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dim with a CONDITIONAL aggregate — promo
    revenue share per ship month.

    Scale: part broadcasts (dimension); the date filter pushes to the
    lineitem scan; revenue goes through per-row integer cents so the
    promo/total ratio is a ratio of exact bigints, deterministic across
    engines and partition orders."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    part = _t(spark, sf, "part")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))).alias(
                "promo_cents"
            ),
            F.sum(cents).alias("total_cents"),
        )
        .withColumn(
            "promo_pct",
            F.round(F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"), 6),
        )
    )


# date_trunc yields DATE and sum(BIGINT) yields HUGEINT in DuckDB; cast both
# to Spark's output types (TIMESTAMP / BIGINT) for the dtype-sensitive hash.
Q14_SQL = """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)),
             6) AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1
"""


def q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — revenue between every
    (supplier nation, customer nation) pair per ship year.

    Scale: both nation lookups are dimension chains (supplier⋈nation,
    customer⋈nation) that BROADCAST; only lineitem⋈orders shuffles, on
    the shared orderkey. The group-by keys are low-cardinality (25×25×2),
    so partial aggregation collapses the shuffle to almost nothing."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf, "orders")
    nation = _t(spark, sf, "nation")
    sup = _t(spark, sf, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = _t(spark, sf, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(cents).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
    )


# DuckDB sum(BIGINT) widens to HUGEINT and year() yields BIGINT; the driver's
# value-hash is dtype-sensitive, so both are cast back to Spark's output types.
Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Relational core R1-R4 (SURVEY §2.4) on testdata shapes
# --------------------------------------------------------------------------


def r1_join_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """R1 parity: equi inner join fact×dimension chain with broadcast dims
    (the enriched_join_velib shape: status×information on station_id →
    here orders×customer×nation×region)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("o_orderkey"),
            F.col("c_name"),
            F.col("n_name"),
            F.col("r_name"),
            F.round(F.col("o_totalprice"), 2).alias("total"),
        )
    )


R1_SQL = """
SELECT o_orderkey, c_name, n_name, r_name, round(o_totalprice, 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def r3_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """R2+R3 parity: normalize two differently-shaped entity tables to one
    schema with literal provider/discriminator columns, union by name
    (customer∪supplier ↔ velib∪lime)."""
    cust = _t(spark, sf, "customer").select(
        F.lit("customer").alias("provider"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    sup = _t(spark, sf, "supplier").select(
        F.lit("supplier").alias("provider"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.round(F.col("s_acctbal"), 2).alias("acctbal"),
        F.lit(None).cast("string").alias("segment"),
    )
    return cust.unionByName(sup)


R3_SQL = """
SELECT 'customer' AS provider, c_custkey AS id, c_name AS name,
       c_nationkey AS nationkey, round(c_acctbal, 2) AS acctbal,
       c_mktsegment AS segment
FROM customer
UNION ALL
SELECT 'supplier', s_suppkey, s_name, s_nationkey, round(s_acctbal, 2),
       NULL
FROM supplier
"""


def r4_quality_checks(spark: SparkSession, sf: str) -> DataFrame:
    """R4 parity (dbt-test replacement): not_null + unique assertions as
    one single-row aggregate over orders."""
    orders = _t(spark, sf, "orders")
    nn = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "custkey_null_violations"
        )
    )
    uq = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.count(F.lit(1)).alias("orderkey_unique_violations"))
    )
    return nn.crossJoin(uq)


R4_SQL = """
SELECT
  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS custkey_null_violations,
  (SELECT count(*) FROM (
     SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1
  )) AS orderkey_unique_violations
"""


# --------------------------------------------------------------------------
# S6 latest partition (SURVEY §2.2); the P3-P12 row operators run inside
# driver_registry.p_row_normalize / p_window_weight
# --------------------------------------------------------------------------


def s6_latest_partition(spark: SparkSession, sf: str) -> DataFrame:
    """S6 parity: latest-snapshot selection as a metadata max over a
    partition-grain column (here: latest day of events) — replaces the
    reference's boto3 folder listing."""
    ev = _t(spark, sf, "events")
    day = F.date_trunc("day", F.col("ts"))
    mx = ev.agg(F.max(day).alias("mxday"))
    return (
        ev.join(F.broadcast(mx))
        .filter(day == F.col("mxday"))
        .select("event_id", "user_id", "event_type", "ts")
    )


S6_SQL = """
SELECT event_id, user_id, event_type, ts
FROM events
WHERE date_trunc('day', ts) = (SELECT max(date_trunc('day', ts)) FROM events)
"""


# --------------------------------------------------------------------------
# Analytic surface beyond the reference's own code (SURVEY §2.7 growth)
# --------------------------------------------------------------------------


def window_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by (totalprice, orderkey).

    Scale: single hash-partition shuffle on o_custkey; rank+filter prunes
    before any further stage."""
    from pyspark.sql import Window

    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rk"
        )
    )


WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
       CAST(rk AS INT) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
WHERE rk <= 3
"""


def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch formulation of a session window (streaming upgrade path:
    ``F.session_window`` in streaming/).

    Scale: one shuffle on user_id; both window functions share the same
    partitioning so Catalyst plans a single Exchange."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))) > (
        30 * 60 * 1_000_000
    )
    new_sess = F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = ev.withColumn("sess_no", F.sum(new_sess).over(w))
    return sess.groupBy("user_id", "sess_no").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  -- CAST: DuckDB windowed sum(INT) widens to HUGEINT; Spark emits BIGINT
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS sess_no
  FROM marked
)
SELECT user_id, sess_no, min(ts) AS sess_start, max(ts) AS sess_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sess_no
"""


def tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream table —
    batch equivalent of the Structured Streaming windowed agg in
    streaming/ (same plan shape, availableNow trigger)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# TPC-H breadth extensions (library-level; the 50-entry driver registry is
# at cap, so these carry pytest oracles via tests/test_tpch_extra.py —
# same harness the driver mirrors). Adapted to the testdata's trimmed
# schemas (no commitdate/receiptdate/shipmode columns).
# --------------------------------------------------------------------------


def q4_late_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders have at least
    one LATE line (shipdate after orderdate + 60 days) — EXISTS
    decorrelated to a left-semi join.

    Scale: o_orderpriority rides along the one lineitem⋈orders join, so
    the EXISTS needs no second orders scan or semi join (round 9; the
    prior shape re-scanned orders and re-shuffled both sides of the
    semi join — 6.5 s of the ×100 map). The per-order dedup puts the
    priority in the GROUP KEYS — priority is functionally dependent on
    orderkey, so grouping on (orderkey, priority) ≡ orderkey — which
    keeps the aggregate buffer empty/fixed-width and therefore
    hash-based (an agg of max(priority) is a string buffer, which
    Spark plans as SortAggregate: it sorted all ~30M late rows, 8.3 s
    measured at ×100). HashPartitioning(orderkey) from the join
    satisfies the grouping's clustered distribution by the subset
    rule, so the dedup plans no exchange; only the tiny per-priority
    rollup shuffles."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


def q13_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer,
    INCLUDING zero-order customers — left outer join then two
    aggregations (per customer, then per count).

    Scale: the outer join shuffles on custkey; the second aggregation's
    input is one row per customer (already small); zero-order customers
    come from the outer join's nulls, not a separate scan."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count skips nulls
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


Q13_SQL = """
SELECT c_count, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q18_big_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — HAVING on a lineitem
    aggregate, joined back to orders+customer, top by total quantity.

    Scale: the quantity rollup is a map-side-combined shuffle on
    orderkey; only the few qualifying keys join back (semi-shaped), so
    the wide order/customer rows never shuffle for losers."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS total_price, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 100
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 100
"""


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: per market segment, customers with
    above-average balance (global scalar subquery over positive
    balances) and no RECENT orders (none since 2001-01-01) — anti join.
    (Every testdata customer has some order, so the classic no-orders
    predicate is vacuous; recency-idle keeps the identical plan shape
    on real rows.)

    Scale: the scalar average is one tiny aggregate broadcast into the
    filter; the anti join shuffles custkeys only (the orders side
    filters on date and projects to the key before the exchange)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("a"))
        .select(F.round("a", 6).alias("a"))
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("a")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    ).select("o_custkey")
    idle = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(cents).alias("acctbal_cents"),
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
WHERE c_acctbal > (
    SELECT round(avg(c_acctbal), 6) FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  )
GROUP BY c_mktsegment
"""


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum total revenue over
    a ship-date window — an aggregate view joined against its own scalar
    max (ties all surface, as in the spec).

    Scale: ONE revenue rollup shuffle on suppkey; the scalar max is a
    tiny aggregate broadcast back; supplier dimension broadcasts."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("total_cents"))
    top = rev.agg(F.max("total_cents").alias("m"))
    sup = _t(spark, sf, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_cents == F.col("m"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cents
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_cents = (SELECT max(total_cents) FROM rev)
"""


def q16_supplier_variety(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: per (brand, size band), how many DISTINCT
    suppliers ship the part — with a NOT-IN exclusion list (suppliers in
    debt), decorrelated to an anti join. partsupp doesn't exist in this
    testdata; lineitem's (partkey, suppkey) pairs are the association.

    Scale: NO standalone pair-distinct — countDistinct already plans a
    two-phase dedup aggregate on (brand, band, suppkey), and its
    map-side partial phase dedups before the one shuffle, so a prior
    `.distinct()` on (partkey, suppkey) would only add a second full
    shuffle of the fact table to remove rows the dedup aggregate
    removes anyway (round 9: that extra shuffle was 10.0 s of the ×100
    tpch_breadth map). The exclusion list is a tiny broadcast anti
    join and the part attributes arrive by broadcast, both map-side."""
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf, "part")
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    pairs = li.join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand", (F.col("p_size") - F.col("p_size") % 10).alias("size_band")
        )
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


Q16_SQL = """
SELECT p_brand, p_size - p_size % 10 AS size_band,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


def q20_heavy_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose shipped quantity of some part
    exceeds a threshold fraction (20% — the testdata spreads parts
    across many suppliers, so the spec's 50% never fires) of that
    part's total shipped quantity —
    nested IN decorrelated to a semi join against an aggregate-derived
    key set.

    Scale: ONE lineitem scan and ONE fact exchange (round 9; the prior
    shape scanned lineitem twice and shuffled three times — pair
    rollup, part rollup, rollup⋈rollup join — 7.0 s of the ×100 map).
    The scan repartitions on partkey alone; HashPartitioning(partkey)
    satisfies the pair rollup's ClusteredDistribution(partkey, suppkey)
    AND the per-part window's, so the rollup plans with no further
    exchange and the part total is a windowed sum over it (sort-only).
    Deriving part_qty as sum-of-pair-sums is exact here, not
    approximate: l_quantity is integral (TPC-H 1..50), so every partial
    sum is an exact double well below 2^53 and reassociation cannot
    change it. The qualifying key set is keys-only; the supplier
    dimension broadcasts for the final projection."""
    from pyspark.sql import Window

    li = (
        _t(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity")
        .repartition(F.col("l_partkey"))
    )
    per_pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("raw_pair")
    )
    w = Window.partitionBy("l_partkey")
    heavy = (
        per_pair.withColumn("raw_part", F.sum("raw_pair").over(w))
        .filter(
            F.round("raw_pair", 2) > F.round("raw_part", 2) * 0.2
        )
        .select("l_suppkey")
        .distinct()
    )
    sup = _t(spark, sf, "supplier")
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


Q20_SQL = """
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT pair.l_suppkey
  FROM (
    SELECT l_partkey, l_suppkey, round(sum(l_quantity), 2) AS pair_qty
    FROM lineitem GROUP BY 1, 2
  ) pair
  JOIN (
    SELECT l_partkey, round(sum(l_quantity), 2) AS part_qty
    FROM lineitem GROUP BY 1
  ) tot ON pair.l_partkey = tot.l_partkey
  WHERE pair.pair_qty > tot.part_qty * 0.2
)
"""


def q10_returned_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items (l_returnflag =
    'R') per customer over a quarter, top 20 — fact filter, one shuffle
    on the join key, broadcast customer/nation, TakeOrdered top-k.

    Scale: the returnflag+date filters push to the lineitem scan; only
    qualifying rows shuffle on orderkey; the per-customer aggregate is
    map-side combined; the top 20 is per-partition heaps, no full sort."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents).alias("lost_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("lost_cents"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS lost_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY lost_cents DESC, c_custkey ASC
LIMIT 20
"""


def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines whose quantity is below 20%
    of their part's average quantity — a correlated scalar average
    decorrelated to a per-part aggregate joined back.

    Scale: ONE lineitem scan and ONE exchange (round 9; the join-back
    formulation scanned lineitem twice and planned a sort-merge join —
    exchange + sort on BOTH sides — only to compare each line against
    its own part's average, 5.1 s of the ×100 map). The per-part
    average is a window over the partkey exchange the lines ride
    anyway; the avg's operands (exact integral sum, count) are
    identical either way, so the rounded threshold is bit-equal to the
    join-back form. Output is one row."""
    from pyspark.sql import Window

    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = F.round(F.avg("l_quantity").over(w), 6)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < F.col("avg_qty") * 0.2)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_lines
FROM lineitem li
JOIN (
  SELECT l_partkey, round(avg(l_quantity), 6) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON li.l_partkey = a.l_partkey
WHERE li.l_quantity < a.avg_qty * 0.2
"""


# --------------------------------------------------------------------------
# Round 5: the remaining TPC-H shapes (Q2/Q8/Q9/Q11/Q12/Q19/Q21) — with
# these every one of the 22 TPC-H query shapes is driver-checked via
# tpch_breadth. partsupp / l_shipmode / l_commitdate / l_receiptdate /
# p_mfgr / p_container do not exist in this testdata, so (like Q16/Q20
# before) the shapes substitute the nearest available association:
# lineitem's (partkey, suppkey) pairs stand in for partsupp, ship delay
# vs o_orderdate stands in for the commit/receipt lateness predicates.
# --------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the EUROPE supplier(s)
    offering the minimum unit cost — the correlated MIN subquery
    decorrelated to a per-part aggregate joined back (ties all surface,
    as in the spec). Unit cost = min line unit price in cents over the
    (part, supplier) pair's lineitem history.

    Scale: the small-part predicate is pushed BELOW the fact shuffle as
    a broadcast left-semi join on the filtered part keys — only ~20% of
    lineitem rows belong to p_size≤10 parts, and without the semi-join
    the (partkey, suppkey) rollup shuffles all of them only for the
    final broadcast join to discard 80% (round 9: q2 was the largest
    tpch_breadth op at ×100, 16.9 s of 73.4, and Spark inserts no
    runtime filter here on its own). The restriction is exact: per-part
    aggregates only depend on that part's rows. The rollup exchange is
    pinned to partkey ALONE (the q20 idiom): HashPartitioning(partkey)
    satisfies the pair rollup's ClusteredDistribution(partkey, suppkey)
    and the per-part min window's, so the min is a sort-only window
    over the same exchange and the correlated-MIN join-back disappears
    (round 9: the join-back formulation sort-merged the pair rollup
    against its own aggregate — 19.1 s of the ×100 map under the SMJ
    regime vs 6.2 s for this shape). supplier⋈nation⋈region is a
    broadcast dim chain; the top-100 is TakeOrdered, no full sort."""
    from pyspark.sql import Window

    part = _t(spark, sf, "part").filter(F.col("p_size") <= 10)
    li = (
        _t(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey",
            "left_semi",
        )
        .repartition(F.col("l_partkey"))
    )
    unit_cents = F.round(
        F.col("l_extendedprice") * 100 / F.col("l_quantity")
    ).cast("long")
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cents).alias("cost_cents")
    )
    pair = pair.withColumn(
        "min_cents",
        F.min("cost_cents").over(Window.partitionBy("l_partkey")),
    )
    sup = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        sup.join(
            F.broadcast(nation), sup.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    return (
        pair.filter(F.col("cost_cents") == F.col("min_cents"))
        .join(F.broadcast(part), pair.l_partkey == part.p_partkey)
        .join(F.broadcast(eu_sup), pair.l_suppkey == F.col("s_suppkey"))
        .select(
            F.round(F.col("s_acctbal") * 100).cast("long").alias(
                "acctbal_cents"
            ),
            "s_name",
            "n_name",
            "p_partkey",
            "cost_cents",
        )
        .orderBy(
            F.desc("acctbal_cents"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(100)
    )


Q2_SQL = """
WITH pair AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT))
           AS cost_cents
  FROM lineitem GROUP BY 1, 2
),
pm AS (SELECT l_partkey, min(cost_cents) AS min_cents FROM pair GROUP BY 1)
SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
       s_name, n_name, p_partkey, cost_cents
FROM pair
JOIN pm USING (l_partkey)
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE cost_cents = min_cents AND p_size <= 10 AND r_name = 'EUROPE'
ORDER BY acctbal_cents DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of AMERICA-market revenue per
    order year — the two-level conditional-aggregate-over-a-star join
    (numerator = revenue supplied by one nation, denominator = all
    revenue sold into one region's customers).

    Scale: the AMERICA-customer restriction applies to ORDERS before
    the orderkey shuffle (round 9 — the r8 form joined customer/region
    above the lineitem⋈orders join, shuffling all orders at ×100 only
    to discard ~80% at the broadcast join; the reorder is exact since
    every surviving row must pass that restriction anyway);
    lineitem⋈orders then shuffles on the shared orderkey with the
    RESTRICTED orders side as a shuffle_hash build (round 9: the
    restriction bounds the build to ~20% of orders — a per-partition
    hash map of it beats sort-merging 60M lineitem rows, 10.1 s → 3.8 s
    in the ×100 map; the hint is safe at 100 TB because the build side
    is always the post-restriction fraction, never the raw fact, and
    scoping SHJ per-join avoids the engine-wide preferSortMergeJoin
    experiment's concurrent-build GC bimodality — see session.py);
    supplier→nation stays a broadcast dim chain; the share is a ratio
    of exact bigint cents (the q14 determinism pattern), grouped on ~6
    year keys so partial agg collapses the shuffle."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    sup = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("s_nation")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    orders_am = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li.join(
            orders_am.hint("shuffle_hash"),
            li.l_orderkey == orders_am.o_orderkey,
        )
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("s_nation") == "NATION_3", cents).otherwise(
                    F.lit(0)
                )
            ).alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .withColumn(
            "share_pct",
            F.round(
                F.lit(100.0) * F.col("nation_cents") / F.col("total_cents"),
                6,
            ),
        )
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       round(100.0 * sum(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)), 6)
         AS share_pct
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA'
GROUP BY 1
"""


def _q9_body(
    li: DataFrame,
    orders: DataFrame,
    sup: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q9 plan body over injectable inputs (see _q3_body) — the
    same logical plan runs on raw parquet scans (q9_product_profit) or
    the orderkey-bucketed fact tables (tpch_trio_bucketed, where the
    lineitem⋈orders join needs no Exchange and no sort)."""
    part = part.filter(F.col("p_name").contains("e"))
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    cost_cents = F.round(F.col("p_retailprice") * 60).cast("long") * F.round(
        F.col("l_quantity")
    ).cast("long")
    fact = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "l_orderkey",
            "s_nationkey",
            (rev_cents - cost_cents).alias("line_profit"),
        )
    )
    return (
        fact.join(
            orders.select("o_orderkey", "o_orderdate"),
            fact.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            "s_nationkey", F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum("line_profit").alias("profit_cents"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"), "o_year", "profit_cents"
        )
    )


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) for
    parts whose name contains 'e' — revenue minus a deterministic cost
    term (60% of retail price per unit stands in for ps_supplycost).

    Scale: part/supplier broadcast BELOW the one lineitem⋈orders
    shuffle, and the per-line profit and the supplier's nationkey are
    both computed pre-shuffle, so the fact exchange carries exactly
    three narrow columns — (orderkey, nationkey, profit_cents), ~20
    bytes/row — instead of the five raw price/discount/quantity/retail
    columns (round 9; the wide exchange was most of q9's 6.9 s in the
    ×100 map). Profit is exact bigint cents per line (unit cost in
    cents × integral quantity), so the rollup is
    engine-order-independent; the 25-row nation name join happens after
    the final low-cardinality aggregate."""
    return _q9_body(
        _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"),
        _t(spark, sf, "supplier"),
        _t(spark, sf, "nation"),
        _t(spark, sf, "part"),
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                - CAST(round(p_retailprice * 60) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
         AS profit_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%e%'
GROUP BY 1, 2
"""


def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through EUROPE
    suppliers exceeds 1.2× the per-part average for that region — the
    HAVING-vs-scalar-subquery shape, decorrelated to a 1-row
    (total, n_parts) aggregate broadcast back and compared in exact
    integer arithmetic (value×n×10 > total×12, no float threshold).
    Spec's single-nation + absolute-fraction predicate is
    SF-degenerate on this uniform testdata (a fixed fraction of a
    uniform distribution selects everything or nothing as N grows, and
    sf0.001's 10-supplier table lacks some nations entirely); the
    region filter + relative threshold keep a stable non-empty
    selection at every SF while preserving the query shape.

    Scale: one filtered rollup on partkey; the grand total is a 1-row
    aggregate broadcast back; the region filter reaches the scan via
    the broadcast supplier semi-join."""
    li = _t(spark, sf, "lineitem")
    sup = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    val = (
        li.join(F.broadcast(eu_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
    )
    total = val.agg(
        F.sum("value_cents").alias("grand_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        val.join(F.broadcast(total))
        .filter(
            F.col("value_cents") * F.col("n_parts") * 10
            > F.col("grand_cents") * 12
        )
        .select("l_partkey", "value_cents")
    )


Q11_SQL = """
WITH val AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1
)
SELECT l_partkey, value_cents
FROM val, (SELECT sum(value_cents) AS g, count(*) AS c FROM val) t
WHERE value_cents * c * 10 > g * 12
"""


def _q12_body(li: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 plan body over injectable inputs (see _q3_body /
    _q9_body — the bucketed twin injects the orderkey-bucketed fact
    tables and the join runs with no Exchange)."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", high.alias("is_high")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return joined.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.sum(F.col("is_high").cast("long")).alias("high_line_count"),
        F.sum((~F.col("is_high")).cast("long")).alias("low_line_count"),
    )


def q12_late_shipment_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: per ship year, how many LATE-shipped lines
    belonged to critical-priority orders vs the rest — the two-way
    CASE-conditional count over a fact⋈fact join (l_shipmode and the
    commit/receipt dates don't exist here; late = shipped more than 60
    days after the order date).

    Scale: the lateness predicate is row-local after the one orderkey
    shuffle; group keys are ~7 years, so partial aggregation collapses
    the second exchange to nothing. Round 13 (guide §2.3 "narrower
    types"): the priority CLASS is computed BELOW the orders-side
    exchange — the shuffle carries a boolean instead of the ~12-byte
    o_orderpriority string it only ever compared against two literals
    (the predicate is row-local on orders columns, so values are
    identical by construction; oracle unchanged)."""
    return _q12_body(_t(spark, sf, "lineitem"), _t(spark, sf, "orders"))


Q12_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def q19_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three DISJUNCTIVE
    (brand, size range, quantity range) clause groups — the
    OR-of-conjunctions predicate that exercises CNF conversion and
    join-predicate pushdown.

    Scale: the whole disjunction references only part + lineitem
    columns, so it evaluates row-local after the broadcast part join;
    nothing shuffles but the final 1-row aggregate."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    q = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q19_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order — the EXISTS (another supplier on the order)
    + NOT EXISTS (another LATE supplier) pair, decorrelated to one
    per-order aggregate: an order qualifies a supplier iff that
    supplier shipped late, the order used >1 distinct supplier, and
    exactly 1 distinct supplier shipped late. Late = shipped more than
    90 days after the order date (no receipt/commit dates here).

    Scale: both correlated subqueries collapse into a chain of two
    fixed-width hash aggregates that run with ZERO post-join exchanges
    and ZERO sorts: the join's output is hash-partitioned on the
    orderkey, and HashPartitioning(orderkey) satisfies the clustered
    distribution of BOTH the (orderkey, suppkey) pair rollup (subset
    rule) and the per-order rollup above it, so neither plans an
    Exchange. Every aggregation buffer is fixed-width (max/count/sum of
    ints), keeping both in vectorized HashAggregate — round 9 measured
    the tempting alternatives losing: the original window formulation
    sorts the whole rollup (8.2 s at ×100), and a collect_set
    ObjectHashAggregate sort-falls-back at 15M groups (24.8 s). The
    sole late supplier is recovered exactly by max(when(was_late,
    suppkey)) under the n_late_supp = 1 filter; only qualifying rows —
    at most one per order — reach the tiny per-supplier rollup and the
    TakeOrdered top-100."""
    return _q21_body(
        _t(spark, sf, "lineitem"),
        _t(spark, sf, "orders"),
        _t(spark, sf, "supplier"),
    )


def _q21_body(li: DataFrame, orders: DataFrame, sup: DataFrame) -> DataFrame:
    """TPC-H Q21 plan body over injectable inputs (see _q3_body /
    _q9_body — the bucketed twin injects the orderkey-bucketed fact
    tables; the join AND both per-order rollups then run with zero
    Exchange, since the bucketed scan already reports
    HashPartitioning(orderkey))."""
    li = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    per_pair = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("was_late").alias("n_late_supp"),
        F.max(
            F.when(F.col("was_late") == 1, F.col("l_suppkey"))
        ).alias("late_suppkey"),
    )
    return (
        per_order.filter(
            (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .join(
            F.broadcast(sup), F.col("late_suppkey") == sup.s_suppkey
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(100)
    )


Q21_SQL = """
WITH per_pair AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
             THEN 1 ELSE 0 END) AS was_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(was_late) AS n_late_supp
  FROM per_pair GROUP BY 1
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM per_pair
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE was_late = 1 AND n_supp > 1 AND n_late_supp = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 100
"""
