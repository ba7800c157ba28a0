"""Query functions for the relational surface beyond the reference.

SURVEY §2.7 lists the operators the reference *lacks*; a user migrating
to this engine gets them natively from Spark. This module holds as-of
join, range join, pivot, profiling, time-spine gap fill, salted skew
aggregation/join, the CSV/ORC roundtrip and approximate aggregates
(HLL / quantile sketches, accuracy asserted in
tests/test_ext_queries.py). Semi/anti joins, set operators, cube, JSON
extraction, string functions and window frames are graded inside
``driver_registry`` (``set_join_ops``, ``multi_grouping``,
``scalar_funcs``, ``window_suite``).

Scale notes per query; the shared theme: joins either broadcast a tiny
side or shuffle once on an equi-key — never a cross product — and the
as-of join is the union+window formulation (one shuffle, no range
explosion), which is the only formulation that survives 100 TB event
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_public_spark.driver_queries import _events, _t


# --------------------------------------------------------------------------
# Time-series joins
# --------------------------------------------------------------------------


def asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for every 'click' event, the most recent 'view'
    timestamp of the same user at-or-before the click.

    Formulated as union + last(ignorenulls) over (user, time) — ONE
    shuffle on user_id, linear scan per partition. The naive range join
    (clicks × views with v_ts <= c_ts + max-per-click) explodes
    quadratically in events-per-user; this doesn't, which is why it's
    the 100 TB formulation. DuckDB's native ASOF JOIN is the oracle."""
    from pyspark.sql import Window

    ev = _events(spark, sf).select("event_id", "user_id", "ts", "event_type")
    tagged = ev.filter(F.col("event_type").isin("click", "view")).withColumn(
        "is_click", (F.col("event_type") == "click").cast("int")
    )
    # views sort before clicks at equal ts → a same-instant view is visible
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof = tagged.withColumn(
        "asof_view_ts",
        F.last(F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return asof.filter(F.col("is_click") == 1).select(
        "event_id", "user_id", F.col("ts").alias("click_ts"), "asof_view_ts"
    )


ASOF_SQL = """
SELECT c.event_id, c.user_id, c.ts AS click_ts, v.ts AS asof_view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def _range_table(spark: SparkSession) -> DataFrame:
    return spark.range(10).select(
        (F.col("id") * 50.0).alias("lo"), ((F.col("id") + 1) * 50.0).alias("hi")
    )


def range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Band/range join BOTH ways, op-tagged: 'broadcast' is the
    small-range-side plan (BroadcastNestedLoopJoin, band predicate pushed
    into the probe — no fact shuffle); 'binned' is the SCALE path for
    large range tables (operators/joins.binned_range_join: explode ranges
    to covered bins → hash EQUI-join on bin → residual re-check — what
    you run when neither side broadcasts and a nested loop would be
    quadratic). Identical results by construction; the oracle checks
    both tags against the same theta-join SQL. The value aggregate is
    integer cents (per-row half-up to cents, then exact integer sum) —
    summing doubles in two differently-planned branches and rounding
    the totals would be sum-order-dependent at a half-cent boundary
    (review finding r3; same hazard class as NOTES_r3's bucketed-q5
    float note)."""
    from datalake_public_spark.operators.joins import binned_range_join

    ev = _events(spark, sf)
    ranges = _range_table(spark)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def agg(joined):
        return joined.groupBy("lo", "hi").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )

    bcast = agg(
        ev.join(
            F.broadcast(ranges),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
    ).withColumn("op", F.lit("broadcast"))
    binned = agg(
        binned_range_join(ev, ranges, value_col="value", bin_width=50.0)
    ).withColumn("op", F.lit("binned"))
    return bcast.unionByName(binned)


RANGE_JOIN_SQL = """
WITH agg AS (
  SELECT lo, hi, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM events
  JOIN (SELECT CAST(id * 50.0 AS DOUBLE) AS lo,
               CAST((id + 1) * 50.0 AS DOUBLE) AS hi
        FROM range(10) t(id)) r
    ON value >= lo AND value < hi
  GROUP BY lo, hi
)
SELECT lo, hi, n_events, sum_cents, 'broadcast' AS op FROM agg
UNION ALL
SELECT lo, hi, n_events, sum_cents, 'binned' FROM agg
"""


# --------------------------------------------------------------------------
# Multi-dimensional aggregation
# --------------------------------------------------------------------------


def pivot_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per-user event counts, event types as columns. The value
    list is declared (not discovered) so the plan is a single hash
    aggregate — discovery would need an extra distinct pass."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _events(spark, sf)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Approximate aggregates (sketches — values are implementation-specific;
# accuracy is asserted in tests/test_ext_queries.py, and the graded
# approx_sketches entry checks them against exact values)
# --------------------------------------------------------------------------


def approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type. At 100 TB this is THE
    distinct-count operator: fixed-size sketch per group, mergeable
    map-side, no key shuffle of raw values (vs exact countDistinct's
    expand+dedup)."""
    ev = _events(spark, sf)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )


def approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles of event value per type (KLL-style sketch;
    single pass, mergeable, bounded memory — the scale path for
    p50/p95/p99 dashboards)."""
    ev = _events(spark, sf)
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("pcts"),
    )


# --------------------------------------------------------------------------
# Skew mitigation (semantics-preserving → oracle = the plain formulation)
# --------------------------------------------------------------------------


def skew_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage salted aggregation over events. Value sums go through
    integer cents (values have 2 decimals) so partial-merge order can't
    perturb float low bits — the result is bit-identical to plain
    GROUP BY, which is exactly what the oracle asserts."""
    from datalake_public_spark.operators.skew import salted_agg

    ev = _events(spark, sf).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "sum_cents": ("cents", "sum"),
            "max_cents": ("cents", "max"),
        },
        n_salt=16,
        salt_cols=["event_id"],
    )


SKEW_AGG_SQL = """
SELECT event_type, count(event_id) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(CAST(round(value * 100) AS BIGINT)) AS max_cents
FROM events GROUP BY event_type
"""


def skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted fact×dim join (lineitem × orders on orderkey), aggregated
    to order priority. Plan: the small side replicates ×8 and the hot
    keys of the large side spread over 8 reducers; results identical to
    the plain join — asserted by the oracle."""
    from datalake_public_spark.operators.skew import salted_join

    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", F.round(F.col("l_quantity") * 100).cast("long").alias("qty_cents")
    )
    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", n_salt=8, large_salt_cols=["qty_cents"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("qty_cents").alias("sum_qty_cents"),
    )


SKEW_JOIN_SQL = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Time-series spine
# --------------------------------------------------------------------------


def time_spine_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Dense hourly time spine per event type with zero-filled gaps:
    sequence() generates the spine from the observed min/max (a scalar
    subquery — no driver round-trip), cross join with the type dim, left
    join the hourly aggregate. The standard shape for gap-free
    time-series features at any scale: the spine is |hours|×|types| rows
    — tiny next to the fact table — and the fact side aggregates BEFORE
    the join, so the expensive side shuffles once at hour granularity."""
    ev = _events(spark, sf)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour", "event_type", F.coalesce("n_events", F.lit(0)).alias("n_events")
        )
    )


TIME_SPINE_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT s.hour, t.event_type, coalesce(h.n_events, 0) AS n_events
FROM spine s
CROSS JOIN (SELECT DISTINCT event_type FROM events) t
LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
"""


def profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass column profile of the orders table (row/non-null/distinct
    counts + stringified min/max per column) — the pre-ingest sanity scan.
    Scale: one aggregation over one scan for ALL columns; swap exact
    distinct for approx_count_distinct at 100 TB (same plan shape)."""
    from datalake_public_spark.operators.quality import profile_table

    return profile_table(_t(spark, sf, "orders"))


def _profile_sql() -> str:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    parts = [
        f"""
SELECT '{c}' AS "column", count(*) AS n_rows, count({c}) AS n_nonnull,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


# --------------------------------------------------------------------------
# Format roundtrips: CSV (ingest-only format) and ORC (columnar lake format)
# --------------------------------------------------------------------------

_ROUNDTRIP_SQL = """
SELECT s_nationkey, count(*) AS n_suppliers,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM supplier
GROUP BY s_nationkey
"""


def _format_roundtrip(spark: SparkSession, sf: str, fmt: str) -> DataFrame:
    """Write supplier out in ``fmt``, read it back with the schema'd
    reader, aggregate — proves lossless type fidelity for the format
    (doubles round-trip via shortest-repr text in CSV; natively in ORC).

    Scale: format conversion is a map-only job (no shuffle) — at 100 TB
    it parallelizes per input split; the oracle aggregates the original
    parquet, so any corruption in write→read shows up as a hash miss."""
    import os
    import tempfile

    from datalake_public_spark.sources.readers import read_csv_table, read_orc_table

    sup = _t(spark, sf, "supplier")
    tag = sf.strip("/").replace("/", "_")
    dest = os.path.join(tempfile.gettempdir(), f"dlps_roundtrip_{fmt}_{tag}")
    if fmt == "csv":
        sup.write.mode("overwrite").option("header", True).csv(dest)
        back = read_csv_table(spark, dest, sup.schema)
    else:
        sup.write.mode("overwrite").orc(dest)
        back = read_orc_table(spark, dest, sup.schema)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


