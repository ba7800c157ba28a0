"""Structured Streaming query functions and the oracles of the streaming
entries.

Each query drains the ``events`` table through the micro-batch engine
(file streaming source + ``availableNow`` trigger, streaming/) and
returns the materialized result, so the driver's DuckDB oracle checks
real streaming execution — watermarks, state store, window merge — not a
batch re-formulation. Window aggregations run in complete output mode
(every window emitted ⇒ equals the batch run of the same plan); the
stateful sessionizer runs in append mode and its oracle mirrors the
emission contract (only sessions the watermark provably closed).

Streaming is absent from the reference (3-hourly cron instead,
``dags/dag_bike.py:36``; SURVEY §2.7) — this is the §7.2-step-7 upgrade
path, exercised end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalake_public_spark.streaming.runner import run_available_now
from datalake_public_spark.streaming.sources import events_stream
from datalake_public_spark.streaming.stateful import stateful_sessionize


STREAM_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


STREAM_SLIDING_SQL = """
WITH e AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, event_type, value FROM events
), x AS (
  SELECT b AS window_start, event_type, value FROM e
  UNION ALL
  SELECT b - INTERVAL '30 minutes' AS window_start, event_type, value FROM e
)
SELECT window_start, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM x GROUP BY 1, 2
"""


# Session boundaries are half-open: an event exactly at prev_ts + gap
# starts a new session, hence >= in the oracle's gap predicate.
STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS sess_no
  FROM marked
)
SELECT min(ts) AS sess_start, user_id, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, sess_no
"""


def streaming_stateful_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): closed
    sessions only, emitted when the event-time watermark passes
    ``sess_end + gap``. Scale: per-user state is one fixed-width tuple;
    the Arrow-batched UDF sees each user's micro-batch slice, never
    the whole history. The result is one row per SESSION — data-sized,
    not summary-sized — so it drains through the distributed parquet
    spill, not the driver-local memory sink."""
    return run_available_now(
        stateful_sessionize(events_stream(spark, sf)),
        output_mode="append",
        sink="parquet",
    )


# The trailing-session filter reproduces the streaming emission contract:
# a session is emitted iff the final watermark (= max event time with the
# 0-second delay) passed sess_end + 30 min.
STREAM_STATEFUL_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS sess_no
  FROM marked
)
SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, sess_no
HAVING epoch_us(max(ts)) + 30*60*1000000 <= (SELECT max(epoch_us(ts)) FROM events)
"""


STREAM_INTERVAL_JOIN_SQL = """
SELECT c.user_id, count(*) AS n_pairs
FROM events c JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts >= c.ts - INTERVAL 30 MINUTE AND v.ts <= c.ts
GROUP BY c.user_id
"""


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


STREAM_ENRICH_SQL = """
SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def streaming_transform_state(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary stateful processing via ``transformWithStateInPandas``
    (Spark 4 StatefulProcessor API): per-user running count + cents-sum
    in RocksDB-backed value state. One data batch under availableNow ⇒
    the Update-mode emission equals the batch groupBy, giving an exact
    oracle. The RocksDB provider is required by the operator; the conf
    is scoped to this query and restored after (it binds at stream
    start, so concurrent non-TWS queries are unaffected)."""
    from datalake_public_spark.streaming.transform_state import (
        ROCKSDB_PROVIDER,
        transform_with_state_user_stats,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        return run_available_now(
            transform_with_state_user_stats(events_stream(spark, sf)),
            output_mode="update",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


STREAM_TWS_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY user_id
"""
