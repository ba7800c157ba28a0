"""Streaming sources: file-based ``readStream`` over the lake zones.

Replaces the reference's cron-plus-snapshot emulation
(``dags/dag_bike.py:36``, boto3 folder listing at
``index_to_elastic_with_spark.py:16-38``) with Spark's file streaming
source: new files under a zone prefix are discovered incrementally,
exactly-once, with checkpointed progress — no manual path surgery.

Scale: the file source lists only new files per micro-batch;
``maxFilesPerTrigger`` bounds batch size so a backlog (e.g. first run
over years of snapshots) streams through in bounded-memory chunks
instead of one giant batch. Schemas are always declared — streaming
sources cannot infer, which is the same no-inference rule the batch
readers enforce (SURVEY §1.4).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


# Confs a streaming SOURCE needs active at query start (streams clone the
# session conf when they start, so the runner restores these right after —
# the session is never left mutated once the query is running/finished).
#
# Ownership (ADVICE r2: the old module-global list let ANY runner's restore
# pop ALL pending entries, so interleaved construction of two streaming
# queries — or a failed start — could unset nanosAsLong before the other
# query planned its first micro-batch scan):
#   * every entry is tagged with the thread that pushed it; a runner's
#     restore touches only its OWN thread's entries, so concurrent
#     construction on other threads is never clobbered;
#   * all list/conf mutation is serialized by a lock;
#   * same-key entries form a chain (each prev is the previous entry's
#     value) — restoring out of order collapses the chain instead of
#     clobbering the conf mid-flight, and the LAST restore returns the
#     conf to its original pre-everything value.
# Remaining contract for a single thread: construct the streams for one
# runner invocation at a time (the existing pattern — every call site is
# run_available_now*(build(events_stream(...)))); the runner releases that
# invocation's confs as soon as its queries have started.
_PENDING_LOCK = threading.Lock()
_PENDING_CONF_RESTORE: list[dict] = []
_PENDING_SEQ = itertools.count()


def _set_query_scoped_conf(spark: SparkSession, key: str, value: str) -> None:
    with _PENDING_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, value)
        _PENDING_CONF_RESTORE.append(
            {
                "seq": next(_PENDING_SEQ),
                "owner": threading.get_ident(),
                "key": key,
                "prev": prev,
            }
        )


def _restore_entry(spark: SparkSession, entry: dict) -> None:
    """Lock held. Remove ``entry``; if a later unrestored entry shadows the
    same key, fold this entry's prev into it (the conf stays at the value
    the later query still needs); otherwise apply the restore."""
    _PENDING_CONF_RESTORE.remove(entry)
    later = [
        e
        for e in _PENDING_CONF_RESTORE
        if e["key"] == entry["key"] and e["seq"] > entry["seq"]
    ]
    if later:
        later[0]["prev"] = entry["prev"]
        return
    if entry["prev"] is None:
        spark.conf.unset(entry["key"])
    else:
        spark.conf.set(entry["key"], entry["prev"])


def restore_query_scoped_confs(spark: SparkSession) -> None:
    """Called by the streaming runners once their queries have started
    (each running query holds its own cloned conf from that point).
    Restores only the entries pushed by the CALLING thread."""
    me = threading.get_ident()
    with _PENDING_LOCK:
        for entry in [e for e in _PENDING_CONF_RESTORE if e["owner"] == me]:
            _restore_entry(spark, entry)


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
    multiline: bool = True,
) -> DataFrame:
    """Streaming JSON source with a declared schema (FAILFAST like the
    batch reader). One raw snapshot file = one or more rows per batch.
    ``multiline=False`` reads JSON-lines files (one record per line) —
    the shape the late-arrival fixtures use."""
    reader = (
        spark.readStream.schema(schema)
        .option("mode", "FAILFAST")
        .option("multiLine", "true" if multiline else "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


# events.parquet has shipped as TIMESTAMP(NANOS) or timestamp[us] across
# testdata generations; the streaming reader declares a schema matching the
# actual file (probed from the footer, driver_queries._events_ts_meta).
def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _as_stream_dir(parquet_file: str) -> str:
    """The file streaming source requires a DIRECTORY base path (a bare
    file fails partition inference with "basePath must be a directory").
    Stage a per-source temp directory holding a symlink to the file —
    zero-copy, deterministic per absolute path."""
    key = hashlib.md5(os.path.abspath(parquet_file).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"stream_src_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(parquet_file))
    if not os.path.exists(link):
        os.symlink(os.path.abspath(parquet_file), link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata ``events`` table as an unbounded stream.

    Same rows as ``driver_queries._events`` — encoding-adaptive (nanos
    files convert via integer ``DIV 1000`` so values match DuckDB's
    truncating read; micros files read natively) — but delivered through
    the file streaming source, so every downstream operator runs under
    the micro-batch engine.

    The declared schema matches the file's tz-awareness: a
    timestamp[us, tz=…] column (isAdjustedToUTC) must be declared
    TimestampType (LTZ) — the vectorized reader rejects reading an
    adjusted column into NTZ; a naive timestamp declares NTZ. Both cast
    to session-tz TIMESTAMP (identity under pinned UTC). For NANOS files
    the ``nanosAsLong`` conf must be active when each micro-batch plans
    its scan, so it is scoped to the streaming QUERY by run_available_now
    (which snapshots and restores it), not leaked into the session."""
    from datalake_public_spark.driver_queries import _events_ts_meta

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    src_dir = _as_stream_dir(path)
    unit, tz = _events_ts_meta(path)
    if unit == "ns":
        _set_query_scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(_events_schema(LongType())).parquet(src_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    ts_type = TimestampType() if tz else TimestampNTZType()
    raw = spark.readStream.schema(_events_schema(ts_type)).parquet(src_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))
