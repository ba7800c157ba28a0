"""Streaming query runners.

``availableNow`` is the engine's bridge between streaming and batch: it
drains everything currently in the source through the micro-batch engine
(bounded batches, checkpointed) and stops — the Structured-Streaming
replacement for the reference's 3-hourly cron (``dags/dag_bike.py:36``).
A periodic scheduler restarting an availableNow query gets incremental,
exactly-once processing of just the new snapshots; the operators don't
change.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# Every ckpt_*/drain_* mkdtemp dir this process created and has not yet
# removed (VERDICT r8 nit 1: ~500 leftover ckpt dirs / 11 GB in /tmp
# measurably distorted ×100 timings, and the fix was a manual protocol
# note — protocols rot; this registry makes cleanup code).
_OWNED_TMP_DIRS: set[str] = set()


def _mkdtemp_owned(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _OWNED_TMP_DIRS.add(d)
    return d


def _remove_owned(path: str | None) -> None:
    if path is None:
        return
    shutil.rmtree(path, ignore_errors=True)
    _OWNED_TMP_DIRS.discard(path)


def purge_stream_tmp_dirs() -> int:
    """Remove every ckpt_*/drain_* temp dir this process created that is
    still on disk; returns how many were removed.

    Checkpoint dirs of SUCCESSFUL drains are already gone (removed inline
    — the availableNow query has terminated, so its state store and WAL
    are dead weight). What this purges is (a) drain_* parquet-spill dirs,
    which must outlive their drain because the fetched DataFrame reads
    them lazily, and (b) ckpt dirs of drains that raised. Callers that
    know every drained result has been consumed (the scale sweep between
    entries, test teardown) call this; an atexit hook covers everything
    else. Caller-supplied checkpoint_dir paths are never touched."""
    n = 0
    for d in sorted(_OWNED_TMP_DIRS):
        shutil.rmtree(d, ignore_errors=True)
        _OWNED_TMP_DIRS.discard(d)
        n += 1
    return n


atexit.register(purge_stream_tmp_dirs)


def unload_state_stores(spark: SparkSession) -> bool:
    """Drop every state-store provider map this JVM still holds from
    TERMINATED streaming queries; returns True if unloaded.

    In local mode ``StateStore.loadedProviders`` retains each stateful
    query's full per-partition state maps after the query stops — the
    maintenance thread only unloads providers another executor claimed,
    which never happens in one JVM. Repeated availableNow drains
    therefore accumulate dead state until heap death (round 11: a ×100
    sweep OOMed in ``SessionWindowStateStoreSaveExec`` on the session
    window's THIRD same-process drain; measured ~38 MB retained per
    sf0.1 drain surviving gc+clearCache, freed exactly by this call —
    the streaming twin of the r9 checkpoint leak). A drained
    availableNow query never resumes and its temp checkpoint is already
    deleted, so its providers are unreachable-by-design dead weight.

    Skipped (returns False) while any streaming query is active — a
    live query's providers would be reloaded from its checkpoint on the
    next micro-batch (correct but wasteful, and for a temp-checkpoint
    drain in flight the reload could race its own cleanup).
    ``StateStore.stop()`` is JVM-GLOBAL, so the active check covers more
    than the calling session (ADVICE r11): the JVM companion's default
    and thread-active sessions are probed too — which reaches the root
    session from any of its ``newSession()`` clones, the common
    multi-session stack. Sessions that are neither (a clone active only
    on another thread) are NOT enumerable — Spark keeps no JVM-global
    query registry — so a deployment running concurrent stateful
    streams across such sessions must coordinate its own unloads; the
    cost of a miss is a checkpoint reload on that query's next
    micro-batch, not data loss. Reaches the JVM singleton directly (no
    public PySpark surface); failures are swallowed — this is a leak
    valve, not a correctness gate."""
    try:
        if spark.streams.active:
            return False
        jvm = spark.sparkContext._jvm
        # Spark 4 moved the concrete session to ...sql.classic; on a 3.x
        # runtime that class is absent. Probe in its own try and fall
        # back to the 3.x companion so a missing class degrades to the
        # weaker (calling-session-only) active check instead of turning
        # the whole valve into a permanent no-op (ADVICE r12).
        companion = None
        for cls in (
            "org.apache.spark.sql.classic.SparkSession",
            "org.apache.spark.sql.SparkSession",
        ):
            try:
                c = getattr(jvm, cls)
                c.getDefaultSession()  # raises if the class is absent
                companion = c
                break
            except Exception:
                continue
        if companion is not None:
            for opt in (
                companion.getDefaultSession(),
                companion.getActiveSession(),
            ):
                if opt.isDefined() and len(opt.get().streams().active()) > 0:
                    return False
        getattr(
            jvm,
            "org.apache.spark.sql.execution.streaming.state.StateStore",
        ).stop()
        return True
    except Exception:
        return False


def _default_timeout_s() -> int:
    """Drain-timeout default, env-tunable (``DLPS_STREAM_DRAIN_TIMEOUT_S``).

    300 s is sized for the driver-gate SFs; the ×100 correctness sweep
    drains 10M events through the stateful operator and legitimately
    needs more (observed: 300 s expired mid-drain under host contention).
    An env knob keeps every call site's signature unchanged while letting
    at-scale harnesses raise the hang guard without editing code."""
    return int(os.environ.get("DLPS_STREAM_DRAIN_TIMEOUT_S", "300"))


class StreamDrainTimeout(TimeoutError):
    """An availableNow query did not finish draining within timeout_s —
    raised so a partially-drained memory sink can never masquerade as the
    complete result (ADVICE r2)."""


def _await_or_raise(q, timeout_s: int, what: str) -> None:
    if not q.awaitTermination(timeout_s):
        raise StreamDrainTimeout(
            f"{what} still draining after {timeout_s}s — result would be "
            "partial; raise timeout_s or shrink the source backlog"
        )


def _start_drain(
    df: DataFrame,
    mode: str,
    sink: str,
    *,
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Start one availableNow drain query; return (query, fetch) where
    ``fetch()`` yields the materialized batch DataFrame after the drain.

    ``sink="memory"`` is the driver-local default — right for the
    window/group aggregates whose results are small by construction.
    ``sink="parquet"`` drains through ``foreachBatch`` + a distributed
    batch parquet write: complete mode overwrites per trigger (last
    emission wins — the memory sink's complete contract), append/update
    append their per-trigger emissions (ditto). Same rows, but a
    million-session result never funnels through the single-threaded
    driver-side sink ingest, and the follow-up Arrow collect scans
    parquet in parallel (measured at the ×100 rung on the stateful
    sessionizer, 9.5M rows: toArrow 1.4 s from parquet vs ~30 s from a
    driver-memory table).

    Returns ``(query, fetch, owned_ckpt)`` — ``owned_ckpt`` is the
    checkpoint dir WE created (None when the caller supplied one); the
    caller removes it after a successful drain."""
    spark = df.sparkSession
    owned_ckpt = None if checkpoint_dir else _mkdtemp_owned("ckpt_")
    ckpt = checkpoint_dir or owned_ckpt
    if sink == "memory":
        name = query_name or f"mem_{uuid.uuid4().hex[:12]}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q, (lambda: spark.table(name)), owned_ckpt
    if sink != "parquet":
        raise ValueError(f"unknown drain sink {sink!r} (memory|parquet)")
    # stays registered in _OWNED_TMP_DIRS: the fetched DataFrame reads
    # these parquet files LAZILY, so the dir can only be removed by
    # purge_stream_tmp_dirs() once the caller has consumed the result
    out_dir = _mkdtemp_owned("drain_")
    schema = df.schema

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per-batch directory (ADVICE r6): foreachBatch is
        # at-least-once, so a replayed micro-batch (checkpoint resume,
        # task retry after a partial write) must overwrite ITS OWN files
        # rather than append duplicates the fetch would silently count.
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(_sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )

    def _fetch() -> DataFrame:
        batches = sorted(
            (d for d in os.listdir(out_dir) if d.startswith("batch=")),
            key=lambda d: int(d.split("=", 1)[1]),
        )
        if not batches:
            # zero batches ran — an empty frame with the declared schema,
            # exactly what an unpopulated memory sink returns
            return spark.createDataFrame([], schema)
        if mode == "complete":
            # complete re-emits the full result every trigger: the memory
            # sink's contract is last-emission-wins, so read only the
            # final batch directory
            batches = batches[-1:]
        return spark.read.schema(schema).parquet(
            *(os.path.join(out_dir, d) for d in batches)
        )

    return q, _fetch, owned_ckpt


def run_available_now(
    df: DataFrame,
    *,
    output_mode: str = "complete",
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
    timeout_s: int | None = None,
    sink: str = "memory",
) -> DataFrame:
    """Drain a streaming DataFrame and return the materialized result as
    a batch DataFrame.

    ``complete`` output mode emits every window/group regardless of
    watermark, which makes the result equal to the batch run of the same
    plan — that equivalence is what the driver's DuckDB oracle checks.
    The default memory sink is driver-local; pass ``sink="parquet"``
    when the RESULT itself is data-sized (e.g. one row per session) —
    same rows, distributed spill instead of a driver funnel (see
    ``_start_drain``). For durable output use ``write_available_now``."""
    from datalake_public_spark.streaming.sources import restore_query_scoped_confs

    spark = df.sparkSession
    q, fetch, owned_ckpt = _start_drain(
        df,
        output_mode,
        sink,
        query_name=query_name,
        checkpoint_dir=checkpoint_dir,
    )
    # the running query holds its own cloned conf — release any
    # source-scoped session confs (e.g. parquet nanosAsLong) immediately
    restore_query_scoped_confs(spark)
    ok = False
    try:
        _await_or_raise(
            q,
            timeout_s if timeout_s is not None else _default_timeout_s(),
            f"{sink}-sink availableNow query",
        )
        ok = True
    finally:
        q.stop()
        # a drained availableNow query never resumes — its checkpoint
        # (state store + WAL, the bulk of the r8 11 GB /tmp leak) is dead
        # weight the moment the drain succeeds. Failed drains keep theirs
        # for post-mortem; purge_stream_tmp_dirs() collects them later.
        if ok:
            _remove_owned(owned_ckpt)
            if owned_ckpt is not None:
                # temp-checkpoint drain: its state-store provider maps
                # are unreachable dead weight now (see unload_state_stores
                # — the round-11 OOM class); caller-supplied checkpoints
                # may resume, so their providers stay warm
                unload_state_stores(spark)
    return fetch()


def run_available_now_many(
    dfs: list[DataFrame],
    *,
    output_modes: list[str] | None = None,
    timeout_s: int | None = None,
    sinks: list[str] | None = None,
) -> list[DataFrame]:
    """Drain SEVERAL streaming DataFrames concurrently (one drain query
    each, all started before any is awaited) and return their
    materialized results in order.

    Starting queries back-to-back overlaps their micro-batch work on the
    scheduler instead of paying each query's drain serially — the merged
    driver queries (streaming_windows / streaming_joins) run 3 streams
    each, so this is ~3× less wall time for identical results. Each query
    still holds its own cloned conf/checkpoint; source-scoped session
    confs are restored once all queries have started. ``sinks`` selects
    memory (default) or parquet spill PER STREAM — see ``_start_drain``."""
    from datalake_public_spark.streaming.sources import restore_query_scoped_confs

    modes = output_modes or ["complete"] * len(dfs)
    sink_kinds = sinks or ["memory"] * len(dfs)
    if len(modes) != len(dfs) or len(sink_kinds) != len(dfs):
        raise ValueError(
            f"{len(modes)} output_modes / {len(sink_kinds)} sinks for "
            f"{len(dfs)} streams — zip would silently drop streams"
        )
    fetches, queries, owned_ckpts = [], [], []
    spark = dfs[0].sparkSession if dfs else None
    ok = False
    try:
        for df, mode, sink in zip(dfs, modes, sink_kinds):
            q, fetch, owned_ckpt = _start_drain(df, mode, sink)
            fetches.append(fetch)
            queries.append(q)
            owned_ckpts.append(owned_ckpt)
        for i, q in enumerate(queries):
            _await_or_raise(
                q,
                timeout_s if timeout_s is not None else _default_timeout_s(),
                f"availableNow drain query #{i}",
            )
        ok = True
    finally:
        # restore in the finally: if any start() throws, the session must
        # not keep source-scoped confs (or stale pending-restore entries)
        if spark is not None:
            restore_query_scoped_confs(spark)
        for q in queries:
            q.stop()
        if ok:
            for c in owned_ckpts:
                _remove_owned(c)
            if spark is not None and any(c is not None for c in owned_ckpts):
                unload_state_stores(spark)  # see run_available_now
    return [fetch() for fetch in fetches]


def write_available_now(
    df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str | None = None,
    partition_by: tuple[str, ...] = (),
    timeout_s: int = 600,
) -> None:
    """Drain a streaming DataFrame to parquet (append — file sinks support
    only append mode; aggregations need watermarks so finalized windows
    can be appended)."""
    owned_ckpt = None if checkpoint_dir else _mkdtemp_owned("ckpt_")
    ckpt = checkpoint_dir or owned_ckpt
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    from datalake_public_spark.streaming.sources import restore_query_scoped_confs

    restore_query_scoped_confs(df.sparkSession)
    ok = False
    try:
        _await_or_raise(q, timeout_s, f"parquet sink query at {path}")
        ok = True
    finally:
        q.stop()
        if ok:
            _remove_owned(owned_ckpt)
            if owned_ckpt is not None:
                unload_state_stores(df.sparkSession)  # see run_available_now
