"""Structured Streaming surface: availableNow parity with batch.

The engine's claim is that its operators run unchanged under the
micro-batch engine (SURVEY §7.2 step 7). These tests drain real
streaming queries and assert exact equality with the batch formulation:

  * windowed aggs (tumbling/sliding/session) == batch run of same plan;
  * stateful sessionizer (applyInPandasWithState) == batch sessions,
    restricted to watermark-closed ones (the append-mode contract);
  * streaming GBFS flatten == batch flatten, incl. incremental pickup of
    a second snapshot on restart from the same checkpoint.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.driver_queries import _events
from datalake_public_spark.operators.flatten import (
    VELIB_STATION_STATUS_SPEC,
    flatten_feed,
)
from datalake_public_spark.streaming.pipeline import run_streaming_format_stage
from datalake_public_spark.streaming.runner import run_available_now
from datalake_public_spark.streaming.sources import events_stream, read_json_stream
from datalake_public_spark.streaming.stateful import stateful_sessionize
from datalake_public_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from tests.conftest import EPOCH, make_station_status_snapshot, write_snapshot

SF = "/root/testdata/sf0.001"


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize(
    "op", [tumbling_window_agg, sliding_window_agg, session_window_agg]
)
def test_windowed_agg_stream_equals_batch(spark, op):
    got = run_available_now(op(events_stream(spark, SF)))
    want = op(_events(spark, SF))
    assert got.count() > 0
    _assert_same(got, want)


def test_stateful_sessionize_closed_sessions(spark):
    """Append-mode emission == batch sessions whose end + gap the final
    watermark passed (trailing open sessions stay in state)."""
    from pyspark.sql import Window

    got = run_available_now(
        stateful_sessionize(events_stream(spark, SF)), output_mode="append"
    ).select("user_id", "sess_start", "sess_end", "n_events", "sum_value")

    ev = _events(spark, SF)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))) >= gap_us),
        1,
    ).otherwise(0)
    want = (
        ev.withColumn("sess_no", F.sum(new_sess).over(w))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .filter(F.unix_micros(F.col("sess_end")) + gap_us <= F.unix_micros(F.lit(mx)))
        .select("user_id", "sess_start", "sess_end", "n_events", "sum_value")
    )
    assert got.count() > 0
    _assert_same(got, want)


def test_streaming_flatten_incremental(spark, tmp_path):
    """availableNow flatten: snapshot 1 → restart with snapshot 2 landed →
    only the new file is processed; union equals batch flatten of both."""
    raw_dir = tmp_path / "raw"
    out = str(tmp_path / "formatted")
    ckpt = str(tmp_path / "ckpt")
    spec = VELIB_STATION_STATUS_SPEC

    snap1 = make_station_status_snapshot(epoch=EPOCH, n_stations=30, seed=1)
    write_snapshot(tmp_path, "raw/snap1.json", snap1)
    run_streaming_format_stage(spark, str(raw_dir), out, spec, checkpoint_dir=ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 30

    snap2 = make_station_status_snapshot(epoch=EPOCH + 3600, n_stations=40, seed=2)
    write_snapshot(tmp_path, "raw/snap2.json", snap2)
    run_streaming_format_stage(spark, str(raw_dir), out, spec, checkpoint_dir=ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 70

    batch = flatten_feed(
        spark.read.schema(spec.raw_schema)
        .option("multiLine", "true")
        .json(str(raw_dir)),
        spec,
    )
    _assert_same(got, batch)


def test_streaming_source_schema_matches_batch(spark, tmp_path):
    """read_json_stream yields the same rows/schema as the batch reader."""
    spec = VELIB_STATION_STATUS_SPEC
    write_snapshot(
        tmp_path, "raw/s.json", make_station_status_snapshot(epoch=EPOCH, n_stations=10)
    )
    stream = read_json_stream(spark, str(tmp_path / "raw"), spec.raw_schema)
    assert stream.isStreaming
    flat = flatten_feed(stream, spec)
    got = run_available_now(flat, output_mode="append")
    assert got.count() == 10
    assert [f.name for f in got.schema.fields] == [
        f.name for f in spec.out_schema.fields
    ]


def test_streaming_dedup_counts(spark):
    """First-seen-per-key dedup under the micro-batch engine: same key set
    as batch distinct (which row survives per key is arrival-order
    dependent, so compare keys, not rows)."""
    from datalake_public_spark.streaming.windows import streaming_dedup

    got = run_available_now(
        streaming_dedup(events_stream(spark, SF), ["user_id", "event_type"]),
        output_mode="append",
    )
    want = _events(spark, SF).dropDuplicates(["user_id", "event_type"])
    assert got.count() == want.count()
    gk = got.select("user_id", "event_type")
    wk = want.select("user_id", "event_type")
    assert gk.exceptAll(wk).count() == 0 and wk.exceptAll(gk).count() == 0


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream interval join == the batch interval join
    on a finite source (no late data → nothing evicted early)."""
    from datalake_public_spark.streaming.windows import interval_join

    cols = ["event_id", "user_id", "ts", "event_type"]

    def split(df):
        base = df.select(*cols)
        return (
            base.filter(F.col("event_type") == "click"),
            base.filter(F.col("event_type") == "view"),
        )

    sc, sv = split(events_stream(spark, SF))
    got = run_available_now(
        interval_join(sc, sv, "user_id"), output_mode="append"
    )
    bc, bv = split(_events(spark, SF))
    want = interval_join(bc, bv, "user_id")
    assert got.count() > 0
    _assert_same(got, want)


def test_stream_static_enrich_matches_batch_and_is_stateless(spark):
    """Stream-static broadcast join: streaming emission equals the batch
    plan, and the join itself keeps no state (stateless per micro-batch)."""
    from datalake_public_spark.streaming.windows import stream_static_enrich

    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )

    def enrich(ev):
        return stream_static_enrich(
            ev.select("event_id", "user_id", "value"),
            cust,
            on=[("user_id", "c_custkey")],
            dim_cols=["c_mktsegment"],
        )

    got = run_available_now(enrich(events_stream(spark, SF)), output_mode="append")
    want = enrich(_events(spark, SF))
    assert got.count() > 0
    _assert_same(got, want)
    # the static side must broadcast: the streamed batches never shuffle
    plan = want._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_run_available_now_many_matches_sequential(spark):
    """Concurrent drains must produce exactly the sequential results."""
    from datalake_public_spark.streaming.runner import (
        run_available_now,
        run_available_now_many,
    )
    from datalake_public_spark.streaming.sources import events_stream
    from datalake_public_spark.streaming.windows import (
        sliding_window_agg,
        tumbling_window_agg,
    )

    sf = "/root/testdata/sf0.001"
    t_c, s_c = run_available_now_many(
        [
            tumbling_window_agg(events_stream(spark, sf)),
            sliding_window_agg(events_stream(spark, sf)),
        ]
    )
    t_s = run_available_now(tumbling_window_agg(events_stream(spark, sf)))
    s_s = run_available_now(sliding_window_agg(events_stream(spark, sf)))
    assert sorted(map(tuple, t_c.collect())) == sorted(map(tuple, t_s.collect()))
    assert sorted(map(tuple, s_c.collect())) == sorted(map(tuple, s_s.collect()))


def test_watermark_actually_drops_late_rows(spark):
    """The engine's own numRowsDroppedByWatermark metric must be
    NON-ZERO on the committed late-arrival fixture (VERDICT r5 item 5:
    prior streaming evidence never had a late row). The fixture's three
    mtime-ordered micro-batches arrange data -> watermark advance ->
    late arrivals, because append-mode aggregation only drops rows
    whose group a PRIOR batch already evicted."""
    import tempfile
    import uuid

    from datalake_public_spark.driver_registry import (
        _late_schema,
        _stage_late_fixture,
    )
    from datalake_public_spark.streaming.sources import read_json_stream

    d = _stage_late_fixture()
    ev = read_json_stream(
        spark, d, _late_schema(), max_files_per_trigger=1, multiline=False
    ).select(F.timestamp_seconds("ts_epoch").alias("ts"), "value")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("ws"), "n_events")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    # the metric counts rows AFTER map-side partial aggregation (the 4
    # same-hour late rows pre-combine to 1 before the state store), so
    # the pin is non-zero here; the exact raw count of 4 is oracled by
    # the driver row's total-minus-emitted-minus-open accounting
    assert dropped > 0, "engine dropped nothing — late rows were merged"
    emitted = {(r.ws, r.n_events) for r in spark.table(name).collect()}
    # every emitted window holds batch-0 counts ONLY (3 per hour), and
    # the late hour's window was emitted BEFORE its stragglers arrived
    assert len(emitted) == 10
    assert all(n == 3 for _, n in emitted)


def test_drain_checkpoint_hygiene(spark, tmp_path, monkeypatch):
    """Successful drains leave NO ckpt_* dir behind (VERDICT r8 nit 1:
    stale checkpoint state stores accumulated 11 GB in /tmp and skewed
    timing runs ~30%); drain_* parquet-spill dirs outlive the drain so
    the lazy fetch can read them, then go on purge_stream_tmp_dirs()."""
    import os
    import tempfile as _tf

    from datalake_public_spark.streaming import runner as R

    monkeypatch.setattr(_tf, "tempdir", str(tmp_path))

    def names(prefix):
        return [d for d in os.listdir(tmp_path) if d.startswith(prefix)]

    got = run_available_now(tumbling_window_agg(events_stream(spark, SF)))
    assert got.count() > 0
    assert names("ckpt_") == [], "memory-sink drain leaked its checkpoint"

    got2 = run_available_now(
        tumbling_window_agg(events_stream(spark, SF)), sink="parquet"
    )
    assert names("ckpt_") == [], "parquet-sink drain leaked its checkpoint"
    drains = names("drain_")
    assert drains, "parquet spill dir must survive until the fetch"
    assert got2.count() == got.count()  # lazy result readable pre-purge
    R.purge_stream_tmp_dirs()
    assert names("drain_") == [], "purge left drain_* dirs behind"

    # caller-supplied checkpoint dirs are caller-owned — never removed
    mine = tmp_path / "my_ckpt"
    run_available_now(
        tumbling_window_agg(events_stream(spark, SF)),
        checkpoint_dir=str(mine),
    )
    assert mine.exists(), "caller-owned checkpoint dir was removed"


def test_drain_unloads_state_store_providers(spark):
    """Round 11: terminated availableNow queries must not leave their
    state-store provider maps loaded in the JVM — in local mode nothing
    else ever unloads them, and repeated drains of a stateful query
    accumulate full per-partition state copies until heap death (the
    ×100 sweep OOMed in SessionWindowStateStoreSaveExec on a same-process
    re-drain). After a temp-checkpoint drain of a stateful plan, the
    session-window query's providers must be gone from the JVM registry;
    results across repeated drains stay identical."""
    jvm = spark.sparkContext._jvm
    store = getattr(
        jvm, "org.apache.spark.sql.execution.streaming.state.StateStore"
    )
    first = run_available_now(session_window_agg(events_stream(spark, SF)))
    n1 = first.count()
    assert not store.isMaintenanceRunning(), (
        "state store maintenance still running after the drain — "
        "providers were not unloaded"
    )
    # and a fresh drain after the unload is unaffected
    n2 = run_available_now(session_window_agg(events_stream(spark, SF))).count()
    assert n2 == n1 > 0
