"""gbfs_ticks: one tick of the reference data-lake job per op.

Each op lands one new snapshot per feed into a rolling raw window of
``inputs.WINDOW`` snapshots, then runs ``plans.pipeline.run_bike_pipeline``
with a parquet document sink and K-Means over the newest 90 minutes (the
whole window), and unpersists the enriched cache. Outputs are checked and
deleted outside the timed region, so op N+1 does the same work as op N.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import inputs
from ops import OpResult, job_watermark, traced_metrics

from datalake_public_spark.operators import enrich, flatten, quality
from datalake_public_spark.plans import pipeline
from datalake_public_spark.sinks.writers import ParquetDocumentSink

K = 12  # run_kmeans_job's default cluster count

LAYERS = (
    (pipeline, "run_bike_pipeline", "plans.pipeline.run_bike_pipeline"),
    (pipeline, "read_json_snapshots", "sources.readers.read_json_snapshots"),
    (flatten, "flatten_feed", "operators.flatten.flatten_feed"),
    (enrich, "build_enriched", "operators.enrich.build_enriched"),
    (quality, "run_gate", "operators.quality.run_gate"),
    (quality, "reconcile_counts", "operators.quality.reconcile_counts"),
    (pipeline, "to_serving_shape", "operators.serve.to_serving_shape"),
    (pipeline, "write_partitioned_parquet", "sinks.writers.write_partitioned_parquet"),
    (ParquetDocumentSink, "write", "sinks.writers.ParquetDocumentSink.write"),
    (pipeline, "run_kmeans_job", "operators.cluster.run_kmeans_job"),
)
FEEDS = SS, SI, LIME = (
    "velib_station_status",
    "velib_station_information",
    "lime_free_bike_status",
)


class GbfsTicks:
    name = "gbfs_ticks"
    warmup_ops = 1

    def __init__(self, seed: int, config) -> None:
        self.seed = seed
        self.config = config
        self.lake = config.lake_root
        self.raw = {f: os.path.join(self.lake, "raw", f) for f in FEEDS}
        self.next_op = 0

    def _snap(self, feed: str, tick: int) -> str:
        return os.path.join(self.raw[feed], f"snap_{tick:06d}.json")

    def _land_tick(self, tick: int) -> None:
        inputs.write_json(self._snap(SS, tick), inputs.station_status(self.seed, tick))
        inputs.write_json(self._snap(LIME, tick), inputs.lime_bikes(self.seed, tick))
        for feed in (SS, LIME):
            old = self._snap(feed, tick - inputs.WINDOW)
            if os.path.exists(old):
                os.remove(old)

    def land(self) -> None:
        """Start from an empty lake holding station_information and all but
        the newest snapshot of the next op's window."""
        shutil.rmtree(self.lake, ignore_errors=True)
        inputs.write_json(self._snap(SI, 0), inputs.station_information(self.seed))
        for tick in range(self.next_op, self.next_op + inputs.WINDOW - 1):
            self._land_tick(tick)

    def _reset(self) -> None:
        for zone in ("formatted", "usage", "serving"):
            shutil.rmtree(os.path.join(self.lake, zone), ignore_errors=True)

    def _check(self, spark, result) -> list[str]:
        from pyspark.sql import functions as F

        expected = inputs.WINDOW * inputs.JOINED_PER_SNAPSHOT
        errors = []
        if result.served_count != expected:
            errors.append(f"served_count {result.served_count} != {expected}")
        n, lo, hi = (
            spark.read.parquet(f"{self.config.zone('usage')}/kmeans_results")
            .agg(F.count(F.lit(1)), F.min("prediction"), F.max("prediction"))
            .first()
        )
        if n != expected:
            errors.append(f"kmeans rows {n} != {expected}")
        if lo is None or lo < 0 or hi >= K:
            errors.append(f"kmeans prediction range [{lo}, {hi}] outside [0, {K})")
        return errors

    def op(self, spark, tracer=None) -> OpResult:
        """One tick. With a tracer, the layer calls are wrapped for this op only."""
        op_id = self.next_op
        label = f"{self.name}:{op_id}"  # unique among the run's traced ops
        self.next_op += 1
        newest = op_id + inputs.WINDOW - 1
        self._land_tick(newest)
        raw_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d in self.raw.values() for f in os.listdir(d)
        )
        sink = ParquetDocumentSink(os.path.join(self.lake, "serving"))
        first_job = job_watermark(spark)
        if tracer is not None:
            for owner, attr, name in LAYERS:
                tracer.wrap(owner, attr, name)
        scope = tracer.op(label) if tracer is not None else contextlib.nullcontext()
        try:
            t0 = time.perf_counter()
            with scope:
                result = pipeline.run_bike_pipeline(
                    spark,
                    self.config,
                    ss_path=self.raw[SS],
                    si_path=self.raw[SI],
                    lime_path=self.raw[LIME],
                    doc_sink=sink,
                    kmeans_end=inputs.snapshot_time(newest),
                )
                result.enriched.unpersist()
            seconds = time.perf_counter() - t0
        except Exception as exc:  # a failed op is counted, not fatal
            spark.catalog.clearCache()
            self._reset()
            return OpResult(self.name, 0.0, False, tracer is not None, {}, repr(exc))
        finally:
            if tracer is not None:
                tracer.restore()
        metrics = {}
        if tracer is not None:
            metrics = traced_metrics(spark, tracer, label, first_job)
            metrics["ticks.input_bytes_per_raw_byte"] = metrics["spark.input_bytes"] / raw_bytes
        try:
            errors = self._check(spark, result)
        except Exception as exc:  # an unreadable output fails the op
            errors = [repr(exc)]
        self._reset()
        error = "; ".join(errors)
        return OpResult(self.name, seconds, not errors, tracer is not None, metrics, error)
