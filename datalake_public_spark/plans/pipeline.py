"""Programmatic dataflow driver — the reference DAG without Airflow.

Reproduces the orchestration semantics of ``dags/dag_bike.py`` (SURVEY §2.6):
  O1 fan-out of the three feed branches (``dag_bike.py:166``) — here the
     branches are lazy plans, so "parallel" means one Spark scheduler, not
     three processes;
  O2 exact-snapshot dataflow (XCom path passing, ``dag_bike.py:47-66``) —
     paths are function arguments;
  O3 fan-in barrier: enrichment needs all three feeds, serving requires the
     quality gate to pass (``dag_bike.py:171-175``).

Retry/cron policy (O4) and layered config injection (O5) live in
``plans/orchestrate.py`` — deterministic, orchestrator-free primitives
(``run_due_ticks(schedule, last_run, now, task)`` drives one tick of
this pipeline under the reference's exact retry/catchup contract).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from datalake_public_spark.config import EngineConfig
from datalake_public_spark.operators import enrich, flatten, quality
from datalake_public_spark.operators.cluster import run_kmeans_job
from datalake_public_spark.operators.serve import to_serving_shape
from datalake_public_spark.sinks.writers import DocumentSink, write_partitioned_parquet
from datalake_public_spark.sources.readers import read_json_snapshots


@dataclass
class PipelineResult:
    """One tick's outputs. ``enriched`` and ``kmeans`` are lazy and
    UNCACHED: ``run_bike_pipeline`` caches ``enriched`` for its own fan-out
    and releases that cache before it returns. A caller that reads them
    more than once caches them itself."""

    formatted: dict[str, DataFrame]
    enriched: DataFrame
    served_count: int
    kmeans: DataFrame | None


def run_bike_pipeline(
    spark: SparkSession,
    config: EngineConfig,
    *,
    ss_path: str,
    si_path: str,
    lime_path: str,
    doc_sink: DocumentSink | None = None,
    kmeans_end: datetime | None = None,
    write_formatted: bool = True,
    versioned_tables: bool = False,
) -> PipelineResult:
    """One tick of the reference pipeline, end-to-end, as unbroken plans.

    raw JSON → flatten ×3 → enrich (join/normalize/union) → quality gate →
    serving shape → document sink (+ count reconciliation) → weighted
    K-Means (when ``kmeans_end`` is given).

    ``versioned_tables=True`` lands the formatted and usage zones through
    ``sinks.table.ManifestTable`` instead of plain overwrite parquet.
    Semantics MATCH the default path: each tick OVERWRITES the head
    snapshot (readers of the head see only the latest tick, exactly like
    overwrite-mode parquet) — but the overwrite is an atomic manifest
    commit, so a crashed tick is invisible to readers, concurrent ticks
    conflict loudly instead of corrupting, and every prior tick stays
    readable via time travel — the Delta/Iceberg posture the target
    stack names, without the jars."""
    formatted: dict[str, DataFrame] = {}
    for path, spec in (
        (ss_path, flatten.VELIB_STATION_STATUS_SPEC),
        (si_path, flatten.VELIB_STATION_INFORMATION_SPEC),
        (lime_path, flatten.LIME_FREE_BIKE_STATUS_SPEC),
    ):
        raw = read_json_snapshots(spark, path, spec.raw_schema)
        formatted[spec.name] = flatten.flatten_feed(raw, spec)
        if write_formatted:
            if versioned_tables:
                from datalake_public_spark.sinks.table import ManifestTable

                ManifestTable(f"{config.zone('formatted')}/{spec.name}").overwrite(
                    formatted[spec.name]
                )
            else:
                write_partitioned_parquet(
                    formatted[spec.name], f"{config.zone('formatted')}/{spec.name}"
                )

    enriched = enrich.build_enriched(
        formatted["velib_station_status"],
        formatted["velib_station_information"],
        formatted["lime_free_bike_status"],
    )
    # fan-out: the pipeline owns this cache. The gate's pass fills it;
    # serving, reconcile, K-Means and the K-Means write read it; it is
    # released before return (or raise), so a later tick over the same
    # raw paths never reads a stale cache.
    enriched.cache()
    try:
        # O3 barrier: serving is gated on quality (dbt-test parity, R4).
        quality.run_gate(enriched, not_null=("id", "time"))

        served_count = 0
        if doc_sink is not None:
            served = to_serving_shape(enriched)
            served_count = doc_sink.write(served, index="all_bike_data", id_col="id_concat")
            rec = quality.reconcile_counts(enriched, served_count)
            if not rec.passed:
                raise quality.QualityError(f"sink count mismatch: {rec}")

        kmeans_df = None
        if kmeans_end is not None:
            kmeans_df = run_kmeans_job(enriched, end=kmeans_end)
            if versioned_tables:
                from datalake_public_spark.sinks.table import ManifestTable

                ManifestTable(f"{config.zone('usage')}/kmeans_results").overwrite(
                    kmeans_df
                )
            else:
                write_partitioned_parquet(
                    kmeans_df, f"{config.zone('usage')}/kmeans_results"
                )
    finally:
        enriched.unpersist()

    return PipelineResult(formatted, enriched, served_count, kmeans_df)
