"""End-to-end pipeline test: raw JSON trio → formatted → enriched → quality
gate → serving sink (count-reconciled) → kmeans parquet (t1-smoke shape)."""

from __future__ import annotations

from datetime import datetime, timezone

from datalake_public_spark import schemas
from datalake_public_spark.config import EngineConfig
from datalake_public_spark.plans.pipeline import run_bike_pipeline
from datalake_public_spark.sinks.writers import ParquetDocumentSink
from tests.conftest import EPOCH, cache_empty


def _names_types(schema):
    """Nullability-insensitive schema shape (literals are non-null in Spark)."""
    return [(f.name, f.dataType) for f in schema.fields]



def test_full_pipeline(spark, gbfs_paths, tmp_path):
    cfg = EngineConfig(lake_root=str(tmp_path / "lake"))
    sink = ParquetDocumentSink(str(tmp_path / "es"))
    end = datetime.fromtimestamp(EPOCH, tz=timezone.utc).replace(tzinfo=None)
    spark.catalog.clearCache()

    res = run_bike_pipeline(
        spark,
        cfg,
        ss_path=gbfs_paths["ss"],
        si_path=gbfs_paths["si"],
        lime_path=gbfs_paths["lime"],
        doc_sink=sink,
        kmeans_end=end,
    )

    assert _names_types(res.enriched.schema) == _names_types(schemas.ENRICHED_UNIFIED)
    assert res.served_count == 130  # 50 velib + 80 lime, reconciled via read-back
    # the pipeline released its `enriched` cache: a later tick over the
    # same raw paths must not read a stale cache
    assert cache_empty(spark)

    # serving shape landed with id_concat + [lon,lat] location (P7/P8)
    served = spark.read.parquet(str(tmp_path / "es" / "all_bike_data"))
    r = served.filter(served.provider == "velib").first()
    assert r.id_concat.startswith(r.id + "_")
    assert len(r.location) == 2

    # kmeans output contract (FIXTURES.md §4): all rows in 90-min window
    km = res.kmeans
    assert km is not None
    assert [f.name for f in km.schema.fields] == [
        "provider",
        "id_concat",
        "location",
        "time",
        "num_bikes",
        "num_docks",
        "prediction",
    ]
    preds = {r.prediction for r in km.select("prediction").distinct().collect()}
    assert preds <= set(range(12))

    # formatted zone written and re-readable with declared schema
    ss = spark.read.schema(schemas.FORMATTED_VELIB_SS).parquet(
        f"{cfg.zone('formatted')}/velib_station_status"
    )
    assert ss.count() == 50


def test_pipeline_versioned_tables_two_ticks(spark, gbfs_paths, tmp_path):
    """versioned_tables=True lands formatted zones through ManifestTable
    with OVERWRITE semantics matching the default path (ADVICE r2: append
    silently changed head-read semantics behind a storage flag): two
    ticks → two snapshots per feed, head reads only the LATEST tick,
    tick 1 still readable via time travel."""
    from datalake_public_spark.sinks.table import ManifestTable

    cfg = EngineConfig(lake_root=str(tmp_path / "lake"))
    kwargs = dict(
        ss_path=gbfs_paths["ss"],
        si_path=gbfs_paths["si"],
        lime_path=gbfs_paths["lime"],
        versioned_tables=True,
    )
    run_bike_pipeline(spark, cfg, **kwargs)
    run_bike_pipeline(spark, cfg, **kwargs)

    t = ManifestTable(f"{cfg.zone('formatted')}/velib_station_status")
    assert [s.operation for s in t.history()] == ["overwrite", "overwrite"]
    v0 = t.read(spark, version=0).count()
    head = t.read(spark).count()
    # head snapshot == one tick's rows (same as overwrite-mode parquet);
    # the previous tick remains readable at version=0
    assert v0 > 0 and head == v0


def test_pipeline_gate_failure_releases_cache(spark, tmp_path):
    """A blocking gate failure (all-NULL `time`) still raises QualityError
    and leaves no cache behind."""
    import pytest

    from datalake_public_spark.operators.quality import QualityError
    from tests.conftest import (
        make_lime_snapshot,
        make_station_information_snapshot,
        make_station_status_snapshot,
        write_snapshot,
    )

    ss = make_station_status_snapshot(epoch=EPOCH)
    ss["lastUpdatedOther"] = None
    lime = make_lime_snapshot(epoch=EPOCH)
    lime["last_updated"] = None
    paths = dict(
        ss_path=write_snapshot(tmp_path, "raw/ss/snap.json", ss),
        si_path=write_snapshot(
            tmp_path, "raw/si/snap.json", make_station_information_snapshot(epoch=EPOCH)
        ),
        lime_path=write_snapshot(tmp_path, "raw/lime/snap.json", lime),
    )
    cfg = EngineConfig(lake_root=str(tmp_path / "lake"))
    spark.catalog.clearCache()
    with pytest.raises(QualityError, match="'time'"):
        run_bike_pipeline(
            spark, cfg, doc_sink=ParquetDocumentSink(str(tmp_path / "es")), **paths
        )
    assert cache_empty(spark)
