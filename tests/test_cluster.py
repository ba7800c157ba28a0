"""Clustering tests: P6 window filter, P9 clamp, P10 expansion, the
weights-vs-duplication equivalence (SURVEY §7.4 #5), and the two fit paths
(driver and MLlib): agreement, partition invariance, job count and
degenerate input."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.operators import cluster

T0 = datetime(2023, 11, 14, 22, 0, 0)


@pytest.fixture()
def timed_df(spark):
    rows = [(f"id{i}", T0 - timedelta(minutes=m)) for i, m in enumerate([0, 30, 89, 90, 91, 200])]
    return spark.createDataFrame(rows, "id string, time timestamp")


def test_time_window_filter_inclusive_bounds(timed_df):
    """[end-90min, end] inclusive (k_means_with_spark.py:108-110)."""
    out = cluster.time_window_filter(timed_df, end=T0, minutes=90)
    ids = {r.id for r in out.collect()}
    assert ids == {"id0", "id1", "id2", "id3"}  # 91' and 200' excluded; 90' kept


def test_clamp_weight(spark):
    df = spark.createDataFrame([(5,), (0,), (-3,), (None,)], "num_bikes int")
    out = cluster.clamp_weight(df).select("weight").collect()
    # greatest(int, 1): 5→5, 0→1, -3→1, null→1 (greatest ignores nulls)
    assert [r.weight for r in out] == [5, 1, 1, 1]


def test_weighted_expand_row_counts(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3), (4.0, 5.0, 1)], "lat double, lon double, weight int"
    )
    out = cluster.weighted_expand(df, "weight", ["lat", "lon"])
    assert out.count() == 4
    assert out.filter((F.col("lat") == 1.0)).count() == 3


def test_weightcol_equals_duplication(spark):
    """MLlib weightCol must reproduce the reference's explode-duplication
    formulation (k_means_with_spark.py:119-137): same cluster sizes in
    weighted mass, centers within tolerance."""
    import random

    rng = random.Random(3)
    # three tight geo blobs with integer weights
    rows = []
    for cx, cy in [(48.83, 2.30), (48.86, 2.35), (48.89, 2.40)]:
        for _ in range(40):
            rows.append(
                (cx + rng.gauss(0, 0.002), cy + rng.gauss(0, 0.002), rng.randint(1, 5))
            )
    df = spark.createDataFrame(rows, "lat double, lon double, weight int")

    weighted = cluster.fit_assign_kmeans(df, k=3, seed=1, weight_col="weight")
    dup = cluster.fit_assign_kmeans(
        cluster.weighted_expand(df, "weight", ["lat", "lon"]).withColumn(
            "weight", F.lit(1)
        ),
        k=3,
        seed=1,
        weight_col=None,
    )

    w_sizes = sorted(
        r.s for r in weighted.groupBy("prediction").agg(F.sum("weight").alias("s")).collect()
    )
    d_sizes = sorted(
        r.s for r in dup.groupBy("prediction").agg(F.count(F.lit(1)).alias("s")).collect()
    )
    assert w_sizes == d_sizes

    def centers(df_, weight_col):
        rows = (
            df_.groupBy("prediction")
            .agg(
                (F.sum(F.col("lat") * F.col(weight_col)) / F.sum(weight_col)).alias("clat"),
                (F.sum(F.col("lon") * F.col(weight_col)) / F.sum(weight_col)).alias("clon"),
            )
            .collect()
        )
        return sorted((round(r.clat, 6), round(r.clon, 6)) for r in rows)

    assert centers(weighted, "weight") == centers(dup.withColumn("one", F.lit(1)), "one")


def test_kmeans_deterministic_with_seed(spark):
    df = spark.createDataFrame(
        [(48.8 + i * 0.001, 2.3 + (i % 7) * 0.01, 1 + i % 4) for i in range(100)],
        "lat double, lon double, weight int",
    )
    a = cluster.fit_assign_kmeans(df, k=4, seed=1)
    b = cluster.fit_assign_kmeans(df, k=4, seed=1)
    assert [r.prediction for r in a.collect()] == [r.prediction for r in b.collect()]


def _blobs(spark, n_per_blob=40):
    """Three well-separated weighted geo blobs with ids."""
    import random

    rng = random.Random(5)
    rows = []
    for b, (cx, cy) in enumerate([(48.83, 2.30), (48.86, 2.35), (48.89, 2.40)]):
        for i in range(n_per_blob):
            rows.append(
                (b * 1000 + i, cx + rng.gauss(0, 0.002), cy + rng.gauss(0, 0.002), rng.randint(1, 5))
            )
    return spark.createDataFrame(rows, "id int, lat double, lon double, weight int")


def _partition(df):
    """The clustering as a set of id sets (labels ignored) and its
    weighted-mass multiset."""
    groups: dict[int, set] = {}
    mass: dict[int, int] = {}
    for r in df.select("id", "weight", "prediction").collect():
        groups.setdefault(r.prediction, set()).add(r.id)
        mass[r.prediction] = mass.get(r.prediction, 0) + r.weight
    return {frozenset(g) for g in groups.values()}, sorted(mass.values())


def test_driver_and_mllib_paths_agree_on_blobs(spark, monkeypatch):
    """On well-separated blobs the driver fit and the MLlib fit (forced by
    a bound of -1) give the same partition, up to relabeling, and the same
    weighted-mass multiset."""
    df = _blobs(spark)
    driver = _partition(cluster.fit_assign_kmeans(df, k=3, seed=1))
    monkeypatch.setattr(cluster, "MAX_DRIVER_POINTS", -1)
    mllib = _partition(cluster.fit_assign_kmeans(df, k=3, seed=1))
    assert driver == mllib
    assert len(driver[0]) == 3


def test_driver_path_is_partition_invariant(spark):
    """The driver fit sorts the collected points into one canonical order,
    so the predictions do not depend on how the input is partitioned
    (MLlib's per-partition k-means|| sampling does)."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.random(), rng.random(), rng.randint(1, 9)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id int, lat double, lon double, weight int")

    def predictions(n):
        out = cluster.fit_assign_kmeans(df.repartition(n, "id"), k=12, seed=1)
        return {r.id: r.prediction for r in out.select("id", "prediction").collect()}

    one = predictions(1)
    assert set(one.values()) == set(range(12))
    assert predictions(3) == one
    assert predictions(7) == one


def test_fewer_distinct_points_than_k(spark):
    """Seeding stops once every point sits on a center: 3 distinct points
    with k=12 give 3 clusters, each point its own, and no NULL."""
    df = spark.createDataFrame(
        [(i, float(i % 3), float(i % 3) * 2, 1 + i % 2) for i in range(30)],
        "id int, lat double, lon double, weight int",
    )
    out = cluster.fit_assign_kmeans(df, k=12, seed=1).collect()
    assert {r.prediction for r in out} == {0, 1, 2}
    assert len({(r.lat, r.prediction) for r in out}) == 3


def _enriched(spark, minutes_ago):
    rows = [
        ("velib", f"s{i}", 48.8 + (i % 5) * 0.01, 2.3 + (i % 3) * 0.01,
         T0 - timedelta(minutes=minutes_ago), i % 7, 3)
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows,
        "provider string, id string, lat double, lon double, time timestamp, "
        "num_bikes int, num_docks int",
    )


def test_run_kmeans_job_runs_at_most_two_jobs(spark):
    """A cached tick window fits in one bounded collect; MLlib's fit ran
    ~30 jobs (one per Lloyd iteration plus its k-means|| init)."""
    from tests.conftest import count_jobs

    enriched = _enriched(spark, 10).cache()
    try:
        enriched.count()
        with count_jobs(spark) as jobs:
            out = cluster.run_kmeans_job(enriched, end=T0)
        assert jobs.n <= 2
        assert out.count() == 60
    finally:
        enriched.unpersist()


def test_run_kmeans_job_empty_window(spark):
    """A window with no rows gives zero rows with an int prediction
    (MLlib's fit raised on an empty input)."""
    out = cluster.run_kmeans_job(_enriched(spark, 200), end=T0)
    assert out.schema["prediction"].dataType.simpleString() == "int"
    assert out.collect() == []


_INVALID = [
    ([(1.0, None, 1), (2.0, 3.0, 1)], "lon"),
    ([(1.0, 2.0, None), (2.0, 3.0, 1)], "weight"),
    ([(1.0, 2.0, -1), (2.0, 3.0, 1)], "weight"),
    ([(1.0, 2.0, 0), (2.0, 3.0, 0)], "weight"),
]


@pytest.mark.parametrize(
    "rows, column, mllib",
    [
        pytest.param(rows, column, mllib, id=f"{'mllib-' * mllib}rows{i}-{column}")
        for mllib in (False, True)
        for i, (rows, column) in enumerate(_INVALID)
    ],
)
def test_invalid_input_names_the_column(spark, monkeypatch, rows, column, mllib):
    """A NULL feature, a NULL or negative weight, or no positive weight
    at all, raise a ValueError naming the column on both fit paths (MLlib
    raised a raw Py4J error from VectorAssembler or its weight check)."""
    if mllib:
        monkeypatch.setattr(cluster, "MAX_DRIVER_POINTS", -1)
    df = spark.createDataFrame(rows, "lat double, lon double, weight int")
    with pytest.raises(ValueError, match=repr(column)):
        cluster.fit_assign_kmeans(df, k=2, seed=1)
