"""Time-windowed weighted K-Means geo-clustering (reference analytic job).

Reproduces ``dags/lib/k_means_with_spark.py:42-175`` Spark-first:
  * P6 time-window filter (``:26-39,108-110``) with an injectable clock —
    no ``datetime.now()`` inside the operator, so tests are deterministic;
  * P9 weight clamp (``:114-116``) via ``greatest(weight, 1)``;
  * P10→M2: the reference *duplicates each point weight times* with
    ``explode(array_repeat(struct(lat,lon), weight))`` (``:119-125``) and fits
    unweighted K-Means. We fit with per-point weights (MLlib's native
    ``weightCol`` over the driver bound below) — identical objective, no
    ×avg(weight) row inflation. At 100 TB the duplication would multiply
    every K-Means iteration's I/O by the average bike count; weights make
    it free.
    ``weighted_expand`` keeps the reference formulation available as a
    generic operator (and for the equivalence test).
  * M1-M3: fit (k=12, seed=1, ``:136``) and assignment (``:140``) in
    ``fit_assign_kmeans``, which has two paths. The choice depends only on
    the input's size, observed in one bounded collect of at most
    ``MAX_DRIVER_POINTS + 1`` rows of ``(features..., weight)`` as doubles:

    - **Driver path** (at or under ``MAX_DRIVER_POINTS`` rows): weighted
      k-means++ seeding (Arthur & Vassilvitskii, SODA 2007) and weighted
      Lloyd iterations in numpy, with MLlib's defaults (maxIter 20,
      tol 1e-4). The points are first sorted into a canonical order
      (``np.lexsort`` over features and weight), so the fit depends only
      on the multiset of points: never on row order or partitioning.
      MLlib's k-means|| init samples per partition, so its centers change
      with the partition count. The assignment is one ``selectExpr``
      whose centers are exact double literals, so the rows never leave
      the JVM. A window of the reference tick is ~57k points; MLlib's fit
      crosses the driver/executor boundary once per iteration, ~30 Spark
      jobs against this path's one collect.
    - **MLlib path** (over the bound): M1 VectorAssembler (``:131-132``),
      then ``KMeans`` with ``weightCol``. The bound exists because the
      driver path holds the points in driver memory; it is a module
      constant, not a parameter.

    Both paths break distance ties toward the lowest cluster index, as
    MLlib's ``findClosest`` does;
  * cache-before-fan-out: the reference recomputes the whole plan for its
    second sink (``:157`` then ``:161-172``); we cache (SURVEY §4 Caching).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_public_spark.operators.serve import to_serving_shape

# Rows the driver path collects and fits in memory: a few double columns
# plus numpy work arrays, ~24 MB per million 2-feature points. Larger
# inputs fit with MLlib.
MAX_DRIVER_POINTS = 1_000_000
# MLlib's KMeans defaults, which the driver path follows
MAX_ITER = 20
TOL = 1e-4


def time_window_filter(
    df: DataFrame,
    *,
    end: datetime,
    minutes: int = 90,
    time_col: str = "time",
) -> DataFrame:
    """P6: keep rows with ``time`` in ``[end - minutes, end]`` (inclusive,
    matching ``k_means_with_spark.py:108-110``). ``end`` is injected —
    callers pass ``datetime.utcnow()`` in production, a fixed instant in
    tests. The predicate lands on the scan (parquet row-group stats /
    partition pruning when ``time_col`` aligns with partitioning)."""
    start = end - timedelta(minutes=minutes)
    c = F.col(time_col)
    return df.filter((c >= F.lit(start)) & (c <= F.lit(end)))


def clamp_weight(df: DataFrame, weight_src: str = "num_bikes", out: str = "weight") -> DataFrame:
    """P9: integer weight, floored at 1 (``k_means_with_spark.py:114-116``)."""
    return df.withColumn(out, F.greatest(F.col(weight_src).cast("int"), F.lit(1)))


def weighted_expand(df: DataFrame, weight_col: str, payload_cols: list[str]) -> DataFrame:
    """P10 as a generic operator: emit each row ``weight`` times
    (``explode(array_repeat(struct(...), weight))``,
    ``k_means_with_spark.py:119-125``). Kept for parity/equivalence tests;
    production clustering uses ``weightCol`` instead."""
    payload = F.struct(*[F.col(c) for c in payload_cols])
    exploded = df.select(
        F.explode(F.array_repeat(payload, F.col(weight_col))).alias("p")
    )
    return exploded.select(*[F.col(f"p.{c}").alias(c) for c in payload_cols])


def fit_assign_kmeans(
    df: DataFrame,
    *,
    feature_cols: tuple[str, ...] = ("lat", "lon"),
    k: int = 12,
    seed: int = 1,
    weight_col: str | None = "weight",
) -> DataFrame:
    """M1-M3: fit weighted K-Means, assign clusters.

    Returns the input columns + ``prediction`` (int, 0..k-1). Deterministic
    given a fixed seed (reference pins k=12 seed=1,
    ``k_means_with_spark.py:136``). Inputs of at most ``MAX_DRIVER_POINTS``
    rows fit on the driver (module docstring); there the result depends
    only on the multiset of ``(features, weight)`` values, so it is the
    same for every row order and partitioning of ``df``. Larger inputs fit
    with MLlib.

    Fewer than ``k`` distinct points give fewer clusters, as MLlib does. An
    empty input gives zero rows. A NULL or NaN feature, a NULL or negative
    weight, or no positive weight at all, raises ``ValueError`` naming the
    column, on either path.
    """
    weight = f"CAST(`{weight_col}` AS DOUBLE)" if weight_col is not None else "1D"
    rows = df.selectExpr(
        *(f"CAST(`{c}` AS DOUBLE) AS f{i}" for i, c in enumerate(feature_cols)),
        f"{weight} AS w",
    )
    head = rows.limit(MAX_DRIVER_POINTS + 1).toArrow()
    if head.num_rows > MAX_DRIVER_POINTS:
        # one aggregate checks the input before MLlib sees it, so bad rows
        # raise the driver path's errors instead of a Py4J trace
        stats = rows.selectExpr(
            *(f"count_if(f{i} IS NULL OR isnan(f{i}))" for i in range(len(feature_cols))),
            "count_if(w IS NULL OR isnan(w) OR w < 0)",
            "count(1)",
            "max(w)",
        ).first()
        _check_points(feature_cols, weight_col, stats)
        return _fit_assign_mllib(df, feature_cols, k, seed, weight_col)
    cols = [c.to_numpy() for c in head.columns]  # NULL -> NaN (all doubles)
    points, w = np.column_stack(cols[:-1]), cols[-1]
    bad_w = (np.isnan(w) | (w < 0)).sum()
    stats = [*np.isnan(points).sum(axis=0), bad_w, len(w), np.max(w, initial=0.0)]
    _check_points(feature_cols, weight_col, stats)
    # canonical order: the fit sees the same sequence for every row order
    order = np.lexsort((w, *points.T[::-1]))
    points, w = points[order], w[order]
    centers = _lloyd(points, w, _kmeans_pp(points, w, k, seed))
    return df.selectExpr("*", f"{_closest_center_sql(feature_cols, centers)} AS prediction")


def _check_points(feature_cols: tuple[str, ...], weight_col: str | None, stats) -> None:
    """Raise ``ValueError`` naming the column. ``stats`` holds each
    feature's NULL-or-NaN count, then the count of NULL, NaN or negative
    weights, the row count and the largest weight."""
    *bad_features, bad_weights, n_rows, max_weight = stats
    for name, bad in zip(feature_cols, bad_features):
        if bad:
            raise ValueError(f"K-Means feature column {name!r} has a NULL or NaN value")
    if bad_weights:
        raise ValueError(f"K-Means weight column {weight_col!r} has a NULL or negative value")
    if n_rows and not max_weight > 0:
        raise ValueError(f"K-Means weight column {weight_col!r} has no positive value")


def _kmeans_pp(points: np.ndarray, w: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Weighted k-means++ seeding: the first center is drawn with
    probability proportional to weight, each next one proportional to
    weight × squared distance to the nearest center so far. Seeding stops
    early once that total is 0 (every point sits on a center), so fewer
    than ``k`` distinct points give fewer centers."""
    rng = np.random.default_rng(seed)
    chosen: list[np.ndarray] = []
    mass = w
    d2 = np.full(len(points), np.inf)
    while len(chosen) < k:
        cum = np.cumsum(mass)
        if len(cum) == 0 or cum[-1] <= 0:
            break
        # first index whose running total exceeds the draw: never a
        # zero-mass point, and never past the end since draw < total
        c = points[np.searchsorted(cum, rng.random() * cum[-1], side="right")]
        chosen.append(c)
        d2 = np.minimum(d2, _sq_dist(points, c))
        mass = w * d2
    return np.array(chosen).reshape(len(chosen), points.shape[1])


def _sq_dist(points: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared distance of every point to ``c``, summed feature by feature
    in column order: the same double arithmetic as the SQL assignment."""
    d = np.zeros(len(points))
    for j in range(points.shape[1]):
        diff = points[:, j] - c[j]
        d += diff * diff
    return d


def _closest(points: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Index of the nearest center per point; ties go to the lowest index."""
    best = np.full(len(points), np.inf)
    arg = np.zeros(len(points), dtype=np.int64)
    for j, c in enumerate(centers):
        d = _sq_dist(points, c)
        closer = d < best
        best[closer], arg[closer] = d[closer], j
    return arg


def _lloyd(points: np.ndarray, w: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Weighted Lloyd iterations with MLlib's defaults: at most
    ``MAX_ITER`` rounds, stopping once no center moves more than ``TOL``.
    A center that attracts no weight stays where it is, as in MLlib."""
    for _ in range(MAX_ITER):
        arg = _closest(points, centers)
        mass = np.bincount(arg, weights=w, minlength=len(centers))
        sums = np.column_stack(
            [np.bincount(arg, weights=w * x, minlength=len(centers)) for x in points.T]
        )
        moved = mass > 0
        new = centers.copy()
        new[moved] = sums[moved] / mass[moved, None]
        converged = (((new - centers) ** 2).sum(axis=1) <= TOL * TOL).all()
        centers = new
        if converged:
            break
    return centers


def _closest_center_sql(feature_cols: tuple[str, ...], centers: np.ndarray) -> str:
    """Nearest-center index as one SQL expression: ``array_min`` over
    ``(squared distance, index)`` structs, so ties go to the lowest index.
    ``repr`` of a double round-trips exactly, and the ``D`` suffix makes
    it a double literal (a bare ``1.5`` is a decimal in Spark SQL)."""
    if len(centers) == 0:
        return "CAST(NULL AS INT)"
    terms = []
    for j, c in enumerate(centers):
        dist = " + ".join(
            f"(CAST(`{f}` AS DOUBLE) - ({float(v)!r}D)) * (CAST(`{f}` AS DOUBLE) - ({float(v)!r}D))"
            for f, v in zip(feature_cols, c)
        )
        terms.append(f"struct({dist}, {j})")
    return f"array_min(array({', '.join(terms)})).col2"


def _fit_assign_mllib(
    df: DataFrame,
    feature_cols: tuple[str, ...],
    k: int,
    seed: int,
    weight_col: str | None,
) -> DataFrame:
    """The MLlib path: M1 VectorAssembler, M2 ``KMeans`` fit, M3 transform."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="features")
    assembled = assembler.transform(df)
    kmeans = KMeans(k=k, seed=seed, featuresCol="features")
    if weight_col is not None:
        kmeans = kmeans.setWeightCol(weight_col)
    model = kmeans.fit(assembled)
    return model.transform(assembled).drop("features")


def run_kmeans_job(
    enriched: DataFrame,
    *,
    end: datetime,
    minutes: int = 90,
    k: int = 12,
    seed: int = 1,
) -> DataFrame:
    """End-to-end analytic: window filter → weight → fit/assign → serving
    shape (``k_means_with_spark.py:42-153``). Caller caches before
    multi-sink fan-out."""
    windowed = time_window_filter(enriched, end=end, minutes=minutes)
    weighted = clamp_weight(windowed)
    clustered = fit_assign_kmeans(weighted, k=k, seed=seed)
    out = to_serving_shape(clustered.drop("weight"))
    return out.select(
        "provider",
        "id_concat",
        "location",
        "time",
        "num_bikes",
        "num_docks",
        F.col("prediction").cast("int").alias("prediction"),
    )
