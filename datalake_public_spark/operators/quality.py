"""Data-quality gates — engine-native replacement for ``dbt test``.

The reference's only automated correctness gate is a blocking ``dbt test``
stage over the enriched models (``dags/dag_bike.py:130-135``; test SQL
external to the repo). Typical dbt generic tests are ``not_null`` and
``unique`` on keys — reproduced here as first-class DataFrame checks
(SURVEY §2.4 R4), plus the reference's post-index row-count reconciliation
(K4, ``index_to_elastic_with_spark.py:40-68``).

Scale: ``run_gate`` runs every not-null check in ONE aggregate pass (a
``count_if(col IS NULL)`` per column), then one hash-aggregate per
``unique`` key (map-side partial aggregation shrinks the shuffle to
distinct keys). Caching belongs to the caller: the gate neither caches nor
unpersists its input, so a frame the caller cached for fan-out stays
cached (``plans/pipeline.py`` caches ``enriched`` and the gate's pass fills
that cache).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityError(AssertionError):
    """A blocking data-quality violation (pipeline must fail loudly —
    contrast the reference's silent ``return None`` ingest bug,
    ``velib_data_fetcher.py:68-71``; SURVEY §7.4 #7)."""


@dataclass(frozen=True)
class CheckResult:
    check: str
    column: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def not_null_violations(df: DataFrame, column: str) -> CheckResult:
    """dbt ``not_null`` parity: count of null key values."""
    return _not_null_pass(df, (column,))[0]


def _not_null_pass(df: DataFrame, columns: tuple[str, ...]) -> list[CheckResult]:
    """Every column's not-null check in one aggregate (one job)."""
    if not columns:
        return []
    row = df.agg(
        *[F.count_if(F.col(c).isNull()).alias(f"n{i}") for i, c in enumerate(columns)]
    ).first()
    return [CheckResult("not_null", c, row[i]) for i, c in enumerate(columns)]


def unique_violations(df: DataFrame, *columns: str) -> CheckResult:
    """dbt ``unique`` parity: number of key values appearing more than once."""
    n = (
        df.groupBy(*[F.col(c) for c in columns])
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .count()
    )
    return CheckResult("unique", ",".join(columns), n)


def reconcile_counts(df: DataFrame, sink_count: int) -> CheckResult:
    """K4 parity: written-vs-source row-count reconciliation
    (``index_to_elastic_with_spark.py:40-68,155`` — but asserted, not printed)."""
    n = df.count()
    return CheckResult("reconcile", "*", abs(n - sink_count))


def run_gate(df: DataFrame, *, not_null: tuple[str, ...] = (), unique: tuple[str, ...] = ()) -> list[CheckResult]:
    """Run a gate; raise QualityError on any violation (blocking, like the
    dbt stage gating serving at ``dag_bike.py:171-175``).

    Results come in argument order: the ``not_null`` checks, then the
    ``unique`` ones. The gate leaves ``df``'s cache state as it found it;
    a caller that fans ``df`` out to more consumers caches it first."""
    results = _not_null_pass(df, not_null)
    results += [unique_violations(df, c) for c in unique]
    failed = [r for r in results if not r.passed]
    if failed:
        raise QualityError(f"quality gate failed: {failed}")
    return results


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profile: per column, the row count, non-null count, exact
    distinct count, and min/max (cast to string for a uniform schema) —
    the scan a lake operator runs before trusting a new table
    (null-rate drift, key-cardinality checks, range sanity).

    Scale: ONE SINGLE-DISTINCT AGGREGATE PER COLUMN, unioned. A single
    distinct aggregate plans as a two-phase aggregate with map-side
    partial dedup and NO Expand; packing all columns' exact distincts
    into one aggregate (the previous shape) makes Catalyst rewrite
    through Expand — every input row replicated once per distinct
    column into one wide partial-aggregate hash map, which measured
    24-27 s on a 15M-row × 6-column table while the per-column union
    runs the same exact profile in a few seconds (round 9). The
    branches are independent stages of one job, so the scheduler
    overlaps them; each branch's scan is column-pruned (ReadSchema is
    that single column), so total I/O ≈ one full-table scan, the same
    as the Expand shape paid. Per branch only that column's map-side
    distinct values shuffle. For 100 TB profiling swap
    ``F.countDistinct`` for ``F.approx_count_distinct`` — the branch
    shuffle drops to one sketch per task.

    Behavior change (round 10, kept intentionally): ``columns=[]`` now
    raises ``ValueError``. Before round 10 an empty list was falsy and
    fell through to profiling ALL columns (``columns or df.columns``);
    an explicit empty selection is treated as caller error rather than
    a silent profile-everything, because the all-columns scan is the
    expensive path. Pass ``columns=None`` (the default) to profile all
    columns."""
    from functools import reduce

    from pyspark.sql import functions as F

    cols = columns if columns is not None else df.columns
    if not cols:
        # ADVICE r9: reduce() over zero branches raises an obscure
        # functools TypeError — name the misuse instead.
        raise ValueError(
            "profile_table needs at least one column (got an empty "
            "columns list, or a zero-column DataFrame)"
        )
    branches = [
        df.select(F.col(c))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.col(c)).alias("n_nonnull"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
            F.min(F.col(c)).cast("string").alias("min_value"),
            F.max(F.col(c)).cast("string").alias("max_value"),
        )
        .select(
            F.lit(c).alias("column"),
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "min_value",
            "max_value",
        )
        for c in cols
    ]
    return reduce(lambda a, b: a.unionByName(b), branches)
