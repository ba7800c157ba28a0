"""Quality-gate tests (dbt-test parity, R4): dirty fixtures must be flagged
exactly (FIXTURES.md §5)."""

from __future__ import annotations

import pytest

from datalake_public_spark.operators import quality
from tests.conftest import cache_empty


@pytest.fixture()
def clean_df(spark):
    return spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, v int"
    )


@pytest.fixture()
def dirty_df(spark):
    # one null id, one duplicated id — the FIXTURES.md §5 violations
    return spark.createDataFrame(
        [("a", 1), (None, 2), ("c", 3), ("c", 4)], "id string, v int"
    )


def test_not_null_pass_and_fail(clean_df, dirty_df):
    assert quality.not_null_violations(clean_df, "id").passed
    r = quality.not_null_violations(dirty_df, "id")
    assert r.violations == 1


def test_unique_pass_and_fail(clean_df, dirty_df):
    assert quality.unique_violations(clean_df, "id").passed
    r = quality.unique_violations(dirty_df, "id")
    assert r.violations == 1  # one key ('c') appears more than once


def test_gate_raises_and_blocks(dirty_df):
    with pytest.raises(quality.QualityError):
        quality.run_gate(dirty_df, not_null=("id",), unique=("id",))


def test_gate_passes_clean(clean_df):
    results = quality.run_gate(clean_df, not_null=("id",), unique=("id",))
    assert all(r.passed for r in results)


def test_gate_keeps_callers_cache(spark, clean_df):
    """Caching belongs to the caller: a frame cached before the gate is
    still cached after it."""
    clean_df.cache()
    try:
        quality.run_gate(clean_df, not_null=("id",), unique=("id",))
        assert clean_df.storageLevel.useMemory
    finally:
        clean_df.unpersist()


def test_gate_leaves_no_cache_behind(spark, clean_df):
    spark.catalog.clearCache()
    quality.run_gate(clean_df, not_null=("id",), unique=("id",))
    assert cache_empty(spark)


def test_gate_not_null_one_pass_results(spark):
    """All not-null checks run in one aggregate: one result per column,
    in argument order, each with its own count; unique checks follow."""
    clean = spark.createDataFrame([("a", 1), ("b", 2)], "a string, b int")
    assert quality.run_gate(clean, not_null=("b", "a"), unique=("a",)) == [
        quality.CheckResult("not_null", "b", 0),
        quality.CheckResult("not_null", "a", 0),
        quality.CheckResult("unique", "a", 0),
    ]
    dirty = spark.createDataFrame(
        [(None, 1), ("b", None), (None, None), ("d", 4), (None, 5)],
        "a string, b int",
    )
    with pytest.raises(quality.QualityError) as err:
        quality.run_gate(dirty, not_null=("a", "b"))
    msg = str(err.value)
    a = repr(quality.CheckResult("not_null", "a", 3))
    b = repr(quality.CheckResult("not_null", "b", 2))
    assert a in msg and b in msg and msg.index(a) < msg.index(b)
    empty = spark.createDataFrame([], "a string, b int")
    assert [r.violations for r in quality.run_gate(empty, not_null=("a", "b"))] == [0, 0]


def test_reconcile_counts(clean_df):
    assert quality.reconcile_counts(clean_df, 3).passed
    assert not quality.reconcile_counts(clean_df, 2).passed


def test_profile_table_stats(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (3, "b", 2.5)],
        "k long, s string, v double",
    )
    from datalake_public_spark.operators.quality import profile_table

    got = {r.column: r for r in profile_table(df).collect()}
    assert set(got) == {"k", "s", "v"}
    assert all(r.n_rows == 4 for r in got.values())
    assert (got["k"].n_nonnull, got["k"].n_distinct) == (4, 3)
    assert (got["s"].n_nonnull, got["s"].n_distinct) == (3, 2)
    assert (got["v"].n_nonnull, got["v"].n_distinct) == (3, 2)
    assert (got["k"].min_value, got["k"].max_value) == ("1", "3")
    assert (got["s"].min_value, got["s"].max_value) == ("a", "b")


def test_profile_table_empty_columns_raises(spark):
    """ADVICE r9: zero profiled columns must raise a named ValueError,
    not functools.reduce's obscure TypeError."""
    import pytest

    from datalake_public_spark.operators.quality import profile_table

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="at least one column"):
        profile_table(df, columns=[])
