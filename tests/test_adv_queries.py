"""Advanced-surface checks: grouping sets, correlated subqueries (plan
shape — Catalyst must decorrelate, not re-scan), and the Arrow UDAF. Their
oracle checks are in test_driver_contract.test_query_matches_oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_public_spark.driver_queries import _t
from datalake_public_spark.driver_queries_adv import (
    correlated_scalar_subquery,
    exists_subquery,
    grouping_sets_agg,
    udaf_robust_stats,
)
from tests.conftest import SF_SMOKE


def test_grouping_sets_level_counts(spark):
    rows = grouping_sets_agg(spark, SF_SMOKE).collect()
    li = _t(spark, SF_SMOKE, "lineitem")
    n_pairs = li.select("l_returnflag", "l_linestatus").distinct().count()
    n_flags = li.select("l_returnflag").distinct().count()
    # one row per (flag,status), one per flag, one grand total
    assert len(rows) == n_pairs + n_flags + 1
    grand = [r for r in rows if r.l_returnflag is None and r.l_linestatus is None]
    assert len(grand) == 1 and grand[0].n_rows == li.count()


def test_correlated_scalar_decorrelates(spark):
    """The correlated AVG must plan as an aggregate + join, not a
    per-row subquery re-scan (no InSubquery/ScalarSubquery left in the
    optimized plan)."""
    df = correlated_scalar_subquery(spark, SF_SMOKE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in optimized.lower()
    assert "join" in optimized.lower()


def test_exists_plans_as_semi_join(spark):
    df = exists_subquery(spark, SF_SMOKE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in optimized


def test_udaf_matches_driver_side_numpy(spark):
    import numpy as np

    pdf = _t(spark, SF_SMOKE, "customer").select("c_nationkey", "c_acctbal").toPandas()
    got = {r.c_nationkey: r for r in udaf_robust_stats(spark, SF_SMOKE).collect()}
    for nk, grp in pdf.groupby("c_nationkey"):
        x = grp.c_acctbal.to_numpy()
        assert got[nk].median_bal == float(np.median(x))
        assert got[nk].mad_bal == float(np.median(np.abs(x - np.median(x))))
        assert got[nk].n_cust == len(x)
