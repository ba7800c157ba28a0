"""Physical-layout operators: bucketed co-located joins (no Exchange) and
small-file compaction of a versioned table."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_public_spark.driver_queries import _t
from datalake_public_spark.sinks.bucketing import write_bucketed_table
from tests.conftest import SF_SMOKE


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key with equal bucket counts →
    the join plans with zero shuffles; results equal the plain join."""
    li = _t(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_table(
        li, "b_li", str(tmp_path / "b_li"), bucket_cols=("l_orderkey",), n_buckets=8,
        sort_cols=("l_orderkey",),
    )
    write_bucketed_table(
        o, "b_o", str(tmp_path / "b_o"), bucket_cols=("o_orderkey",), n_buckets=8,
        sort_cols=("o_orderkey",),
    )
    # at test scale the planner would broadcast (which also skips the
    # shuffle but proves nothing about bucketing) — force the SMJ path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_li").join(
            spark.table("b_o"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        want = li.join(o, li.l_orderkey == o.o_orderkey)
        assert joined.count() == want.count()
        assert joined.exceptAll(want).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_o")


def test_compaction_reduces_files(spark, tmp_path):
    """Small-file compaction: 32 small files of a versioned table rewrite
    into one target-sized file with the same rows
    (``ManifestTable.compact``)."""
    from datalake_public_spark.sinks.table import ManifestTable

    table = ManifestTable(str(tmp_path / "li"))
    li = _t(spark, SF_SMOKE, "lineitem")
    table.overwrite(li.repartition(32))  # simulate small-file ingest
    assert table.snapshot().n_files == 32
    snap = table.compact(spark, target_file_mb=128)
    assert snap.operation == "compact" and snap.n_files == 1
    assert table.read(spark).exceptAll(li).count() == 0
    assert table.read(spark).count() == li.count()
