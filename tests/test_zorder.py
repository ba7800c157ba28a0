"""Z-order key tests: cross-engine key equality, the interleave's
bit-layout contract, normalization, the manifest Bloom helpers, and the
two-dimension file pruning a Morton-clustered layout buys over a
single-column sort. Compaction's own z-order rewrite is pinned in
tests/test_table.py (``ManifestTable.compact(zorder_by=...)``).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datalake_public_spark.sinks import zorder
from datalake_public_spark.sinks.table import ManifestTable
from tests.conftest import SF_SMOKE


def test_morton_key_matches_duckdb_sql(spark):
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    df = events.select(
        "event_id",
        (F.col("user_id") % 256).alias("x"),
        (F.abs(F.hash("event_type")) % 256).alias("y"),
    )
    got = (
        df.withColumn("z", zorder.morton_key(["x", "y"], bits=8))
        .select("event_id", "z")
        .toPandas()
        .set_index("event_id")["z"]
        .to_dict()
    )
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT event_id, {zorder.morton_sql(['x', 'y'], bits=8)} AS z FROM t"
    ).df()
    assert got == want.set_index("event_id")["z"].to_dict()


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    # uniform 2-d grid: single-sort on x gives files spanning ALL of y,
    # so a y-slice predicate touches every file; the z-ordered layout
    # keeps both boxes small and skips most files for either dimension.
    n, files, bits = 64, 16, 6
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    xsorted = ManifestTable(str(tmp_path / "xsorted"))
    zordered = ManifestTable(str(tmp_path / "zordered"))
    xsorted.overwrite(
        grid.repartitionByRange(files, "x").sortWithinPartitions("x")
    )
    normed = [zorder.normalize_to_bits(c, 0, n - 1, bits) for c in ("x", "y")]
    snap = zordered.overwrite(
        grid.withColumn("_zkey", zorder.morton_key(normed, bits))
        .repartitionByRange(files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    assert snap.n_files == files
    # y-slice: x-sorted layout cannot skip anything
    y_slice = {"y": (8, 15)}
    assert len(xsorted.files_for(y_slice)) == xsorted.snapshot().n_files
    assert len(zordered.files_for(y_slice)) <= files // 2
    # x-slice: z-order still prunes (worse than pure x-sort, but real)
    assert len(zordered.files_for({"x": (8, 15)})) <= files // 2
    # and the data survives the round trip
    assert zordered.read(spark).count() == n * n


def test_morton_bit_layout():
    # x=0b11, y=0b00 → bits at even positions; y=0b11, x=0 → odd positions
    import pandas as pd

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": [3, 0, 3], "y": [0, 3, 3]}))
    z = con.execute(
        f"SELECT {zorder.morton_sql(['x', 'y'], bits=2)} AS z FROM t"
    ).df()["z"].tolist()
    assert z == [0b0101, 0b1010, 0b1111]


def test_normalize_clamps_and_scales(spark):
    df = spark.range(1).select(
        zorder.normalize_to_bits(F.lit(0.0), 0.0, 10.0, bits=4).alias("lo"),
        zorder.normalize_to_bits(F.lit(10.0), 0.0, 10.0, bits=4).alias("hi"),
        zorder.normalize_to_bits(F.lit(5.0), 0.0, 10.0, bits=4).alias("mid"),
        zorder.normalize_to_bits(F.lit(99.0), 0.0, 10.0, bits=4).alias("over"),
        zorder.normalize_to_bits(F.lit(7.0), 7.0, 7.0, bits=4).alias("degen"),
    ).first()
    assert (df.lo, df.hi, df.mid, df.over, df.degen) == (0, 15, 8, 15, 0)


def test_morton_key_rejects_sign_bit_overflow(spark):
    """bits*len(cols) > 63 would set a long's sign bit — hot keys flip
    negative and Z-curve order corrupts at the MSB. Both engines' key
    builders raise in lockstep."""
    from datalake_public_spark.sinks.zorder import morton_key, morton_sql

    with pytest.raises(ValueError):
        morton_key(["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError):
        morton_sql(["a", "b", "c", "d"], bits=16)
    # 4 dims at 15 bits = 60 bits: fine
    morton_key(["a", "b", "c", "d"], bits=15)
    morton_sql(["a", "b", "c", "d"], bits=15)


def test_bloom_canon_unifies_integral_float_forms():
    from datalake_public_spark.sinks.zorder import (
        bloom_build,
        bloom_canon,
        bloom_might_contain,
    )

    assert bloom_canon(5) == bloom_canon(5.0) == "5"
    assert bloom_canon(2.5) == "2.5"
    assert bloom_canon("x") == "x"
    b = bloom_build([5.0, 7.0, 2.5])  # the pandas float64-coerced forms
    assert bloom_might_contain(b, 5)
    assert bloom_might_contain(b, 7)
    assert bloom_might_contain(b, 2.5)
