"""The direct form of ``operators.dedup.contamination_check_via_reps`` —
its equality oracle.

Every corpus doc is shingled (no exact-dedup pre-pass): the distinct
benchmark shingles broadcast into the exploded corpus shingle stream and
one aggregation on doc id counts the shared ones. The production operator
runs the same pipeline on exact-dedup representatives only and lifts the
rows back to every copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_public_spark.functions.arith import int_ratio_half_up
from datalake_public_spark.operators.dedup import _shingle_strings_kernel


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    min_common: int = 2,
) -> DataFrame:
    """Rows ``(id, n_sh, n_common, contamination)`` for every corpus doc
    sharing at least ``min_common`` distinct token ``n``-grams with the
    benchmark side; ``contamination = n_common / n_sh`` rounded half-up
    to 6 digits."""
    kernel = _shingle_strings_kernel(n)
    bench_sh = (
        benchmark.select(F.explode(kernel(F.col(text_col))).alias("shingle"))
        .distinct()
    )
    sh = corpus.select(
        F.col(id_col).alias("id"), kernel(F.col(text_col)).alias("shingles")
    )
    inv = sh.select(
        "id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    return (
        inv.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .withColumn(
            "contamination", int_ratio_half_up(F.col("n_common"), F.col("n_sh"), 6)
        )
        .select("id", "n_sh", "n_common", "contamination")
    )
