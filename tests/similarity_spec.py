"""The Catalyst expression form of ``operators.similarity.brute_force_topk``
— the equality oracle for its Arrow scoring kernel.

The query side is broadcast and every (query, corpus) pair scores
``round(V.cosine, 6)`` in the JVM: the zip_with/aggregate fold's
sequential left-to-right double accumulation, null cos for a zero-norm or
null vector (ordered last), null ids dropped by the ``query_id !=
match_id`` join condition. Ties rank by ascending ``match_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalake_public_spark.functions import vector as V


def brute_force_topk_expr(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv"))
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("match_id")
    ).withColumn("cos", F.round(V.cosine("qv", "cv"), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )
