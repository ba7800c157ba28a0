"""Pure-SQL consumption surface: register the engine as temp views so a
``spark.sql`` user can run every analysis without touching the Python
API — the consumption model the reference's users have (its relational
core is dbt/Athena SQL; SURVEY §2.5).

``register_analytics_views(spark, sf_dir)`` creates:

  * the ten base tables (``region`` … ``embeddings``) over the sf dir;
  * derived ANALYSIS views, each a lazy DataFrame plan — a view costs
    nothing until queried, and a query against it gets the same plan
    the Python API gets. Pushdown and pruning stop at an Arrow kernel:
    the text views run their whole kernel pass whichever columns a
    query selects.
      - ``doc_signals``      per-doc signal frame (tokens, repetition,
                             quality, language) — one signal-kernel
                             pass over one scan
      - ``doc_quality_audit``documents + drop_reasons (audit view over
                             the same kernel; reasons joined to a CSV
                             string so the view is SELECT-friendly)
      - ``doc_fingerprints`` rolling-hash + simhash per doc
      - ``dedup_exact_docs`` exact-dup groups (hash, survivor, copies)
      - ``corpus_vocab``     global token frequencies

Views are TEMP (session-scoped): registration is per-SparkSession,
nothing is persisted, and repeated calls replace cleanly.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_base_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Temp views over the scale-factor directory's parquet tables."""
    for t in BASE_TABLES:
        spark.read.parquet(f"{sf_dir.rstrip('/')}/{t}.parquet").createOrReplaceTempView(t)
    return list(BASE_TABLES)


def register_analytics_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Base tables + derived analysis views. Returns every name
    registered, base tables first."""
    from datalake_public_spark.functions import text_funcs as T
    from datalake_public_spark.operators import dedup, text

    names = register_base_tables(spark, sf_dir)
    docs = spark.table("documents")

    text.doc_signals(docs).createOrReplaceTempView("doc_signals")
    (
        text.quality_filter(docs, with_reasons=True)
        .withColumn(
            "drop_reasons_csv", F.array_join(F.col("drop_reasons"), ",")
        )
        .drop("drop_reasons")
    ).createOrReplaceTempView("doc_quality_audit")
    text.fingerprint(docs).createOrReplaceTempView("doc_fingerprints")
    dedup.exact_dedup(docs).createOrReplaceTempView("dedup_exact_docs")
    (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    ).createOrReplaceTempView("corpus_vocab")

    return names + [
        "doc_signals",
        "doc_quality_audit",
        "doc_fingerprints",
        "dedup_exact_docs",
        "corpus_vocab",
    ]
