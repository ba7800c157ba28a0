"""BM25 full-text retrieval over a document corpus, Spark-first.

The retrieval step an LLM training-data pipeline runs constantly:
score documents against short keyword queries, keep the top-k per
query (hard-negative mining, dedup-by-retrieval, eval-set building).

Spark shape (100 TB story):
  * term frequencies are ONE map-side-combinable groupBy over the
    exploded token stream (doc length rides along as a grouping key —
    functionally dependent on doc_id, so no extra join);
  * document frequencies are a second, token-keyed aggregate whose
    output is vocabulary-sized (≪ corpus);
  * the query side is tiny by construction and BROADCAST after being
    joined with its terms' document frequencies, so the only work
    against the corpus-sized tf table is a broadcast hash join that
    keeps rows for query terms only;
  * per-query top-k is a window over the candidate set (docs containing
    at least one query term), not the corpus.

Exact-integer scoring (the repo's cross-engine oracle convention —
``functions/arith.py``): the standard BM25 idf uses ln(), whose last
ulp differs between libm builds, so the oracle could diverge. This
operator uses the log-free PROBABILISTIC idf
``(N - df + ½) / (df + ½)`` — the core of the Robertson–Spärck Jones
weight BM25 derives from — which makes every per-term score an exact
integer ratio with k1 = 6/5 and b = 3/4 (avgdl floored to an integer),
evaluated at 128-bit width (Spark decimal(38,0) ↔ DuckDB HUGEINT) so
the products cannot overflow on any physical corpus:

    tf_part = 44·tf·avgdl / (20·tf·avgdl + 6·avgdl + 18·dl)
    idf     = (2N − 2df + 1) / (2df + 1)
    score   = Σ_terms half_up(scale · idf · tf_part)   — exact integer

Both engines evaluate the identical integer expression (Spark ``DIV``,
DuckDB ``//``; the per-term quotient is ≤ scale·idf ≈ 1e12, a long),
so scores and therefore ranks are bit-identical — no float summation
order anywhere.

Reference: the reference engine has no retrieval operator (its search
is delegated to Elasticsearch — ``index_to_elastic_with_spark.py``);
this is the in-engine counterpart for corpus-scale batch retrieval.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from datalake_public_spark.functions import text_funcs as T

# deterministic corpus-vocabulary queries for the driver entry; the SQL
# twin renders the same tuples as a VALUES list
DRIVER_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark table scan"),
    (2, "hash join merge sort"),
    (3, "stream window batch"),
    (4, "slow query filter data"),
)

_SCALE = 10_000  # fixed-point score units (1e-4)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    scale: int = _SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Top-k documents per query by exact-integer BM25.

    Returns (query_id, doc_id, score, rk): ``score`` is the summed
    per-term integer partial score in ``scale``-ths (BIGINT), ``rk`` the
    1-based rank by (score DESC, doc_id ASC) — fully deterministic.
    N (the idf corpus size) counts documents with >= 1 token — the
    tf-derivable set (a zero-token document can never be retrieved);
    the SQL twin uses the same definition."""
    # tf with dl riding along as a (functionally dependent) grouping key:
    # one shuffle, map-side combined. tf is deliberately NOT persisted:
    # measured at the ×10 rung, recomputing the codegen scan→explode→agg
    # chain per branch is 2.7× FASTER end-to-end (2.2 s vs 6.0 s warm)
    # than materializing the 5M-row cache — InMemoryRelation pays
    # serialization + memory churn for ALL of tf while the candidate
    # join reads only query-term rows. For the query-many regime where
    # repeated scans DO dominate, build the index once with
    # ``bm25_build_index`` and query via ``bm25_topk_prebuilt``.
    tf = _compute_tf(docs, text_col, id_col)
    # corpus stats stay tf-derived (N = docs with >= 1 token, matching
    # the SQL twin); dfreq/stats/scoring shared with the checkpointed-tf
    # path so the two can never drift
    return bm25_score_tf(
        tf,
        queries,
        k=k,
        scale=scale,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )


def bm25_score_tf(
    tf: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    scale: int = _SCALE,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Score/rank against a PRECOMPUTED tf table (doc_id, dl, token, tf)
    — the checkpointed-tf regime (VERDICT r7 item 2): when several
    consumers need BM25 over the same corpus snapshot, tokenize once,
    materialize tf (``bm25_build_index`` writes exactly this table), and
    feed every consumer from the compact index instead of re-running the
    scan→tokenize→explode chain per consumer. dfreq and corpus stats
    recompute from tf — no document text is ever read. Identical results
    to ``bm25_topk`` by construction (same derivations, same scoring
    tail)."""
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    stats = (
        tf.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"), F.sum("tf").alias("n_toks"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
        .select("n_docs", F.expr("total_tokens DIV n_docs").alias("avgdl"))
    )
    qterms = _query_terms(queries, query_id_col, query_text_col)
    return _score_and_rank(tf, dfreq, stats, qterms, k=k, scale=scale)


def _query_terms(queries: DataFrame, query_id_col: str, query_text_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(T.tokens(query_text_col))).alias("token"),
    )


def _score_and_rank(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    *,
    k: int,
    scale: int,
) -> DataFrame:
    """Shared scoring tail for the inline and prebuilt-index paths (one
    expression tree, so the two can never drift)."""
    from pyspark.sql import Window

    # resolve query-term document frequencies FIRST (vocab-sized join on
    # a tiny side), then broadcast the enriched query terms into tf
    qstats = qterms.join(dfreq, "token").crossJoin(F.broadcast(stats))
    # products in decimal(38,0) / HUGEINT (the SQL twin): int64 products
    # would WRAP SILENTLY in non-ANSI Spark once N·tf·avgdl passes ~2^63
    # (N≈5e7 docs with long documents gets there) and ship wrong ranks;
    # 128-bit headroom moves the cliff past any reachable corpus. The
    # DIV quotient is scale·idf ≤ ~1e12 — comfortably a long.
    dec = "decimal(38,0)"
    num = (
        (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1)).cast(dec)
        * F.lit(44) * F.col("tf") * F.col("avgdl")
    )
    den = (F.lit(2) * F.col("df") + F.lit(1)).cast(dec) * (
        F.lit(20) * F.col("tf").cast(dec) * F.col("avgdl")
        + F.lit(6) * F.col("avgdl")
        + F.lit(18) * F.col("dl")
    )
    # half-up integer ratio — arith.py's contract, at decimal width.
    # A null part can only mean decimal(38,0) overflow (num ≥ ~1e34 —
    # beyond any physical corpus): raise rather than silently drop the
    # term from the sum.
    part = F.when(
        F.expr(f"(2 * {scale} * __num + __den) DIV (2 * __den)").isNull(),
        F.expr(
            "raise_error('bm25: score arithmetic overflowed decimal(38,0)')"
        ).cast("long"),
    ).otherwise(F.expr(f"(2 * {scale} * __num + __den) DIV (2 * __den)"))
    scored = (
        tf.join(F.broadcast(qstats), "token")
        .withColumn("__num", num)
        .withColumn("__den", den)
        .select("query_id", "doc_id", part.alias("part"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def _compute_tf(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """scan → tokenize → explode → map-side-combined groupBy: the one
    corpus-sized pass every BM25 path shares.

    The scan is widened first: tokenize+explode is the CPU-bound half of
    every index build, and a row-group-limited parquet scan hands it far
    fewer splits than cores (14 splits on 32 cores at the ×100 rung —
    widening cut bm25_build_index 24.6 → 8.2 s, round 9; the r8 attempt
    on the WRITE side of the same build measured a wash, NOTES_r9). At
    100 TB the scan yields thousands of splits and widen no-ops.

    ``tokens_df``: optional pre-tokenized ``(id_col, toks)`` frame —
    same contract as ``corpus_familiarity``'s (round 12: a caller that
    already holds the corpus tokenization, e.g. one shared persisted
    pass feeding several consumers, skips the scan+tokenize here; the
    tokens MUST be ``T.tokens(text_col)`` output, caller owns the cache
    lifecycle). Widening is skipped for a supplied frame — a persisted
    input already has compute-width partitioning from its own build."""
    from datalake_public_spark.sources.readers import widen_for_compute

    if tokens_df is not None:
        # the contract above is otherwise enforced only by docstring —
        # fail loudly on a frame that can't be T.tokens output (ADVICE
        # r12) instead of a late AnalysisException or a silently
        # differently-tokenized index
        missing = {id_col, "toks"} - set(tokens_df.columns)
        if missing:
            raise ValueError(
                f"tokens_df must carry columns ({id_col!r}, 'toks') — "
                f"the (id, T.tokens(text)) contract; missing: "
                f"{sorted(missing)}, got {tokens_df.columns}"
            )
        toks = tokens_df.select(
            F.col(id_col).alias("doc_id"), F.col("toks")
        )
    else:
        toks = widen_for_compute(docs.select(id_col, text_col)).select(
            F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("toks")
        )
    return (
        toks.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("token"),
        )
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _write_tf_frame(tf: DataFrame, index_root: str, batch_tag: str) -> None:
    """Write one batch's tf under ``tf/batch=<tag>`` — overwrite of THAT
    directory only, so a replayed batch is an idempotent no-op-shaped
    rewrite, never a duplicate append."""
    # repartition on bucket before the partitioned write: without it,
    # every shuffle partition writes a file into every bucket directory
    # (shuffle_partitions × 64 small files); with it, one file per bucket
    (
        tf.withColumn("bucket", F.pmod(F.xxhash64("token"), F.lit(64)))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{index_root}/tf/batch={batch_tag}")
    )
    # an empty batch writes no file under tf/, so readers take the schema
    # from here instead of inferring it from file footers; the partition
    # columns get the types partition discovery infers from the paths
    schema = StructType(
        [
            *tf.schema.fields,
            StructField("batch", StringType()),
            StructField("bucket", IntegerType()),
        ]
    )
    with open(f"{index_root}/tf_schema.json", "w") as f:
        f.write(schema.json())


def read_tf(spark, index_root: str) -> DataFrame:
    """The index's tf table ``(doc_id, dl, token, tf, batch, bucket)``,
    read with the schema its writer recorded: no footer-inference job, and
    an index over an empty corpus reads as zero rows."""
    with open(f"{index_root}/tf_schema.json") as f:
        schema = StructType.fromJson(json.load(f))
    return spark.read.schema(schema).parquet(f"{index_root}/tf")


def _write_derived(tf: DataFrame, index_root: str) -> None:
    """dfreq + corpus stats from a tf frame — vocabulary- and 1-row-sized
    outputs; no document text is read."""
    tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).write.mode("overwrite").parquet(f"{index_root}/dfreq")
    (
        tf.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"), F.sum("tf").alias("n_toks"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
        .select("n_docs", F.expr("total_tokens DIV n_docs").alias("avgdl"))
        .write.mode("overwrite")
        .parquet(f"{index_root}/stats")
    )


def _refresh_derived(spark, index_root: str) -> None:
    """Rebuild dfreq and corpus stats from the FULL tf table — one pass
    over the COMPACT index (no document text), so extending a 100 TB
    corpus by a 0.1% batch costs the batch's tokenize plus an index-only
    aggregate. Overwrite is idempotent; a crash between the tf write
    and this refresh self-heals on replay (the batch rewrite is a no-op,
    the refresh runs again)."""
    _write_derived(
        read_tf(spark, index_root).drop("batch", "bucket"),
        index_root,
    )


def bm25_build_index(
    docs: DataFrame,
    index_root: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_df: DataFrame | None = None,
) -> None:
    """Materialize the BM25 index (tf / dfreq / stats) as parquet under
    ``index_root`` — the query-many regime's answer to the inline path's
    per-call corpus scans (same build-once-probe-many shape as the
    prebuilt IVF index, operators/similarity.py). tf is written
    batch- then bucket-partitioned (pmod(xxhash64(token), 64)) so a
    query touches only its terms' buckets (partition pruning on the
    scan) and ``bm25_extend_index`` can add document batches
    idempotently; dfreq and stats are vocabulary- and 1-row-sized.

    tf persists across the build's three consumers (the bucketed write,
    dfreq, stats), so the corpus is scanned and tokenized exactly ONCE;
    the cache is dropped before returning. The extension path instead
    derives from the parquet read-back (it must see ALL batches).

    ``tokens_df``: optional pre-tokenized corpus (``_compute_tf``'s
    contract) — the index stays buildable standalone (default None);
    a caller sharing one corpus tokenization across consumers (the
    vocab driver entry) passes it to skip this build's scan+tokenize
    (round 12 — the build was the entry's last non-deliberate
    re-tokenization; prebuilt ≡ inline equality is unaffected because
    tokenization was identical code on both sides all along)."""
    tf = _compute_tf(docs, text_col, id_col, tokens_df=tokens_df).persist()
    try:
        _write_tf_frame(tf, index_root, "base")
        _write_derived(tf, index_root)
    finally:
        tf.unpersist()


def bm25_extend_index(
    new_docs: DataFrame,
    index_root: str,
    batch_tag: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Add a document batch to an existing index (the continuous-corpus
    regime — mirrors ``extend_ivf_index``): only the NEW documents are
    scanned and tokenized; dfreq/stats — which shift globally when df
    changes — rebuild from the compact tf table, never from text.
    Idempotent BY CONSTRUCTION: the batch writes to its own
    ``tf/batch=<tag>`` directory with overwrite, and the derived
    refresh is an overwrite too, so a replay (streaming foreachBatch
    restart, crash between the two writes) converges to the same index
    instead of duplicating rows. ``batch_tag`` must be unique per
    logical batch ("base" is reserved for the initial build)."""
    if batch_tag == "base":
        raise ValueError("batch_tag 'base' is reserved for bm25_build_index")
    _write_tf_frame(
        _compute_tf(new_docs, text_col, id_col), index_root, batch_tag
    )
    _refresh_derived(new_docs.sparkSession, index_root)


def bm25_topk_prebuilt(
    spark,
    index_root: str,
    queries: DataFrame,
    *,
    k: int = 10,
    scale: int = _SCALE,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Top-k per query against a ``bm25_build_index`` index: identical
    results to the inline path (shared scoring tail), zero text scans —
    the tf read prunes to the query terms' hash buckets.

    The bucket set is resolved DRIVER-SIDE (≤ 64 ints — the query side
    is tiny by contract, same bounded-collect shape as similarity.py's
    capped query collect) and pushed as a LITERAL isin predicate, which
    becomes a static PartitionFilter on the scan. The r7 broadcast-join
    formulation relied on dynamic partition pruning that never fired —
    the plan showed only isnotnull(bucket), i.e. every bucket was read
    and filtered row-wise (caught tightening the plan pin, VERDICT r7
    item 5); a literal predicate cannot rot that way and is asserted in
    tests/test_plan_quality.py."""
    qterms = _query_terms(queries, query_id_col, query_text_col)
    bucket_vals = sorted(
        r.bucket
        for r in qterms.select(
            F.pmod(F.xxhash64("token"), F.lit(64)).alias("bucket")
        )
        .distinct()
        .collect()
    )
    tf = (
        read_tf(spark, index_root)
        .filter(F.col("bucket").isin(bucket_vals))
        .drop("batch", "bucket")
    )
    dfreq = spark.read.parquet(f"{index_root}/dfreq")
    stats = spark.read.parquet(f"{index_root}/stats")
    return _score_and_rank(tf, dfreq, stats, qterms, k=k, scale=scale)


def bm25_topk_sql(
    *,
    k: int = 10,
    scale: int = _SCALE,
    source: str = "SELECT doc_id, text FROM documents",
    queries: tuple[tuple[int, str], ...] = DRIVER_QUERIES,
) -> str:
    """DuckDB twin: the identical integer expression tree (``//`` is
    integer division on BIGINT), same tokenizer, same tie-break."""
    values = ", ".join(
        "({}, '{}')".format(qid, qt.replace("'", "''")) for qid, qt in queries
    )
    toks = T.tokens_sql("text")
    qtoks = T.tokens_sql("qtext")
    return f"""
WITH docs AS ({source}),
toks AS (SELECT doc_id, {toks} AS toks FROM docs),
tf AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, token,
         CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, toks, unnest(toks) AS token FROM toks)
  GROUP BY doc_id, len(toks), token
),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
stats AS (
  -- N counts docs with >= 1 token (the tf-derivable set, mirroring the
  -- Spark side's single-scan shape; a zero-token doc can never match)
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
  FROM (SELECT doc_id, sum(tf) AS n_toks FROM tf GROUP BY doc_id)
),
q(query_id, qtext) AS (VALUES {values}),
qterms AS (
  SELECT query_id, unnest(list_distinct({qtoks})) AS token FROM q
),
qstats AS (SELECT query_id, token, df FROM qterms JOIN dfreq USING (token)),
parts AS (
  -- HUGEINT products: the 128-bit twin of Spark's decimal(38,0) math
  -- the inner sum is HUGEINT too (CAST on its first factor): in BIGINT
  -- it would raise out-of-range on an extreme corpus (tf·avgdl >
  -- ~4.6e17) where Spark's decimal(38,0) succeeds — both engines must
  -- share the 128-bit headroom end to end (ADVICE r7)
  SELECT qs.query_id, tf.doc_id,
         CAST((2 * {scale}
            * (CAST(2 * s.n_docs - 2 * qs.df + 1 AS HUGEINT)
               * 44 * tf.tf * s.avgdl)
          + (CAST(2 * qs.df + 1 AS HUGEINT)
             * (CAST(20 * tf.tf AS HUGEINT) * s.avgdl
                + 6 * s.avgdl + 18 * tf.dl)))
         // (2 * (CAST(2 * qs.df + 1 AS HUGEINT)
             * (CAST(20 * tf.tf AS HUGEINT) * s.avgdl
                + 6 * s.avgdl + 18 * tf.dl)))
         AS BIGINT) AS part
  FROM tf JOIN qstats qs USING (token), stats s
),
scored AS (
  SELECT query_id, doc_id, CAST(sum(part) AS BIGINT) AS score
  FROM parts GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INT) AS rk
  FROM scored
)
SELECT query_id, doc_id, score, rk FROM ranked WHERE rk <= {k}
"""
