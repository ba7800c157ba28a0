"""Query functions for the advanced relational + UDAF surface.

Fills the remaining SURVEY §2.7 absences: explicit GROUPING SETS,
correlated scalar subqueries, correlated EXISTS (both through the
``spark.sql`` surface so Catalyst's subquery decorrelation is exercised,
not hand-rewritten joins), and an Arrow UDAF (grouped-agg pandas UDF)
for rank statistics Spark has no built-in for.

Determinism (cross-checked against DuckDB per the repo's oracle rules):
money flows as integer cents (no double-sum rounding), quantity
averages are exact (integer-valued doubles sum exactly), and the UDAF
outputs are np.median-based, which bit-matches DuckDB median/mad.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_public_spark.driver_queries import _t


# --------------------------------------------------------------------------
# Grouping sets (explicit — cube/rollup are the degenerate forms)
# --------------------------------------------------------------------------


def grouping_sets_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), ()) in one pass.

    Spark expands the sets BEFORE the shuffle (Expand node), so partial
    aggregation still combines map-side; the shuffle carries
    |sets| × |groups| rows, not |sets| × |input|. At 100 TB this is one
    scan + one shuffle — strictly better than three separate groupBys."""
    li = _t(spark, sf, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# Correlated subqueries (SQL surface → Catalyst decorrelation)
# --------------------------------------------------------------------------

_Q17_SQL = """
SELECT p_brand,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS small_qty_revenue_cents,
       count(*) AS n_lineitems
FROM {li} JOIN {pt} ON p_partkey = l_partkey
WHERE l_quantity < 0.5 * (
    SELECT avg(l2.l_quantity) FROM {li} l2 WHERE l2.l_partkey = p_partkey
)
GROUP BY p_brand
"""


def correlated_scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: per-part correlated AVG threshold → revenue of
    small-quantity lineitems, via Spark SQL's correlated scalar subquery.

    Catalyst decorrelates this into (lineitem ⟕ per-part-avg aggregate)
    — one extra aggregation + equi-join on l_partkey, NOT a per-row
    re-scan. At 100 TB both sides shuffle-partition on l_partkey once;
    AQE picks broadcast if the part filter ever makes the avg side small.
    Money stays in integer cents so the sum is order-independent; the
    quantity average is exact (integer-valued doubles)."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("adv_lineitem")
    _t(spark, sf, "part").createOrReplaceTempView("adv_part")
    return spark.sql(_Q17_SQL.format(li="adv_lineitem", pt="adv_part"))


CORRELATED_SCALAR_SQL = _Q17_SQL.format(li="lineitem", pt="part")


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM {orders} o
WHERE EXISTS (
    SELECT 1 FROM {li} WHERE l_orderkey = o.o_orderkey AND l_discount > l_tax
)
GROUP BY o_orderpriority
"""


def exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → order counts per priority.

    Catalyst rewrites EXISTS to a LEFT SEMI join on l_orderkey — the
    lineitem side is filtered (discount > tax) before the join, so the
    shuffle carries only qualifying keys. Same plan the hand-written
    semi join (driver_registry.set_join_ops, op='semi') produces; this
    query pins the SQL-subquery path specifically."""
    _t(spark, sf, "orders").createOrReplaceTempView("adv_orders")
    _t(spark, sf, "lineitem").createOrReplaceTempView("adv_lineitem")
    return spark.sql(_Q4_SQL.format(orders="adv_orders", li="adv_lineitem"))


EXISTS_SQL = _Q4_SQL.format(orders="orders", li="lineitem")


# --------------------------------------------------------------------------
# Arrow UDAF (grouped-agg pandas UDF — rank statistics)
# --------------------------------------------------------------------------


def udaf_robust_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation robust account-balance stats via Arrow UDAFs: exact
    median + MAD, neither available as a Spark built-in (percentile_approx
    is a sketch; this is exact rank math).

    Plan: hash-partition customer on c_nationkey (one shuffle), each
    group crosses to Python as ONE Arrow batch. Groups here are
    ~1/25th of customer — bounded; see functions/udaf.py for the
    100 TB guidance (sketches for unbounded groups)."""
    from datalake_public_spark.functions.udaf import count_udaf, mad_udaf, median_udaf

    cust = _t(spark, sf, "customer")
    return cust.groupBy("c_nationkey").agg(
        median_udaf("c_acctbal").alias("median_bal"),
        mad_udaf("c_acctbal").alias("mad_bal"),
        count_udaf("c_acctbal").alias("n_cust"),
    )


UDAF_ROBUST_SQL = """
SELECT c_nationkey, median(c_acctbal) AS median_bal, mad(c_acctbal) AS mad_bal,
       count(*) AS n_cust
FROM customer GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# Training-data pipeline: dedup clustering, splits, packing
# --------------------------------------------------------------------------


def _components_sql() -> str:
    """DuckDB recursive-CTE reachability over the exact n-gram-Jaccard
    pair graph: every doc labeled with the min doc_id it reaches (the
    oracle of ``dedup_components``' op='component' rows)."""
    from datalake_public_spark.driver_queries_llm import DEDUP_NGRAM_SQL

    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({DEDUP_NGRAM_SQL}) q
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.dst, r.root FROM reach r JOIN und u ON u.src = r.node
)
SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node
"""


def dataset_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by multiplicative
    hash of doc_id — membership is a function of the key, stable under
    any repartitioning or engine (randomSplit is neither). Grouped
    counts per (split, lang) so the oracle checks the full assignment."""
    from datalake_public_spark.operators.sampling import assign_split

    docs = _t(spark, sf, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _dataset_split_sql() -> str:
    from datalake_public_spark.operators.sampling import split_bucket_sql

    b = split_bucket_sql("doc_id")
    return f"""
WITH s AS (
  SELECT CASE WHEN {b} < 80 THEN 'train'
              WHEN {b} < 90 THEN 'val'
              ELSE 'test' END AS split,
         lang, n_chars
  FROM documents
)
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split, lang
"""


def sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window packing: docs laid end-to-end per source in doc_id
    order, binned into 2048-token windows by exclusive running token sum
    (the concatenate-then-chunk layout LLM dataloaders use). One window
    shuffle; bin sizes returned per (source, bin)."""
    from datalake_public_spark.functions import text_funcs as T
    from datalake_public_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf, "documents").select(
        "source", "doc_id", F.size(T.tokens("text")).alias("n_tokens")
    )
    return (
        pack_sequences(docs)
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def _sequence_packing_sql() -> str:
    from datalake_public_spark.functions import text_funcs as T

    toks = T.tokens_sql("text")
    return f"""
WITH t AS (
  SELECT source, doc_id, len({toks}) AS n_tokens FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
  FROM t
)
SELECT source, CAST(floor(cum_excl / 2048) AS BIGINT) AS bin,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM c GROUP BY source, bin
"""


_STRATA_RATES = {"view": 0.10, "click": 0.50, "error": 1.0, "purchase": 1.0, "signup": 1.0}


def stratified_sample_events(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified downsample of the event stream: keep 10%
    of views, 50% of clicks, all rare types — the source-rebalancing
    primitive of a training mixture. Row-level result (event_id, type)
    so the oracle checks the exact membership, not just counts.

    Scale: a scan-time filter (no shuffle, no sort, no sample state);
    membership is a pure function of the key so re-runs and engines
    agree, and lowering a rate yields a strict subset (nested samples)."""
    from datalake_public_spark.operators.sampling import stratified_sample

    ev = _t(spark, sf, "events").select("event_id", "event_type")
    return stratified_sample(ev, "event_id", "event_type", _STRATA_RATES)


def _stratified_sql() -> str:
    from datalake_public_spark.operators.sampling import split_bucket_sql

    b = split_bucket_sql("event_id")
    cases = " ".join(
        f"WHEN '{s}' THEN {rate * 100.0}" for s, rate in sorted(_STRATA_RATES.items())
    )
    return f"""
SELECT event_id, event_type FROM events
WHERE {b} < CASE event_type {cases} ELSE 0.0 END
"""


_Q18_SQL = """
SELECT o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM {orders}
JOIN {li} ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM {li}
    GROUP BY l_orderkey
    HAVING sum(l_quantity) > 150
)
GROUP BY o_orderkey, o_orderdate, o_totalprice
"""


def in_subquery_having(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via IN over a grouped+HAVING
    subquery, through the spark.sql surface. Catalyst rewrites the IN to
    a left-semi join against the pre-aggregated keys — both sides
    shuffle once on orderkey; quantity sums are exact (integer-valued
    doubles), so no rounding hazard in the HAVING boundary."""
    _t(spark, sf, "orders").createOrReplaceTempView("adv_orders")
    _t(spark, sf, "lineitem").createOrReplaceTempView("adv_lineitem")
    return spark.sql(_Q18_SQL.format(orders="adv_orders", li="adv_lineitem"))


IN_SUBQUERY_SQL = _Q18_SQL.format(orders="orders", li="lineitem")


def scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 fold: bootstrap customer as an open history, apply a CDC
    delta (30% of keys get +1000 balance, another 10% arrive unchanged
    → must be detected as no-ops), return the full versioned table.
    Every SCD2 path is exercised: close, open-new-version, no-op
    passthrough; the oracle reconstructs the expected history set-wise."""
    from datalake_public_spark.operators.sampling import split_bucket
    from datalake_public_spark.operators.scd import scd2_apply, snapshot_open

    cust = _t(spark, sf, "customer")
    hist = snapshot_open(cust, effective_ts="2024-01-01")
    b = split_bucket("c_custkey")
    delta = cust.filter(b < 40).withColumn(
        "c_acctbal",
        F.col("c_acctbal") + F.when(b < 30, F.lit(1000.0)).otherwise(F.lit(0.0)),
    )
    return scd2_apply(
        hist,
        delta,
        key_cols=("c_custkey",),
        tracked_cols=("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        effective_ts="2024-06-01",
    )


def _scd2_sql() -> str:
    from datalake_public_spark.operators.sampling import split_bucket_sql

    b = split_bucket_sql("c_custkey")
    return f"""
WITH x AS (SELECT *, {b} AS bkt FROM customer)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       TIMESTAMP '2024-01-01' AS valid_from,
       CASE WHEN bkt < 30 THEN TIMESTAMP '2024-06-01' END AS valid_to,
       bkt >= 30 AS is_current
FROM x
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0, c_mktsegment,
       TIMESTAMP '2024-06-01', NULL, true
FROM x WHERE bkt < 30
"""


def scd2_pit_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time join — the SCD2 read path: each order joins the
    customer VERSION that was valid on its order date (balances change
    effective 1998-01-01 for 30% of keys; orders span 1995-2001, so both
    versions participate). Plan: equi hash join on custkey with the
    validity range as a post-join filter — one shuffle per side, no
    range explosion (versions per key ≈ 2)."""
    from datalake_public_spark.operators.sampling import split_bucket
    from datalake_public_spark.operators.scd import scd2_apply, snapshot_open

    cust = _t(spark, sf, "customer")
    hist = snapshot_open(cust, effective_ts="1995-01-01")
    b = split_bucket("c_custkey")
    delta = cust.filter(b < 30).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0))
    hist2 = scd2_apply(
        hist,
        delta,
        key_cols=("c_custkey",),
        tracked_cols=("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        effective_ts="1998-01-01",
    )
    orders = _t(spark, sf, "orders")
    j = orders.join(
        hist2,
        (orders.o_custkey == hist2.c_custkey)
        & (hist2.valid_from <= orders.o_orderdate)
        & (hist2.valid_to.isNull() | (hist2.valid_to > orders.o_orderdate)),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("bal_cents"),
    )


def _scd2_pit_sql() -> str:
    from datalake_public_spark.operators.sampling import split_bucket_sql

    b = split_bucket_sql("c_custkey")
    return f"""
WITH hist AS (
  SELECT c_custkey, c_acctbal,
         TIMESTAMP '1995-01-01' AS valid_from,
         CASE WHEN {b} < 30 THEN TIMESTAMP '1998-01-01' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 1000.0, TIMESTAMP '1998-01-01', NULL
  FROM customer WHERE {b} < 30
)
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM orders o JOIN hist h
  ON h.c_custkey = o.o_custkey
 AND h.valid_from <= o.o_orderdate
 AND (h.valid_to IS NULL OR h.valid_to > o.o_orderdate)
GROUP BY o_orderpriority
"""


def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sample without replacement (A-ES priority):
    the 200 documents with the highest ``ln(u_key)/n_chars`` — long docs
    proportionally more likely, membership a pure function of doc_id.

    Scale: executes as TakeOrderedAndProject — per-partition top-k heaps,
    no full sort, no data shuffle; 100 TB samples at scan speed."""
    from datalake_public_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", 200)


def _weighted_sample_sql() -> str:
    from datalake_public_spark.operators.sampling import sample_priority_sql

    pr = sample_priority_sql("doc_id", "n_chars")
    return f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars > 0
ORDER BY {pr} DESC, doc_id ASC
LIMIT 200
"""


