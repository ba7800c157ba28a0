"""Driver-contract regression: DuckDB oracle checks at sf0.001 (the driver
runs the same comparison at sf0.01 — this is the fast local mirror of that
gate).

``test_query_matches_oracle`` covers the graded entries that bind one
query function (the composed ones are compared by
``test_final_registry.test_merged_query_matches_oracle``; together the two
cover all of ``FINAL_REGISTRY``), the bench rows that time another plan
(against their oracle, or rows-only without one), and each operator that
runs inside a graded entry, by its own name."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from bench import BENCH_ROWS
from datalake_public_spark.driver_registry import FINAL_REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duck_connection, is_composed

# Operators that run inside a graded entry, each checked by its own name
# as the rows (op tag) and/or columns of that entry, against the same
# slice of the entry's oracle. A name may equal its entry's (the entry
# itself is compared in test_final_registry).
#   name: (graded entry, op tag or None, columns or None)
OPERATOR_SLICES = {
    "q14_promo_revenue": ("tpch_breadth", "q14", None),
    "r1_join_enrich": ("r3_union_by_name", "r1", None),
    "r3_union_by_name": ("r3_union_by_name", "r3", None),
    "vocab_top_tokens": ("vocab_top_tokens", "vocab", None),
    "dedup_ngram_jaccard": ("dedup_ngram_jaccard", "within", None),
    "s6_latest_partition": ("ingest_suite", "s6", None),
    "p3_epoch_roundtrip": (
        "p_row_normalize", None, ["event_id", "epoch_us", "ts_roundtrip"]
    ),
    "p4_bool_normalize": ("p_row_normalize", None, ["event_id", "is_click"]),
    "p7_surrogate_key": ("p_row_normalize", None, ["event_id", "id_concat"]),
    "p8_array_assembly": (
        "p_row_normalize", None, ["event_id", "rate_a", "rate_b", "n_rates"]
    ),
    "p12_conform_cast": ("p_row_normalize", None, ["event_id", "user_id"]),
    "p6_time_window": ("p_window_weight", None, ["event_id"]),
    "p9_weight_clamp": ("p_window_weight", None, ["event_id", "weight"]),
    "p10_weighted_expand": (
        "p_window_weight", None, ["event_id", "expanded_rows", "weighted_cents"]
    ),
    "rollup_agg": ("multi_grouping", "rollup", None),
    "cube_agg": ("multi_grouping", "cube", None),
    "distinct_users": (
        "stats_distinct_agg", None, ["event_type", "n_users", "n_events", "sum_value"]
    ),
    "stats_agg": (
        "stats_distinct_agg",
        None,
        ["event_type", "sd_value", "var_value", "covar_vu", "corr_vu"],
    ),
    "string_funcs": ("scalar_funcs", "string", None),
    "json_extract_agg": ("scalar_funcs", "json", None),
    "join_semi": ("set_join_ops", "semi", None),
    "join_anti": ("set_join_ops", "anti", None),
    "set_intersect": ("set_join_ops", "intersect", None),
    "set_except": ("set_join_ops", "except", None),
    "skew_salted_agg": ("skew_salted", "salted_agg", None),
    "skew_salted_join": ("skew_salted", "salted_join", None),
    "window_frames": (
        "window_suite",
        None,
        ["o_custkey", "o_orderkey", "running_total", "moving_avg3",
         "first_order", "last_order"],
    ),
    "ntile_quartiles": ("window_suite", None, ["o_custkey", "o_orderkey", "quartile"]),
    "csv_roundtrip_agg": ("formats_roundtrip_agg", "csv", None),
    "orc_roundtrip_agg": ("formats_roundtrip_agg", "orc", None),
    "approx_distinct": ("approx_sketches", None, ["event_type", "exact_users", "users_ok"]),
    "approx_quantiles": (
        "approx_sketches", None, ["event_type", "p50_ok", "p95_ok", "p99_ok"]
    ),
    "similarity_ivf": ("similarity_ann", "ivf", None),
    "text_token_stats": (
        "text_stats",
        None,
        ["doc_id", "n_chars", "n_bytes", "n_ws_tokens", "n_re_tokens", "n_uniq_tokens"],
    ),
    "text_repetition_stats": (
        "text_stats", None, ["doc_id", "n_grams", "dup_ngram_frac", "top_token_frac"]
    ),
    "text_language_id": (
        "text_lang_quality",
        None,
        ["doc_id", "pred_lang", "hits_de", "hits_en", "hits_es", "hits_fr", "hits_zh"],
    ),
    "multimodal_metadata": (
        "multimodal_pipeline", None, ["doc_id", "media_type", "byte_len", "content_md5"]
    ),
    "multimodal_features": (
        "multimodal_pipeline",
        None,
        ["doc_id", "byte_len", "mean_byte", "max_byte", "n_zero"],
    ),
    "streaming_tumbling": ("streaming_windows", "tumbling", None),
    "streaming_sliding": ("streaming_windows", "sliding", None),
    "streaming_session": ("streaming_windows", "session", None),
    "streaming_interval_join": ("streaming_joins", "interval", None),
    "streaming_enrich_join": ("streaming_joins", "enrich", None),
    "streaming_dedup": ("streaming_joins", "dedup", None),
    "grouping_sets_agg": ("multi_grouping", "grouping_sets", None),
    "correlated_scalar_subquery": ("subqueries_combined", "scalar", None),
    "exists_subquery": ("subqueries_combined", "exists", None),
    "in_subquery_having": ("subqueries_combined", "in_having", None),
    "stratified_sample": ("sampling_suite", "stratified", None),
    "weighted_sample": ("sampling_suite", "weighted", None),
    "dataset_split": ("dataset_pipeline", "split", None),
    "sequence_packing": ("dataset_pipeline", "pack", None),
    "scd2_history": ("scd2_suite", "history", None),
    "scd2_pit_join": ("scd2_suite", "pit", None),
}

# graded single-function entries, then the bench rows that time another
# plan than a graded entry of that name (oracle or, if none, rows-only)
SPECS = {n: s for n, s in FINAL_REGISTRY.items() if not is_composed(s)}
_bench = {n: s for n, s in BENCH_ROWS.items() if s.oracle or n not in FINAL_REGISTRY}
assert not set(SPECS) & set(_bench)
SPECS.update(_bench)
assert not set(SPECS) & set(OPERATOR_SLICES)


@pytest.fixture(scope="module")
def con():
    c = duck_connection(SF_SMOKE)
    yield c
    c.close()


@functools.cache
def _entry_frame(spark, entry):
    # one build per graded entry for all of its slices (the streaming
    # entries run their streams at build)
    return FINAL_REGISTRY[entry].spark(spark, SF_SMOKE)


@pytest.mark.parametrize("name", sorted([*SPECS, *OPERATOR_SLICES]))
def test_query_matches_oracle(spark, con, name):
    if name in SPECS:
        spec = SPECS[name]
        df = spec.spark(spark, SF_SMOKE)
        if spec.oracle is None:
            assert df.count() >= 0  # rows-only contract (driver's weaker check)
            assert len(df.columns) > 0
        else:
            compare(df, con, spec.oracle, name)
        return
    entry, op, cols = OPERATOR_SLICES[name]
    df, sql = _entry_frame(spark, entry), FINAL_REGISTRY[entry].oracle
    if op is not None:
        df = df.filter(F.col("op") == op)
        sql = f"SELECT * FROM ({sql}) WHERE op = '{op}'"
    if cols is not None:
        df = df.select(*cols)
        sql = f"SELECT {', '.join(cols)} FROM ({sql})"
    compare(df, con, sql, name)


def test_harness_is_dtype_strict(spark, con):
    """The harness must reproduce the round-1 driver failures: identical
    VALUES but different result dtypes (HUGEINT from sum(BIGINT), DATE from
    date_trunc, BIGINT from year()) have to fail locally."""
    one_long = spark.sql("SELECT CAST(1996 AS BIGINT) AS v")
    with pytest.raises(AssertionError, match="DTYPES"):
        # DuckDB sum(BIGINT) widens to HUGEINT (decimal128) — same value 1996
        compare(one_long, con, "SELECT sum(v) AS v FROM (SELECT CAST(1996 AS BIGINT) AS v)",
                "hugeint-vs-bigint")
    ts = spark.sql("SELECT TIMESTAMP '1996-01-01 00:00:00' AS d")
    with pytest.raises(AssertionError, match="DTYPES"):
        compare(ts, con, "SELECT DATE '1996-01-01' AS d", "date-vs-timestamp")
    y = spark.sql("SELECT CAST(1996 AS INT) AS y")
    with pytest.raises(AssertionError, match="DTYPES"):
        compare(y, con, "SELECT CAST(1996 AS BIGINT) AS y", "int-width")


def test_harness_rejects_duckdb_timestamptz(spark, con):
    """Round-6 driver regression pin: DuckDB's to_timestamp()/timezone()
    return TIMESTAMPTZ, whose Arrow export is timestamp[us, tz='Etc/UTC'].
    The driver's canonicalizer equates only naive ↔ tz='UTC' and flags
    any other tz annotation as a schema mismatch — two entries shipped
    red in r6 because the old harness erased ALL tz annotations. The
    uncast oracle must fail locally; CAST(... AS TIMESTAMP) must pass."""
    ts = spark.sql("SELECT TIMESTAMP '1970-01-01 00:00:00' AS t")
    with pytest.raises(AssertionError, match="DTYPES"):
        compare(ts, con, "SELECT to_timestamp(0) AS t", "timestamptz-uncast")
    # the documented fix shape: cast to naive TIMESTAMP in the oracle SQL
    compare(ts, con, "SELECT CAST(to_timestamp(0) AS TIMESTAMP) AS t",
            "timestamptz-cast")


def test_entry_smoke(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = m.entry(spark)
    assert df.count() > 0
    assert set(m.oracle_sql()) <= set(m.queries())


def test_bench_rows_resolve_and_are_checked():
    """Every HEADLINE row resolves through bench.BENCH_ROWS or
    FINAL_REGISTRY; the only names bound in both are the two rows that
    time the operator rather than the graded entry (dedup_exact: the pure
    exact-dedup operator, the graded entry adds an op='line' branch;
    dedup_minhash_lsh: the production LSH pipeline, the graded entry is
    its self-verifying union), so neither table can gain a second binding
    of a name unnoticed; and every bench row with an oracle is compared by
    test_query_matches_oracle."""
    from bench import HEADLINE

    assert len(HEADLINE) == 18
    assert [n for n in HEADLINE if n not in BENCH_ROWS and n not in FINAL_REGISTRY] == []
    shared = set(BENCH_ROWS) & set(FINAL_REGISTRY)
    assert shared == {"dedup_exact", "dedup_minhash_lsh"}
    assert all(BENCH_ROWS[n].spark is not FINAL_REGISTRY[n].spark for n in shared)
    assert all(SPECS.get(n) is s for n, s in BENCH_ROWS.items() if s.oracle)
