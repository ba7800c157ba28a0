"""Local mimic of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side, then compares
row-count + column names + **Arrow-level result dtypes** + order-insensitive
values. The dtype check exists because the driver's value-hash is
type-sensitive: round-1 shipped three queries whose VALUES matched but whose
DuckDB output types (HUGEINT from sum(BIGINT), DATE from date_trunc, BIGINT
from year()) differed from Spark's — they passed the old value-only harness
and failed the driver. Local green must imply driver green.

Defined coercions before comparing types (differences the driver's
canonicalizer provably erases):
  * timestamp naive or tz="UTC" → timestamp[us] naive (session tz is pinned
    UTC, so Spark's timestamp[us, tz=UTC] and DuckDB's naive timestamp[us]
    carry identical wall-clock values). ANY OTHER tz annotation is
    PRESERVED and fails the compare: round-6 shipped two red driver rows
    because DuckDB's TIMESTAMPTZ exports as tz="Etc/UTC", which the driver
    treats as a schema mismatch vs Spark's tz="UTC" — the fix is
    CAST(... AS TIMESTAMP) in the oracle SQL, and this harness must force
    that locally;
  * large_string → string (Arrow encoding detail, same pandas object dtype).
Everything else — integer width, decimal128 (HUGEINT), date32 vs timestamp,
float width — must match exactly or the compare fails.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pyarrow as pa

TESTDATA_TABLES = (
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


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    """Normalize a cell to a hashable, engine-independent value."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # arrays: Spark → list, DuckDB → numpy array
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        # Spark's Arrow export annotates tz=UTC; DuckDB's is naive. Session tz
        # is pinned UTC so wall-clock values are identical — compare naive.
        if v.tzinfo is not None:
            v = v.tz_localize(None)
        return v.to_pydatetime()
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        out.append(tuple(_norm_cell(row[c]) for c in cols))
    return sorted(out, key=repr)


def _canon_type(t: pa.DataType) -> pa.DataType:
    """Canonical Arrow type under the harness's defined coercion map."""
    if pa.types.is_timestamp(t):
        # Only naive and tz="UTC" are provably-equal under the pinned-UTC
        # session; anything else (DuckDB TIMESTAMPTZ exports tz="Etc/UTC")
        # is a driver schema mismatch and must stay visible here.
        if t.tz is None or t.tz == "UTC":
            return pa.timestamp("us")
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return pa.string()
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return pa.list_(_canon_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _canon_type(f.type)) for f in t])
    return t


def assert_types_match(spark_tbl: pa.Table, oracle_tbl: pa.Table, name: str = "?") -> None:
    """Dtype-strict schema compare (the driver's hash is type-sensitive)."""
    s_types = {f.name: _canon_type(f.type) for f in spark_tbl.schema}
    o_types = {f.name: _canon_type(f.type) for f in oracle_tbl.schema}
    bad = [
        f"{c}: spark={s_types[c]} oracle={o_types[c]}"
        for c in sorted(set(s_types) & set(o_types))
        if s_types[c] != o_types[c]
    ]
    assert not bad, (
        f"{name}: result DTYPES differ (driver value-hash is type-sensitive; "
        f"CAST the oracle SQL output to Spark's types):\n  " + "\n  ".join(bad)
    )


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    name: str = "?",
    *,
    allow_empty: bool = False,
) -> None:
    """Raise AssertionError with a diff preview on any mismatch.

    Empty results are rejected by default: a 0=0 hash match proves
    nothing, and empty inputs have already masked a real semantics bug
    (exceptAll-vs-subtract) behind trivially-passing oracles."""
    s_tbl = spark_df.toArrow()
    o_tbl = con.execute(sql).fetch_arrow_table()
    s = s_tbl.to_pandas()
    o = o_tbl.to_pandas()
    assert sorted(s.columns) == sorted(o.columns), (
        f"{name}: column names differ: spark={sorted(s.columns)} oracle={sorted(o.columns)}"
    )
    assert_types_match(s_tbl, o_tbl, name)
    assert len(s) == len(o), f"{name}: row count differs: spark={len(s)} oracle={len(o)}"
    assert allow_empty or len(s) > 0, (
        f"{name}: query returned 0 rows — a degenerate oracle match; "
        f"make the predicate select real data (or pass allow_empty=True)"
    )
    ns, no = normalize(s), normalize(o)
    if ns != no:
        diffs = [(a, b) for a, b in zip(ns, no) if a != b][:5]
        raise AssertionError(f"{name}: values differ; first diffs:\n" + "\n".join(map(repr, diffs)))


def is_composed(spec) -> bool:
    """True for a graded entry composed in ``driver_registry`` (merged or
    tagged-union entries), False for one that binds a single query
    function from a ``driver_queries*`` module."""
    return spec.spark.__module__ == "datalake_public_spark.driver_registry"
