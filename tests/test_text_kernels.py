"""Kernel ≡ Catalyst equivalence: the rolling-hash family and the text
signal kernel.

The Arrow kernels (functions/text_kernels.py) are the production form;
the Catalyst expressions (functions/text_funcs.py for the hashes,
tests/text_spec.py for the per-doc signals) are the oracle-checkable
spec. They must agree bit-for-bit on every input shape — including the
edge cases (NULL and empty text, single char, no tokens, repeated
tokens, >256 chars, non-ASCII codepoints).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.functions import text_funcs as T
from datalake_public_spark.functions import text_kernels as K
from tests.conftest import SF_SMOKE

CASES = [
    "hello world",
    "",
    "x",
    "the the the the",
    "a b c d e f g h i j " * 40,  # > 256 chars, many tokens
    "one-token",
    "  leading and   multiple   spaces ",
    "é ü ñ 中文 token",  # non-ASCII codepoints (utf-32 vs ascii() parity)
    "z" * 300,  # single long token, prefix cut at 256
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(CASES)], "doc_id long, text string"
    )


def test_fingerprint_kernel_matches_catalyst(frame):
    prefix = F.substring(F.col("text"), 1, 256)
    both = frame.select(
        "doc_id",
        T.rolling_hash(prefix).alias("spec"),
        K.fingerprint256_kernel("text").alias("kernel"),
    )
    rows = both.collect()
    assert rows, "no rows"
    for r in rows:
        assert r.spec == r.kernel, f"doc {r.doc_id}: {r.spec} != {r.kernel}"


def test_simhash_kernel_matches_catalyst(frame):
    both = frame.select(
        "doc_id",
        T.simhash32("text").alias("spec"),
        K.simhash32_kernel("text").alias("kernel"),
    )
    for r in both.collect():
        assert r.spec == r.kernel, f"doc {r.doc_id}: {r.spec} != {r.kernel}"


def test_kernels_match_on_real_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prefix = F.substring(F.col("text"), 1, 256)
    diff = docs.select(
        T.rolling_hash(prefix).alias("f_spec"),
        K.fingerprint256_kernel("text").alias("f_k"),
        T.simhash32("text").alias("s_spec"),
        K.simhash32_kernel("text").alias("s_k"),
    ).filter(~F.col("f_spec").eqNullSafe(F.col("f_k"))
             | ~F.col("s_spec").eqNullSafe(F.col("s_k")))
    assert diff.count() == 0


def test_kernels_propagate_null_text(spark):
    """NULL text must stay NULL — the Catalyst spec and the DuckDB
    oracles both propagate it; a fillna('') kernel would emit 917/0."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, "")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.f_spec, r.f_k, r.s_spec, r.s_k)
        for r in df.select(
            "doc_id",
            T.rolling_hash(F.substring(F.col("text"), 1, 256)).alias("f_spec"),
            K.fingerprint256_kernel("text").alias("f_k"),
            T.simhash32("text").alias("s_spec"),
            K.simhash32_kernel("text").alias("s_k"),
        ).collect()
    }
    assert rows[2] == (None, None, None, None)
    assert rows[1][0] == rows[1][1] and rows[1][2] == rows[1][3]
    assert rows[3][0] == rows[3][1]  # empty string: spec's split('','') case


def test_kernel_survives_megatoken(spark):
    """One whitespace-free 200k-char document must hash correctly AND not
    blow up memory: the kernel buckets strings by length before padding,
    so a single long token can't inflate every row's padding."""
    docs = [(i, f"doc {i} word word") for i in range(500)] + [(999, "z" * 200_000)]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    both = df.select(
        "doc_id",
        T.simhash32("text").alias("spec"),
        K.simhash32_kernel("text").alias("kernel"),
    )
    diff = both.filter(~(F.col("spec").eqNullSafe(F.col("kernel")))).count()
    assert diff == 0


# -- normalization kernel --------------------------------------------------


def test_normalize_text_matches_duckdb_on_crafted_unicode(spark):
    import duckdb
    import pandas as pd

    from datalake_public_spark.functions.text_kernels import normalize_text_sql
    from datalake_public_spark.operators.text import normalize_text

    rows = [
        (1, "café crema"),          # decomposed é → composed
        (2, "a\r\nb\rc"),                       # CRLF + stray CR
        (3, "x\x00y\x07z\x7f!"),               # control chars stripped
        (4, "too   many\t\tspaces"),            # collapse runs
        (5, "  lead \n trail  "),               # trim + around-newline
        (6, None),                              # NULL propagates
        (7, "é already composed"),         # NFC idempotent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_chars_raw, r.n_chars_norm)
        for r in normalize_text(df).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(
        f"SELECT doc_id, {normalize_text_sql('text')} AS text FROM t"
    ).df()
    for _, row in want.iterrows():
        w = None if row.text is None or row.text != row.text else row.text
        assert got[row.doc_id][0] == w, row.doc_id
    # spot-check semantics, not just twin agreement
    assert got[1][0] == "café crema" and got[1][1] == 11 and got[1][2] == 10
    assert got[2][0] == "a\nb\nc" or got[2][0] == "a\nbc"  # stray \r stripped
    assert got[3][0] == "xyz!"
    assert got[4][0] == "too many spaces"
    assert got[5][0] == "lead\ntrail"
    assert got[6][0] is None


# -- the text signal kernel ≡ tests/text_spec.py ----------------------------

SF_SMOKE_DOCS = f"{SF_SMOKE}/documents.parquet"

SIGNAL_CASES = CASES + [
    "hello world hello",
    None,
    "a@b.co and 1.2.3.4 call +12 345 6789 01 ok",  # PII shapes
    "x " * 500,  # repetitive, long
    "é ü ñ 中文 token é",
    "the the the",
    "the the the and of to a",  # en, short
    "der die und le la les",  # de/fr tie → de (dict order)
    "的 是 在 了 不 的",  # zh markers
    "el los las y de " * 20,  # es, survives length
    "word unique" + " ".join(f"t{i}" for i in range(60)),
    "de la the el " * 30,  # cross-lang mix
    " " * 10,  # zero tokens, nonzero chars
    "one",
    "ABC123 def-456__ghi",  # regex tokens: case, digits, '_' separator
    "---",
    "é9é9é",  # non-ASCII separators between digits
    "K kelvin",  # U+212A lowers into ASCII 'k'
    "K kelvin ABC123",
]


@pytest.fixture(scope="module")
def docs(spark):
    """The full sf0.001 corpus plus SIGNAL_CASES (negative doc ids) in
    one documents-shaped frame. The stored n_chars deliberately DIVERGES
    from length(text) on doc -1: outputs must carry the table column
    verbatim while the min-chars rule reads the text."""
    corpus = spark.read.parquet(SF_SMOKE_DOCS)
    rows = [
        (-1 - i, t, None, "edge", 999 if i == 0 else (None if t is None else len(t)))
        for i, t in enumerate(SIGNAL_CASES)
    ]
    return corpus.unionByName(spark.createDataFrame(rows, corpus.schema))


def _assert_same(got, want):
    """Same columns, dtypes and row multiset."""
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )


def _driver_row(spark, docs, entry):
    """A driver_registry text entry over ``docs`` instead of the table."""
    import datalake_public_spark.driver_registry as DR

    orig_t = DR._t
    DR._t = lambda s, sf, t: docs
    try:
        return entry(spark, "x")
    finally:
        DR._t = orig_t


@pytest.mark.parametrize(
    "op",
    ["token_stats", "language_id", "quality_score", "repetition_stats", "doc_signals"],
)
def test_signal_operators_match_spec(docs, op):
    """Each signal operator ≡ its Catalyst spec on the edge cases (NULL,
    empty, zero-token, unicode, marker ties, regex-token separators) and
    the full sf0.001 corpus, schema included."""
    from datalake_public_spark.operators import text
    from tests import text_spec

    _assert_same(getattr(text, op)(docs), getattr(text_spec, f"{op}_spec")(docs))


@pytest.mark.parametrize(
    "rules", [{}, {"langs": ("en", "fr")}, {"min_chars": 20, "min_tokens": 5}]
)
def test_quality_filter_kernel_matches_catalyst(docs, rules):
    """Audit view ≡ the spec's reasons; survivors ≡ the spec's rows with
    no reasons, in the docs' own schema."""
    from datalake_public_spark.operators.text import quality_filter
    from tests.text_spec import quality_filter_audit_spec

    audit = quality_filter_audit_spec(docs, **rules)
    _assert_same(quality_filter(docs, with_reasons=True, **rules), audit)
    kept = quality_filter(docs, **rules)
    assert [(f.name, f.dataType) for f in kept.schema.fields] == [
        (f.name, f.dataType) for f in docs.schema.fields
    ]
    assert sorted(map(tuple, kept.collect()), key=repr) == sorted(
        (tuple(r)[:-1] for r in audit.collect() if not r.drop_reasons), key=repr
    )


def test_quality_filter_null_text_reasons(spark):
    """NULL text fires the length, token, quality and language rules but
    NOT the two repetition rules: their ratios are 0.0 for a doc with
    no tokens, while the other signals are NULL (a violation)."""
    from datalake_public_spark.operators.text import quality_filter

    docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
    got = quality_filter(docs, with_reasons=True).first().drop_reasons
    assert got == ["too_short_chars<50", "too_short_tokens<10", "low_quality_score"]
    got = quality_filter(docs, with_reasons=True, langs=("en",)).first().drop_reasons
    assert got == [
        "too_short_chars<50",
        "too_short_tokens<10",
        "low_quality_score",
        "lang_not_allowed",
    ]
    assert quality_filter(docs).count() == 0


def test_quality_filter_passes_input_columns_through(spark):
    """The kernel hands the docs' own columns back: every input column,
    in order, with identical dtypes and values on the rows kept."""
    from datalake_public_spark.operators.text import quality_filter

    corpus = spark.read.parquet(SF_SMOKE_DOCS)
    fields = [(f.name, f.dataType) for f in corpus.schema.fields]
    by_id = {r.doc_id: tuple(r) for r in corpus.collect()}
    kept = quality_filter(corpus)
    audit = quality_filter(corpus, with_reasons=True)
    assert [(f.name, f.dataType) for f in kept.schema.fields] == fields
    assert [(f.name, f.dataType) for f in audit.schema.fields][:-1] == fields
    rows = kept.collect()
    assert 0 < len(rows) < len(by_id)
    for r in rows:
        assert tuple(r) == by_id[r.doc_id]
    audit_rows = audit.collect()
    assert len(audit_rows) == len(by_id)
    for r in audit_rows:
        assert tuple(r)[:-1] == by_id[r.doc_id]
    assert {r.doc_id for r in rows} == {r.doc_id for r in audit_rows if not r[-1]}


def test_text_stats_kernel_matches_catalyst(spark, docs):
    """driver text_stats ≡ its Catalyst spec (PII counts and redacted md5
    included) on the edge cases and the full sf0.001 corpus, schema
    included. The entry also faces the DuckDB oracle hash."""
    import datalake_public_spark.driver_registry as DR
    from tests.text_spec import text_stats_spec

    _assert_same(_driver_row(spark, docs, DR.text_stats), text_stats_spec(docs))


def test_lang_quality_kernel_matches_catalyst(spark, docs):
    """driver text_lang_quality ≡ its Catalyst spec (language-ID, quality
    score, drop-rule verdict) on the edge cases and the full sf0.001
    corpus, schema included."""
    import datalake_public_spark.driver_registry as DR
    from tests.text_spec import text_lang_quality_spec

    _assert_same(
        _driver_row(spark, docs, DR.text_lang_quality), text_lang_quality_spec(docs)
    )
