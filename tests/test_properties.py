"""Property-based tests (hypothesis) for the cross-engine determinism
foundations. Every driver oracle rests on these contracts:

  * functions/arith exact half-up ratios == Decimal ROUND_HALF_UP, Spark
    and DuckDB twins agreeing bit-for-bit;
  * PII redaction producing byte-identical strings under Java regex and
    RE2;
  * media encoders/decoders roundtripping arbitrary text payloads;
  * the Arrow text kernels matching the Catalyst spec on adversarial
    unicode.

Examples are generated as BATCHES (one Spark job per hypothesis example,
each carrying many rows) so the suite stays fast."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# texts that stress tokenization/regex/encoding: ascii words, digits,
# punctuation, unicode, whitespace runs, empties
TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        max_size=120,
    ),
    min_size=1,
    max_size=25,
)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400_000_000),
            st.integers(min_value=0, max_value=400_000_000),
        ),
        min_size=1,
        max_size=100,
    ),
    digits=st.sampled_from([4, 6]),
)
@SET
def test_int_ratio_half_up_matches_decimal_both_engines(spark, pairs, digits):
    """Spark expression AND DuckDB twin == Decimal ROUND_HALF_UP for any
    in-range integer ratio (the hazard class behind every per-doc ratio
    oracle)."""
    from pyspark.sql import functions as F

    from datalake_public_spark.functions.arith import (
        int_ratio_half_up,
        int_ratio_half_up_sql,
    )

    def expect(n, d):
        if d == 0:
            return None
        q = (Decimal(n) / Decimal(d)).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
        return float(q)

    df = spark.createDataFrame(pairs, "n long, d long").select(
        "n", "d", int_ratio_half_up(F.col("n"), F.col("d"), digits).alias("r")
    )
    for row in df.collect():
        assert row.r == expect(row.n, row.d), (row.n, row.d, digits)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (n BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    sql = int_ratio_half_up_sql("n", "d", digits)
    for n, d, r in con.execute(f"SELECT n, d, {sql} FROM t").fetchall():
        assert r == expect(n, d), (n, d, digits)


@given(texts=TEXTS)
@SET
def test_pii_redaction_cross_engine_identical(spark, texts):
    """Redacted strings are byte-identical between Spark (Java regex) and
    DuckDB (RE2) for arbitrary unicode — the contract behind the
    text_stats redacted_md5 oracle column."""
    from datalake_public_spark.operators.text import (
        _PII_ORDER,
        PII_PATTERNS,
        redact_pii,
    )

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in redact_pii(docs).collect()}

    con = duckdb.connect()
    expr = "t"
    for k in _PII_ORDER:
        expr = f"regexp_replace({expr}, '{PII_PATTERNS[k]}', '[{k.upper()}]', 'g')"
    for i, t in rows:
        expect = con.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        assert got[i] == expect, (t, got[i], expect)


@given(texts=TEXTS)
@SET
def test_bmp_wrap_decode_resize_roundtrip(spark, texts):
    """For ANY utf-8 payload: wrap_bmp produces a parseable BMP with the
    documented geometry, and resize_bmp halves it (ceil) into another
    parseable BMP."""
    from datalake_public_spark.operators import multimodal

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wrapped = multimodal.wrap_bmp(docs)
    meta = {
        r.doc_id: r
        for r in multimodal.decode_real(wrapped, "bmp", payload_col="bmp").collect()
    }
    rs = {
        r.doc_id: r
        for r in multimodal.resize_bmp(wrapped).collect()
    }
    for i, t in rows:
        n = len(t.encode("utf-8"))
        h = max(1, -(-n // 48))
        assert (meta[i].width, meta[i].height, meta[i].img_bytes) == (16, h, 48 * h)
        assert (rs[i].width, rs[i].height) == (8, (h + 1) // 2)


@given(texts=TEXTS)
@SET
def test_text_kernels_match_catalyst_spec(spark, texts):
    """Arrow fingerprint/simhash kernels == the pure-Catalyst spec
    expressions on adversarial unicode (the r2 equivalence, now
    property-tested)."""
    from pyspark.sql import functions as F

    from datalake_public_spark.functions import text_funcs as T
    from datalake_public_spark.operators.text import fingerprint

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r.doc_id: (r.fingerprint, r.simhash) for r in fingerprint(docs).collect()}
    spec = {
        r.doc_id: (r.fingerprint, r.simhash)
        for r in docs.select(
            "doc_id",
            T.rolling_hash(F.substring(F.col("text"), 1, 256)).alias("fingerprint"),
            T.simhash32("text").alias("simhash"),
        ).collect()
    }
    assert fast == spec


# documents drawn from a small vocabulary (marker words of several
# languages, case and digit variants, non-ASCII, separators) joined by
# space runs, so tokens, 2-grams and modal tokens repeat within and
# across documents
VOCAB_DOCS = st.lists(
    st.lists(
        st.sampled_from(
            ["the", "a", "de", "la", "der", "的", "x", "X", "é9é", "ab-1_c", "K", ""]
        ),
        max_size=40,
    ).map(" ".join)
    | st.none(),
    min_size=1,
    max_size=25,
)


@given(texts=VOCAB_DOCS, extra=TEXTS)
@SET
def test_signal_kernel_matches_catalyst_spec(spark, texts, extra):
    """doc_signals (the Arrow signal kernel) == the Catalyst spec in
    tests/text_spec.py on repetitive vocabulary documents, NULLs and
    adversarial unicode, batch-wide."""
    from datalake_public_spark.operators.text import doc_signals
    from tests.text_spec import doc_signals_spec

    rows = [(i, t) for i, t in enumerate(texts + extra)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, doc_signals(docs).collect()))
    assert got == sorted(map(tuple, doc_signals_spec(docs).collect()))


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_int8_quantization_error_bound(spark, vecs):
    """For ANY finite vector: quantized components stay in [-127, 127]
    and reconstruction error per component is ≤ scale/2 + ulp slack."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators.similarity import (
        dequantize_col,
        quantize_embeddings,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(emb)
    out = emb.join(q, "vec_id").select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("qvec").cast("array<int>"),
            F.lit(0),
            lambda acc, x: F.greatest(acc, F.abs(x)),
        ).alias("max_q"),
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                dequantize_col("qvec", "scale"),
                lambda x, y: F.abs(x - y),
            ),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ).alias("worst_err"),
    )
    for r in out.collect():
        assert r.max_q <= 127, r
        assert r.worst_err <= r.scale / 2 + 1e-9 * max(1.0, r.scale), r


@given(
    docs=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(codec="utf-8", exclude_characters="\x00\n"),
                min_size=1,
                max_size=30,
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_line_dedup_identity_and_idempotence(spark, docs):
    """When every line in the corpus is globally unique, line_dedup is
    the identity on text; and running it twice equals running it once
    (idempotence) for ANY corpus."""
    from datalake_public_spark.operators.dedup import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = line_dedup(df)
    all_lines = [ln for _, t in rows for ln in t.split("\n")]
    if len(set(all_lines)) == len(all_lines):
        got = {r.doc_id: r.text for r in once.collect()}
        assert got == dict(rows)  # identity on unique-line corpora
    twice = line_dedup(once.select("doc_id", "text"))
    a = sorted((r.doc_id, r.text) for r in once.select("doc_id", "text").collect())
    b = sorted((r.doc_id, r.text) for r in twice.select("doc_id", "text").collect())
    assert a == b  # idempotence


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])


# word-salad corpora: tokens from a small vocabulary so query terms hit
WORDS = ["alpha", "beta", "gamma", "delta", "x1", "zz"]
DOCS = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=12,
)


def _bm25_reference(docs: list[str], query_terms: list[str], scale: int = 10_000):
    """Independent pure-Python twin of operators/retrieval's exact
    integer formula (k1=6/5, b=3/4, floored avgdl, probabilistic idf) —
    validates the whole DataFrame plumbing, not just the expression."""
    toks = {i: d.split() for i, d in enumerate(docs)}
    toks = {i: [t for t in ts if t] for i, ts in toks.items()}
    nonempty = {i: ts for i, ts in toks.items() if ts}
    if not nonempty:
        return {}
    n_docs = len(nonempty)
    avgdl = sum(len(ts) for ts in nonempty.values()) // n_docs
    df = {}
    for ts in nonempty.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    scores: dict[int, int] = {}
    for i, ts in nonempty.items():
        s = 0
        for t in set(query_terms):
            tf = ts.count(t)
            if tf == 0 or t not in df:
                continue
            num = (2 * n_docs - 2 * df[t] + 1) * 44 * tf * avgdl
            den = (2 * df[t] + 1) * (20 * tf * avgdl + 6 * avgdl + 18 * len(ts))
            s += (2 * scale * num + den) // (2 * den)
        if s > 0:
            scores[i] = s
    return scores


@given(docs=DOCS, qidx=st.lists(st.sampled_from(WORDS), min_size=1, max_size=3))
@SET
def test_bm25_matches_independent_reference(spark, docs, qidx):
    from datalake_public_spark.operators.retrieval import bm25_topk

    sdf = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    q = spark.createDataFrame([(1, " ".join(qidx))], "query_id int, qtext string")
    got = {
        r.doc_id: r.score for r in bm25_topk(sdf, q, k=len(docs) + 1).collect()
    }
    assert got == _bm25_reference(docs, qidx)


# duplicate-heavy corpora from a tiny vocabulary: exact-dup groups form
# naturally (small sample space), near-dups are common, and short texts
# (< n tokens → shingle-less) appear — the hostile surface for the
# dedup-first lift
DUP_DOCS = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=6).map(" ".join),
    min_size=1,
    max_size=24,
)


@given(docs=DUP_DOCS, band=st.sampled_from([None, 3, 7]))
@SET
def test_via_reps_equals_direct_kernel_property(spark, docs, band):
    """`ngram_jaccard_pairs_via_reps` must reproduce the direct
    inverted-index kernel's EXACT (id_a, id_b, jaccard) set on ANY
    corpus and banding — the lift is load-bearing for three driver
    entries (round 10), so the crafted-corpus pin gets a generative
    twin. Non-sequential ids exercise group membership that does not
    follow id order."""
    from datalake_public_spark.operators import dedup as D

    rows = [(i * 3 + 1, t) for i, t in enumerate(docs)]  # sparse ids
    df = spark.createDataFrame(rows, "doc_id long, text string")
    direct = D.ngram_jaccard_pairs(df, threshold=0.5, band=band)
    want = {(r.id_a, r.id_b, r.jaccard) for r in direct.collect()}
    D.release_caches(direct)
    lifted = D.ngram_jaccard_pairs_via_reps(df, threshold=0.5, band=band)
    got = {(r.id_a, r.id_b, r.jaccard) for r in lifted.collect()}
    D.release_caches(lifted)
    assert got == want


@given(docs=DUP_DOCS, band=st.sampled_from([None, 3, 7]))
@SET
def test_simhash_via_reps_equals_direct_kernel_property(spark, docs, band):
    """`simhash_clusters_via_reps` must reproduce the direct half-key
    blocking + Hamming kernel's EXACT (id_a, id_b, hamming) set on ANY
    corpus and banding (round 11 — the simhash twin of the Jaccard lift
    pin above). The tiny vocabulary makes exact-dup groups — whose pairs
    lift UNconditionally at hamming 0, unlike the Jaccard lift's
    shingle-gate — the dominant case."""
    from datalake_public_spark.operators import dedup as D

    rows = [(i * 3 + 1, t) for i, t in enumerate(docs)]  # sparse ids
    df = spark.createDataFrame(rows, "doc_id long, text string")
    direct = D.simhash_clusters(df, max_hamming=3, band=band)
    want = {(r.id_a, r.id_b, r.hamming) for r in direct.collect()}
    lifted = D.simhash_clusters_via_reps(df, max_hamming=3, band=band)
    got = {(r.id_a, r.id_b, r.hamming) for r in lifted.collect()}
    D.release_caches(lifted)
    assert got == want


@given(
    docs=DUP_DOCS,
    id_band=st.sampled_from([None, 3, 7]),
    max_bucket=st.sampled_from([2, 200]),
)
@SET
def test_fuzzy_join_via_reps_equals_direct_property(
    spark, docs, id_band, max_bucket
):
    """`fuzzy_join_minhash_via_reps` must reproduce the direct operator's
    EXACT (left_id, right_id, jaccard) set on ANY corpus split, banding,
    and bucket cap (round 12 — the cross-table twin of the Jaccard and
    simhash lift pins above). max_bucket=2 makes the doc-multiplicity
    cap accounting bind on the generated exact-dup groups; the tiny
    vocabulary makes cross-side identical texts common."""
    from datalake_public_spark.operators import dedup as D

    rows = [(i * 3 + 1, t) for i, t in enumerate(docs)]  # sparse ids
    df = spark.createDataFrame(rows, "doc_id long, text string")
    left = df.filter("doc_id % 2 = 1")
    right = df.filter("doc_id % 2 = 0")
    direct = D.fuzzy_join_minhash(
        left, right, threshold=0.5, id_band=id_band, max_bucket=max_bucket
    )
    want = {(r.left_id, r.right_id, r.jaccard) for r in direct.collect()}
    D.release_caches(direct)
    lifted = D.fuzzy_join_minhash_via_reps(
        left, right, threshold=0.5, id_band=id_band, max_bucket=max_bucket
    )
    got = {(r.left_id, r.right_id, r.jaccard) for r in lifted.collect()}
    D.release_caches(lifted)
    assert got == want


@given(
    groups=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=41,
        ),
        min_size=1,
        max_size=6,
    )
)
@SET
def test_anomaly_approx_equals_exact_on_odd_groups_property(spark, groups):
    """`robust_anomalies(method="approx")` must equal the exact
    whole-group Arrow-UDAF path bit-for-bit on ANY odd-sized groups
    with n < accuracy: odd n makes both the median and the MAD exact
    order statistics (no interpolation) and the GK sketch's rank-error
    bound floor(n/accuracy) is 0 — the contract behind the
    driver-oracled event_graph_suite[op=anomaly_approx] (round 12).
    Duplicates are allowed (equal ranks carry equal values)."""
    from datalake_public_spark.operators.anomaly import robust_anomalies

    rows = []
    for g, vals in enumerate(groups):
        odd = vals if len(vals) % 2 == 1 else vals[:-1]
        rows += [(f"g{g}", v) for v in odd]
    if not rows:
        return
    df = spark.createDataFrame(rows, "grp string, value double")
    cols = ["grp", "value", "grp_median", "grp_mad", "robust_score", "is_anomaly"]
    key = lambda r: (r.grp, r.value)  # noqa: E731
    exact = sorted(
        robust_anomalies(df, "value", ["grp"]).select(*cols).collect(), key=key
    )
    approx = sorted(
        robust_anomalies(df, "value", ["grp"], method="approx")
        .select(*cols)
        .collect(),
        key=key,
    )
    assert approx == exact


def _reference_components(edges, vertices):
    """Min-id component of every node, by plain union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e} | set(vertices or ())
    return {x: find(x) for x in nodes}


CHAIN = [(i, i + 1) for i in range(999)]  # 1,000 nodes, diameter 999


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)), max_size=50
    ),
    star=st.integers(0, 15),
    loop=st.booleans(),
    vertices=st.none() | st.sets(st.integers(0, 200), max_size=30),
)
@example(edges=CHAIN, star=0, loop=False, vertices=None)
@example(edges=[], star=0, loop=False, vertices={3, 5, 9})
@SET
def test_components_both_paths_one_answer(
    spark, monkeypatch, edges, star, loop, vertices
):
    """connected_components' driver path (union-find on the collected
    edge list) and distributed path (pointer-doubling rounds) return
    the same min-id labels on random graphs with self-loops, stars,
    duplicate and reversed edges, a 1,000-node chain and an empty edge
    list with a vertex set — and both equal a plain union-find. The
    path is forced through the module's edge bound."""
    from datalake_public_spark.operators import components, iterutils

    edges = list(edges)
    edges += [(100, 100 + k) for k in range(1, star + 1)]  # star, hub 100
    edges += [(b, a) for a, b in edges[:5]] + edges[:3]  # reversed, duplicated
    edges += [(7, 7)] if loop else []  # self-loop
    e = spark.createDataFrame(edges, "src long, dst long")
    v = (
        None
        if vertices is None
        else spark.createDataFrame([(x,) for x in vertices], "node long")
    )
    want = _reference_components(edges, vertices)
    before = iterutils.release_failures
    with monkeypatch.context() as m:
        for bound in (components.MAX_DRIVER_EDGES, -1):
            m.setattr(components, "MAX_DRIVER_EDGES", bound)
            labels = components.connected_components(e, vertices=v)
            assert {r.node: r.component for r in labels.collect()} == want
            iterutils.release_local_checkpoint(labels)
    assert iterutils.release_failures == before
