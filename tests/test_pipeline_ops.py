"""Unit tests for the dataset-assembly operators: connected components
(known graphs), split determinism under repartitioning, packing layout."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datalake_public_spark.operators.components import connected_components
from datalake_public_spark.operators.sampling import (
    assign_split,
    epoch_shuffle,
    pack_sequences,
    stratified_sample,
    weighted_sample,
)


def _labels(df):
    return {r.node: r.component for r in df.collect()}


def test_components_chain_and_singleton(spark):
    # chain 1-2-3-4 plus isolated 9: one component {1,2,3,4}, singleton {9}
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], ["node"])
    got = _labels(connected_components(edges, vertices=verts))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_components_two_cliques_bridge(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12), (20, 21), (21, 22), (12, 20)], ["src", "dst"]
    )
    got = _labels(connected_components(edges))
    assert set(got.values()) == {10}  # bridge merges both cliques


def test_components_without_vertices_only_edge_nodes(spark):
    edges = spark.createDataFrame([(5, 6)], ["src", "dst"])
    assert _labels(connected_components(edges)) == {5: 5, 6: 5}


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Force one connected_components path: a bound of -1 sends every
    edge list, even an empty one, to the distributed rounds."""
    from datalake_public_spark.operators import components

    if request.param == "distributed":
        monkeypatch.setattr(components, "MAX_DRIVER_EDGES", -1)
    return request.param


def test_components_result_is_releasable(spark, cc_path):
    """Regression pin (round 10): connected_components returns a
    ``Project`` over its final checkpoint (the ``prev`` convergence
    column is dropped), and caller-side release must still resolve the
    underlying LogicalRDD — round 9's .select() return broke
    release_local_checkpoint for every caller (a per-micro-batch caller
    leaked one checkpoint per batch) until the helper learned to
    unwrap single-child wrapper nodes. The driver path's label frame is
    driver data (a LocalRelation): its release is a no-op, not a
    failure."""
    from datalake_public_spark.operators import iterutils

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["src", "dst"])
    labels = connected_components(edges)
    assert _labels(labels) == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    before = iterutils.release_failures
    iterutils.release_local_checkpoint(labels)
    assert iterutils.release_failures == before


def test_release_checkpoint_failure_is_counted_not_swallowed(spark):
    """Calling release on a frame that is NOT a localCheckpoint (so the
    JVM plan node has no rdd()) must increment the drift counter and
    warn once — not silently no-op (ADVICE r4). The happy path in the
    iterative suites keeps the counter at 0."""
    import warnings

    from datalake_public_spark.operators import iterutils

    plain = spark.range(3).selectExpr("id", "id * 2 AS two")
    before = iterutils.release_failures
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("always")
        iterutils.release_local_checkpoint(plain)
    assert iterutils.release_failures == before + 1
    # reset so later suites' zero-failure assertions see a clean slate
    iterutils.release_failures = before


def test_components_driver_path_job_count(spark):
    """Under the edge bound, components cost the edge list's bounded
    collect — at most two jobs for an edge list with no upstream
    shuffle (the distinct's map stage, then the collect) — instead of
    three checkpoints and a count per round."""
    from tests.conftest import count_jobs

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)], ["src", "dst"]
    )
    with count_jobs(spark) as jobs:
        labels = connected_components(edges)
    assert jobs.n <= 2
    got = _labels(labels)
    assert set(got.values()) == {0, 100} and len(got) == 44


def test_components_distributed_path_reads_edges_once(spark, monkeypatch):
    """Over the edge bound the symmetric edge list is checkpointed from
    ONE projection of the edges, so that checkpoint reads the edge
    lineage once (a union of the two directions read it once per
    branch). The lineage counts its own reads: a non-deterministic UDF
    over ``src`` adds one per row it sees; the bound of -1 makes the
    bounded collect a LIMIT 0, which reads nothing."""
    from datalake_public_spark.operators import components

    reads = spark.sparkContext.accumulator(0)

    def _count(x):
        reads.add(1)
        return x

    counted = F.udf(_count, "long").asNondeterministic()
    rows = [(i, i + 1) for i in range(20)] + [(100, 101)]
    edges = spark.createDataFrame(rows, "src long, dst long").select(
        counted("src").alias("src"), "dst"
    )
    monkeypatch.setattr(components, "MAX_DRIVER_EDGES", -1)
    labels = connected_components(edges)
    assert reads.value == len(rows)
    got = _labels(labels)
    assert set(got.values()) == {0, 100} and len(got) == 23


def test_split_stable_under_repartition(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in assign_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in assign_split(df.repartition(17, "doc_id"), "doc_id").collect()
    }
    assert a == b
    # ratios roughly 80/10/10
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.75 < train / n < 0.85


def test_split_bucket_full_int64_range(spark):
    """Round 11 (found at the ×1000 rung): the naive (key*KNUTH)%2^32
    overflows int64 once key > ~3.47e9 — Spark ANSI crashes while
    DuckDB silently promotes to hugeint, a cross-engine divergence on
    exactly the id range a 100 TB corpus carries. The hi/lo-decomposed
    hash must (a) reproduce the OLD formula's buckets wherever it
    didn't overflow, (b) agree with exact big-int modular arithmetic —
    and with the DuckDB SQL twin — over the full int64 id range."""
    import duckdb

    from pyspark.sql import functions as F

    from datalake_public_spark.operators.sampling import (
        KNUTH,
        M32,
        split_bucket,
        split_bucket_sql,
    )

    keys = [0, 1, 7, 65535, 65536, 150_000, 999_999_937,
            2_147_483_647, 3_474_749_660,          # old-formula max range
            3_474_749_661, 4_294_967_296, 9_999_999_999,
            10_000_150_000, 2**62 + 12345]         # past it
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r.doc_id: r.b
        for r in df.select("doc_id", split_bucket("doc_id").alias("b")).collect()
    }
    # (b) exact big-int reference, full range
    for k in keys:
        assert got[k] == ((k % M32) * KNUTH) % M32 % 100, k
    # (a) old formula where it could not overflow
    old_safe = [k for k in keys if k * KNUTH < 2**63]
    old_got = {
        r.doc_id: r.b
        for r in df.filter(F.col("doc_id").isin(old_safe)).select(
            "doc_id",
            ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(M32) % F.lit(100)).alias("b"),
        ).collect()
    }
    for k in old_safe:
        assert got[k] == old_got[k], k
    # SQL twin agrees over the same keys (DuckDB)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    for k, b in con.execute(
        f"SELECT doc_id, {split_bucket_sql('doc_id')} FROM t"
    ).fetchall():
        assert got[k] == b, k


def test_split_bucket_negative_keys_engine_identical(spark):
    """Round 12 (ADVICE r11): without the pmod reduction, Spark's
    two's-complement bitwiseAND/shiftright and DuckDB's sign-following
    % / // produced silently DIVERGENT buckets for negative keys. Both
    twins must now agree with exact big-int pmod arithmetic — and with
    each other — on negative ids, and stay unchanged for nonnegative."""
    import duckdb

    from datalake_public_spark.operators.sampling import (
        KNUTH,
        M32,
        split_bucket,
        split_bucket_sql,
    )

    keys = [-1, -7, -65536, -999_999_937, -3_474_749_661,
            -(2**62 + 12345), -(2**63), 0, 1, 9_999_999_999]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r.doc_id: r.b
        for r in df.select("doc_id", split_bucket("doc_id").alias("b")).collect()
    }
    for k in keys:
        assert got[k] == ((k % M32) * KNUTH) % M32 % 100, k  # python % is pmod
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    for k, b in con.execute(
        f"SELECT doc_id, {split_bucket_sql('doc_id')} FROM t"
    ).fetchall():
        assert got[k] == b, k


def test_sample_priority_full_int64_range(spark):
    """Round 12: sample_priority kept the bare (key·KNUTH) product after
    split_bucket's r11 overflow fix — same crash/divergence class past
    key ≈ 3.47e9. The shared _knuth32 mix must (a) reproduce the old
    priorities exactly where the old product fit in int64, (b) run (and
    match the DuckDB twin bit-for-bit) over the full int64 range
    including negatives."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    from datalake_public_spark.operators.sampling import (
        KNUTH,
        M32,
        sample_priority,
        sample_priority_sql,
    )

    keys = [0, 1, 7, 65536, 999_999_937, 3_474_749_660,
            3_474_749_661, 9_999_999_999, 2**62 + 12345, -5, -999_999_937]
    df = spark.createDataFrame([(k, 2.0) for k in keys], "doc_id long, w double")
    got = {
        r.doc_id: r.p
        for r in df.select(
            "doc_id", sample_priority("doc_id", "w").alias("p")
        ).collect()
    }
    # (b) big-int reference (math.log ulp-tolerant; membership decisions
    # depend on inter-row gaps far above 1 ulp)
    for k in keys:
        u = (((k % M32) * KNUTH) % M32 + 0.5) / float(M32)
        assert got[k] == pytest.approx(math.log(u) / 2.0, rel=1e-12), k
    # (a) old formula where the product fit in int64
    old_safe = [k for k in keys if 0 <= k * KNUTH < 2**63]
    old = {
        r.doc_id: r.p
        for r in df.filter(F.col("doc_id").isin(old_safe)).select(
            "doc_id",
            (
                F.ln(
                    ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(M32) + F.lit(0.5))
                    / F.lit(float(M32))
                )
                / F.col("w")
            ).alias("p"),
        ).collect()
    }
    for k in old_safe:
        assert got[k] == old[k], k  # bit-identical, same expression tree
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(k, 2.0) for k in keys])
    for k, p in con.execute(
        f"SELECT doc_id, {sample_priority_sql('doc_id', 'w')} FROM t"
    ).fetchall():
        assert got[k] == pytest.approx(p, rel=1e-12), k


def test_pack_sequences_layout(spark):
    # tokens: 1000, 1500, 600, 2048, 1 → exclusive cumsum 0,1000,2500,3100,5148
    # bins (ctx 2048):                    0,   0,    1,   1,    2
    rows = [("s", i, t) for i, t in enumerate([1000, 1500, 600, 2048, 1])]
    docs = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    got = {r.doc_id: r.bin for r in pack_sequences(docs).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_pack_sequences_groups_independent(spark):
    docs = spark.createDataFrame(
        [("a", 1, 3000), ("b", 1, 3000), ("a", 2, 10), ("b", 2, 10)],
        ["source", "doc_id", "n_tokens"],
    )
    got = {(r.source, r.doc_id): r.bin for r in pack_sequences(docs).collect()}
    # each group starts at offset 0
    assert got == {("a", 1): 0, ("b", 1): 0, ("a", 2): 1, ("b", 2): 1}


def test_stratified_sample_nested_and_deterministic(spark):
    from datalake_public_spark.driver_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001").select("event_id", "event_type")
    lo = stratified_sample(ev, "event_id", "event_type", {"view": 0.05}, default_rate=1.0)
    hi = stratified_sample(ev, "event_id", "event_type", {"view": 0.20}, default_rate=1.0)
    lo_ids = {r.event_id for r in lo.collect()}
    hi_ids = {r.event_id for r in hi.collect()}
    assert lo_ids <= hi_ids  # raising a rate only ADDS rows (nested samples)
    # repartitioning can't change membership
    lo2 = {
        r.event_id
        for r in stratified_sample(
            ev.repartition(13), "event_id", "event_type", {"view": 0.05}, default_rate=1.0
        ).collect()
    }
    assert lo2 == lo_ids


def test_stratified_sample_rates_roughly_hold(spark):
    from datalake_public_spark.driver_queries import _events

    ev = _events(spark, "/root/testdata/sf0.01").select("event_id", "event_type")
    total = ev.filter("event_type = 'view'").count()
    kept = stratified_sample(
        ev, "event_id", "event_type", {"view": 0.10}
    ).count()
    assert 0.07 * total < kept < 0.13 * total


def test_weighted_sample_deterministic_and_weight_biased(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        # ids < 1000 get weight 100, the rest weight 1
        F.when(F.col("id") < 1000, 100).otherwise(1).alias("w"),
    )
    got = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 500).collect()}
    assert len(got) == 500
    # same membership under repartitioning (pure function of the key)
    got2 = {
        r.doc_id
        for r in weighted_sample(df.repartition(13), "doc_id", "w", 500).collect()
    }
    assert got == got2
    # heavy rows (20% of population, 100× weight) should dominate the sample
    heavy = sum(1 for d in got if d < 1000)
    assert heavy > 400


def test_weighted_sample_excludes_nonpositive_and_grouped_k(spark):
    df = spark.createDataFrame(
        [(i, "g" + str(i % 2), (i % 7) - 1) for i in range(200)],
        ["doc_id", "grp", "w"],
    )
    flat = weighted_sample(df, "doc_id", "w", 1000)
    assert flat.filter(F.col("w") <= 0).count() == 0
    per_group = weighted_sample(df, "doc_id", "w", 5, group_col="grp")
    counts = {r.grp: r.n for r in per_group.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5}


def test_components_long_chain_converges_fast(spark):
    # a 300-node chain has diameter 299: relaxation alone cannot finish
    # inside max_iter=12, pointer doubling must (O(log n) rounds)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["src", "dst"]
    )
    got = _labels(connected_components(edges, max_iter=12))
    assert set(got.values()) == {0} and len(got) == 301


def test_components_raises_on_non_convergence(spark, monkeypatch):
    # only the distributed rounds have an iteration bound: the driver
    # path always converges, so force the rounds
    from datalake_public_spark.operators import components

    monkeypatch.setattr(components, "MAX_DRIVER_EDGES", -1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(80)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_repetition_stats_known_values(spark):
    from datalake_public_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            # 6 tokens, 5 bigrams all distinct; modal token count 1
            (1, "a b c d e f"),
            # "x y x y x": bigrams [x y, y x, x y, y x] -> 2 distinct of 4
            # dup_frac 0.5; modal token x appears 3/5
            (2, "x y x y x"),
            # single token: no bigrams -> both 0-ish; top_frac 1.0
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].n_grams == 5 and got[1].dup_ngram_frac == 0.0
    assert abs(got[1].top_token_frac - 1 / 6) < 1e-6
    assert got[2].dup_ngram_frac == 0.5
    assert got[2].top_token_frac == 0.6
    assert got[3].n_grams == 0 and got[3].dup_ngram_frac == 0.0
    assert got[3].top_token_frac == 1.0


def test_quality_filter_rules_and_audit_view(spark):
    """quality_filter: each rule drops what it should; the audit view
    carries per-doc reasons; survivors match the reasons==empty set."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators.text import quality_filter

    good = "the quick brown fox jumps over the lazy dog and keeps running far away today"
    docs = spark.createDataFrame(
        [
            (1, good, len(good)),
            (2, "tiny", 4),                                   # too short
            (3, "spam spam spam spam spam spam spam spam spam spam spam spam", 60),  # repetitive
        ],
        "doc_id long, text string, n_chars long",
    )
    kept = quality_filter(docs, min_chars=20, min_tokens=5)
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [1]

    audit = quality_filter(docs, min_chars=20, min_tokens=5, with_reasons=True)
    reasons = {r.doc_id: set(r.drop_reasons) for r in audit.collect()}
    assert reasons[1] == set()
    assert "too_short_chars<20" in reasons[2]
    assert {"repetitive_ngrams", "modal_token_mass"} & reasons[3]
    # survivors == audit rows with no reasons
    assert {d for d, rs in reasons.items() if not rs} == {1}


def test_quality_filter_language_allowlist(spark):
    from datalake_public_spark.operators.text import quality_filter

    en = "the cat and the dog walked to the house of a friend to see the garden and the trees"
    fr = "le chat et le chien vont dans la maison des amis et les arbres du jardin sont grands"
    docs = spark.createDataFrame(
        [(1, en, len(en)), (2, fr, len(fr))], "doc_id long, text string, n_chars long"
    )
    kept = quality_filter(
        docs,
        min_chars=10,
        min_tokens=5,
        min_quality=0.0,
        max_top_token_frac=1.0,  # isolate the language rule
        max_dup_ngram_frac=1.0,
        langs=("en",),
    )
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [1]


def test_quality_filter_null_text_drops(spark):
    """ADVICE r2: NULL signals must count as drops, not passes — a doc
    with NULL text previously produced NULL for every rule predicate and
    slid through the filter."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators.text import quality_filter

    good = "the quick brown fox jumps over the lazy dog and keeps running far away today"
    docs = spark.createDataFrame(
        [(1, None, 0), (2, good, len(good))], "doc_id long, text string, n_chars long"
    )
    kept = quality_filter(docs, min_chars=20, min_tokens=5)
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [2]
    audit = quality_filter(docs, min_chars=20, min_tokens=5, with_reasons=True)
    reasons = {r.doc_id: set(r.drop_reasons) for r in audit.collect()}
    assert reasons[1], "NULL-text doc must carry drop reasons"
    assert reasons[2] == set()


def test_redact_pii_counts_and_tags(spark):
    """PII scrub: emails/IPv4s/phone-shaped runs replaced by [TYPE] tags,
    counters match, non-PII text untouched, original columns preserved."""
    from datalake_public_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+spam@example.co.uk or 192.168.0.1 now"),
            (2, "call +1 555 123 4567 or 01 23 45 67 89 today"),
            (3, "no pii here just words and the number 42"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs, with_counts=True).collect()}
    assert out[1].n_emails == 1 and out[1].n_ips == 1 and out[1].n_phones == 0
    assert "[EMAIL]" in out[1].text and "[IP]" in out[1].text
    assert "jane" not in out[1].text and "192.168" not in out[1].text
    assert out[2].n_phones == 2 and "[PHONE]" in out[2].text
    assert "555" not in out[2].text
    assert out[3].text == "no pii here just words and the number 42"
    assert set(out[1].asDict()) == {
        "doc_id", "text", "n_emails", "n_ips", "n_phones"
    }
    # without counts: schema identical to input
    assert redact_pii(docs).columns == docs.columns


def test_redact_pii_matches_duckdb_exactly(spark):
    """Cross-engine regex contract: the redacted strings (not just the
    counts) must be byte-identical between Spark (Java regex) and DuckDB
    (RE2) — this is what lets the driver oracle hash redacted_md5."""
    import duckdb

    from datalake_public_spark.operators.text import _PII_ORDER, PII_PATTERNS, redact_pii

    rows = [
        (1, "a@b.co and c.d-e@f.g.hk plus 10.0.0.255 then +33 1 22 33 44 55"),
        (2, "edge 999.999.999.999 and trailing a@b.io."),
        (3, "digits 12345678901 and spaced 1 2 3 4 5 6 7 8 9 0 1"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in redact_pii(docs).collect()}
    con = duckdb.connect()
    for doc_id, text in rows:
        sql_expr = "t"
        for k in _PII_ORDER:
            sql_expr = f"regexp_replace({sql_expr}, '{PII_PATTERNS[k]}', '[{k.upper()}]', 'g')"
        expect = con.execute(
            f"SELECT {sql_expr} FROM (SELECT ? AS t)", [text]
        ).fetchone()[0]
        assert got[doc_id] == expect, (doc_id, got[doc_id], expect)


def test_corpus_familiarity_signals(spark):
    """corpus_familiarity: common-token docs score high, OOV-heavy docs
    flag, counts exact on a crafted corpus (vocab_k=2 → vocab = the two
    most frequent tokens)."""
    from datalake_public_spark.operators.text import corpus_familiarity

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb"),
            (2, "aa bb"),
            (3, "zz qq ww ee"),
        ],
        "doc_id long, text string",
    )
    # global counts: aa=3, bb=3, every other token=1 → vocab(k=2)={aa,bb}
    out = {r.doc_id: r for r in corpus_familiarity(docs, vocab_k=2).collect()}
    assert out[1].n_tokens == 4 and out[1].n_oov == 0
    assert out[1].familiarity == 3.0 and out[1].oov_frac == 0.0
    assert out[2].familiarity == 3.0
    assert out[3].n_oov == 4 and out[3].oov_frac == 1.0 and out[3].familiarity == 0.0

    # the pre-tokenized fast path (round 11: the vocab entry shares one
    # tokenization across branches) must be row-identical to the
    # self-tokenizing path — same tokens function, same everything
    from pyspark.sql import functions as F

    from datalake_public_spark.functions import text_funcs as T

    tok = docs.select(F.col("doc_id"), T.tokens("text").alias("toks"))
    via_tok = {
        r.doc_id: r
        for r in corpus_familiarity(docs, vocab_k=2, tokens_df=tok).collect()
    }
    assert {k: tuple(v) for k, v in via_tok.items()} == {
        k: tuple(v) for k, v in out.items()
    }


def test_chunk_documents_windows(spark):
    """chunk_documents: sliding token windows with overlap — boundaries,
    chunk indices, shared-context tokens, and short-doc behavior all
    exact on a crafted corpus."""
    from datalake_public_spark.operators.sampling import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(1, words), (2, "tiny doc"), (3, None)],
        "doc_id long, text string",
    )
    out = [
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(docs, max_tokens=4, overlap=1)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    ]
    # step = 3: starts 1,4,7,10 → windows [w0..w3],[w3..w6],[w6..w9],[w9]
    assert out == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (1, 3, "w9", 1),
        (2, 0, "tiny doc", 2),
    ]
    # consecutive chunks share exactly `overlap` tokens
    assert out[0][2].split()[-1] == out[1][2].split()[0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_epoch_shuffle_is_deterministic_permutation(spark):
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    a = [r.doc_id for r in epoch_shuffle(docs, seed=7, epoch=0).collect()]
    b = [r.doc_id for r in epoch_shuffle(docs, seed=7, epoch=0).collect()]
    assert a == b                       # reproducible across runs
    assert sorted(a) == list(range(100))  # a permutation, nothing lost
    assert a != list(range(100))        # actually shuffled


def test_epoch_shuffle_epochs_and_seeds_differ(spark):
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    e0 = [r.doc_id for r in epoch_shuffle(docs, seed=7, epoch=0).collect()]
    e1 = [r.doc_id for r in epoch_shuffle(docs, seed=7, epoch=1).collect()]
    s9 = [r.doc_id for r in epoch_shuffle(docs, seed=9, epoch=0).collect()]
    assert e0 != e1 and e0 != s9
    assert sorted(e1) == sorted(s9) == list(range(100))


def test_epoch_shuffle_matches_engine_portable_spec(spark):
    """The key is md5 of a plain string — recompute the expected order
    in pure Python to pin the cross-engine contract."""
    import hashlib

    docs = spark.range(50).withColumnRenamed("id", "doc_id")
    got = [r.doc_id for r in epoch_shuffle(docs, seed=17, epoch=3).collect()]
    want = sorted(
        range(50), key=lambda i: hashlib.md5(f"{i}:17:3".encode()).hexdigest()
    )
    assert got == want


def test_temperature_mixture_rates_and_anchor(spark):
    from datalake_public_spark.operators.sampling import temperature_mixture

    # 400 'big' rows vs 100 'small' rows: small keeps sqrt(4)=2x the rate
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 400, "big").otherwise("small").alias("d"),
    )
    out = temperature_mixture(df, "k", "d", alpha=0.5, base_rate=0.4)
    rates = {r.d: r.mixture_rate for r in out.select("d", "mixture_rate").distinct().collect()}
    assert rates["big"] == 0.4
    assert abs(rates["small"] - 0.8) < 1e-12
    kept = {r.d: r.cnt for r in out.groupBy("d").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # hash filter keeps ~rate fraction of each domain
    assert abs(kept["big"] / 400 - 0.4) < 0.1
    assert abs(kept["small"] / 100 - 0.8) < 0.12


def test_temperature_mixture_caps_rate_at_one(spark):
    from datalake_public_spark.operators.sampling import temperature_mixture

    # tiny domain: base * sqrt(n_max/n) > 1 → every row kept
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 996, "big").otherwise("rare").alias("d"),
    )
    out = temperature_mixture(df, "k", "d", alpha=0.5, base_rate=0.3)
    rare = out.filter(F.col("d") == "rare")
    assert rare.count() == 4
    assert all(r.mixture_rate == 1.0 for r in rare.collect())


def test_temperature_mixture_alpha_one_is_uniform_rate(spark):
    from datalake_public_spark.operators.sampling import temperature_mixture

    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("d"),
    )
    out = temperature_mixture(df, "k", "d", alpha=1.0, base_rate=0.5)
    rates = {r.mixture_rate for r in out.select("mixture_rate").distinct().collect()}
    assert rates == {0.5}  # alpha=1 → no rebalancing, every domain at base


def test_temperature_mixture_membership_is_stable_under_repartition(spark):
    from datalake_public_spark.operators.sampling import temperature_mixture

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("string").alias("d")
    )
    a = {r.k for r in temperature_mixture(df, "k", "d").collect()}
    b = {r.k for r in temperature_mixture(df.repartition(13), "k", "d").collect()}
    assert a == b and len(a) > 0
