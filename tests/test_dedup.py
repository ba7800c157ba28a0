"""Dedup operator tests: exact semantics on crafted inputs, and the LSH
approximation validated against the exact n-gram-Jaccard baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.operators import dedup
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_exact_dedup_crafted(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 2: 1}  # min id survives, copies counted


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence with other words entirely"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b, pairs[0].jaccard) == (1, 2, 1.0)


def test_minhash_recall_vs_exact(spark, docs):
    """LSH must recover (nearly) all true near-dup pairs at the threshold
    its band/row config targets, with few false positives (candidates are
    exact-verified, so precision is 1.0 by construction)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert approx <= exact  # verify step ⇒ no false positives
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_simhash_finds_identical(spark):
    df = spark.createDataFrame(
        [
            (1, "spark engines shuffle data across many executors"),
            (2, "spark engines shuffle data across many executors"),
            (3, "unrelated text about gardening and tomato plants thriving"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_clusters(df).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    assert pairs[0].hamming == 0


def test_embedding_neardup_self_similarity(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),  # nearly parallel to 1
            (3, [0.0, 1.0, 0.0]),  # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.9).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_minhash_signature_width(spark, docs):
    sigs = dedup.minhash_signatures(docs.limit(20), num_perm=64)
    row = sigs.first()
    assert len(row.sig) == 64  # constant-width signature regardless of doc size
    assert sigs.schema["sig"].dataType.simpleString() == "array<bigint>"


def test_contamination_check_counts_and_ratio(spark):
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" with benchmark
            (1, "the quick brown fox jumps high"),
            # shares exactly one shingle ("lazy dogs sleep") → below min_common=2
            (2, "all lazy dogs sleep here daily"),
            # no overlap at all
            (3, "completely different subject matter entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox ran away"), (101, "lazy dogs sleep soundly")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in dedup.contamination_check(corpus, bench, min_common=2).collect()}
    assert set(got) == {1}
    # doc 1 has 4 shingles, 2 shared
    assert got[1].n_sh == 4 and got[1].n_common == 2
    assert abs(got[1].contamination - 0.5) < 1e-9
    # min_common=1 also surfaces doc 2
    got1 = {r.id for r in dedup.contamination_check(corpus, bench, min_common=1).collect()}
    assert got1 == {1, 2}


def test_contamination_via_reps_equals_direct(spark):
    """The round-13 rep lift: identical rows on a corpus with exact-dup
    groups (n_common/n_sh are functions of the text, so every copy's
    row equals its representative's), shingle-less docs (< n tokens),
    and a duplicated benchmark side (distinct-text pre-collapse)."""
    base = [
        (1, "the quick brown fox jumps high"),
        (2, "all lazy dogs sleep here daily"),
        (3, "completely different subject matter entirely unrelated"),
        (4, "too short"),  # < 3 tokens → no shingles, must never appear
        (5, ""),
    ]
    # replicate every text under fresh ids → exact-dup groups
    rows = base + [(i + 10, t) for i, t in base] + [(i + 20, t) for i, t in base]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox ran away"),
            (101, "lazy dogs sleep soundly"),
            (102, "the quick brown fox ran away"),  # duplicated bench text
        ],
        "doc_id long, text string",
    )
    for mc in (1, 2):
        direct = sorted(
            map(tuple, dedup.contamination_check(corpus, bench, min_common=mc).collect())
        )
        lifted = sorted(
            map(
                tuple,
                dedup.contamination_check_via_reps(
                    corpus, bench, min_common=mc
                ).collect(),
            )
        )
        assert direct == lifted and len(direct) > 0


def test_contamination_via_reps_equals_direct_sf0001(spark):
    """Full-corpus equality on the real sf0.001 fixture split exactly as
    the driver entry splits it (bucket <80 corpus vs >=90 benchmark)."""
    from datalake_public_spark.operators.sampling import split_bucket

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b = split_bucket("doc_id")
    corpus, bench = docs.filter(b < 80), docs.filter(b >= 90)
    direct = sorted(
        map(tuple, dedup.contamination_check(corpus, bench, min_common=2).collect())
    )
    lifted = sorted(
        map(
            tuple,
            dedup.contamination_check_via_reps(corpus, bench, min_common=2).collect(),
        )
    )
    assert direct == lifted and len(direct) > 0


def test_contamination_benchmark_side_broadcasts(spark):
    corpus = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta doc "), F.col("id")).alias("text"),
    )
    bench = spark.createDataFrame([(999, "alpha beta gamma delta shared")], "doc_id long, text string")
    plan = dedup.contamination_check(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_near_dedup_pipeline_equals_raw_minus_exact_pairs(spark):
    """The exact-dup pre-pass contract on a corpus with heavy exact
    duplication (every doc replicated 3x): pipeline pairs == raw LSH
    pairs with both sides remapped to their exact-dup representative,
    minus pairs internal to one exact-dup group."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = docs
    for i in (1, 2):
        rep = rep.unionByName(docs.withColumn("doc_id", F.col("doc_id") + i * 10_000_000))

    base = dedup.minhash_lsh_pairs(docs).select("id_a", "id_b")
    groups = dedup.exact_dedup(docs)
    h = docs.select("doc_id", F.md5("text").alias("h"))
    rep_of = h.join(
        groups.select(F.col("content_hash").alias("h"), "keep_id"), "h"
    ).select("doc_id", "keep_id")
    ha = h.select(F.col("doc_id").alias("id_a"), F.col("h").alias("h_a"))
    hb = h.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"))
    expected = set(
        map(
            tuple,
            base.join(ha, "id_a").join(hb, "id_b")
            .filter(F.col("h_a") != F.col("h_b"))
            .join(rep_of.select(F.col("doc_id").alias("id_a"), F.col("keep_id").alias("ra")), "id_a")
            .join(rep_of.select(F.col("doc_id").alias("id_b"), F.col("keep_id").alias("rb")), "id_b")
            .select(F.least("ra", "rb"), F.greatest("ra", "rb"))
            .distinct()
            .collect(),
        )
    )
    got = set(
        map(tuple, dedup.near_dedup_pipeline(rep).select("id_a", "id_b").collect())
    )
    assert got == expected and len(got) > 0


def test_minhash_equals_ngram_baseline_exactly(spark):
    """dedup_minhash_lsh's driver oracle IS the exact ngram baseline —
    that contract (banding recall 1 + collision-free hashed-set Jaccard
    on this corpus) must hold locally or the driver row goes red; if
    this test ever fails after a testdata change, revert the oracle to
    None (rows-only) per the query docstring."""
    from datalake_public_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = {(r.id_a, r.id_b): r.jaccard for r in dedup.minhash_lsh_pairs(docs).collect()}
    ng = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert lsh == ng and len(lsh) > 0


def test_dedupe_corpus_end_to_end(spark):
    """The full materializer: no exact dups, no near-dup pair survives,
    exactly one representative (the cluster min id) per duplicate
    cluster, and non-duplicate docs pass through untouched."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # replicate ×2 (exact dups) so both dedup stages have real work
    corpus = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    out = dedup.dedupe_corpus(corpus)

    # 1. no exact duplicates survive
    assert out.groupBy("text").count().filter("count > 1").count() == 0

    # 2. no near-dup pair survives within the output
    assert dedup.ngram_jaccard_pairs(out, threshold=0.5).count() == 0

    # 3. count: reps minus (near-cluster sizes - 1 each)
    reps = docs.count()  # original docs are the min-id representatives
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    from datalake_public_spark.operators.components import connected_components

    labels = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        vertices=docs.select(F.col("doc_id").alias("node")),
    )
    n_clustered_away = labels.filter(F.col("node") != F.col("component")).count()
    assert out.count() == reps - n_clustered_away

    # 4. survivors are exactly the cluster min ids
    min_ids = {
        r.component for r in labels.select("component").distinct().collect()
    }
    got_ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert got_ids == min_ids


def test_lsh_recall_is_one_on_testdata(spark):
    """The cheap recall==1 pre-check guarding dedup_minhash_lsh's
    exact-equality oracle (ADVICE r2): if a regenerated corpus ever emits
    borderline pairs the banding misses, THIS breaks first — revert that
    oracle to rows-only then (see driver_queries_llm.dedup_minhash_lsh)."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    groups = dedup.exact_dedup(docs)
    reps = docs.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    exact = dedup.ngram_jaccard_pairs(reps, threshold=0.5).select("id_a", "id_b")
    lsh = dedup.near_dedup_pipeline(docs, threshold=0.5).select("id_a", "id_b")
    missed = exact.exceptAll(lsh).count()
    extra = lsh.exceptAll(exact).count()
    assert missed == 0 and extra == 0, (missed, extra)


def test_embedding_neardup_lsh_planted_duplicates(spark):
    """The LSH scale path for embedding near-dup: on a seeded corpus with
    planted near-identical pairs (cos ≥ .99) it must find EXACTLY the
    exact-baseline pair set at the same threshold — full recall on
    near-dups (4 tables × Hamming-1 probing) and exact precision (verify
    step). Deterministic end-to-end (fixed seeds, fixed planes)."""
    import numpy as np

    from datalake_public_spark.operators.dedup import embedding_neardup_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    planted = []
    vecs = list(base)
    for i in range(15):  # ids 200..214 duplicate ids 0..14 with tiny noise
        dup = base[i] + rng.normal(scale=0.01, size=64)
        planted.append((i, 200 + len(planted)))
        vecs.append(dup)
    M = np.array(vecs)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    exact = {
        (i, j)
        for i in range(len(M))
        for j in range(i + 1, len(M))
        if round(C[i, j], 6) >= 0.95
    }
    assert exact == set(planted)  # sanity: noise floor far below 0.95

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(df, threshold=0.95).collect()
    }
    assert got == exact


def test_embedding_neardup_lsh_respects_bucket_cap(spark):
    """max_bucket drops degenerate buckets (mass-duplicated embeddings)
    instead of going quadratic — same contract as minhash_lsh_pairs."""
    import numpy as np

    from datalake_public_spark.operators.dedup import embedding_neardup_lsh

    rng = np.random.default_rng(3)
    v = rng.normal(size=64)
    rows = [(i, [float(x) for x in v]) for i in range(50)]  # 50 identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # cap below the clone count: every bucket holding the clones is dropped
    assert embedding_neardup_lsh(df, threshold=0.9, max_bucket=10).count() == 0
    # without the cap the full clique comes back (50*49/2 pairs)
    assert embedding_neardup_lsh(df, threshold=0.9, max_bucket=100).count() == 1225


def test_fuzzy_join_minhash_cross_table(spark):
    """fuzzy_join_minhash finds exactly the cross-table near-dup pairs an
    exact Jaccard cross join finds (planted high-overlap pairs well above
    the banding S-curve), with exact verified scores and no within-table
    pairs."""
    from pyspark.sql import functions as F

    from datalake_public_spark.functions.arith import int_ratio_half_up
    from datalake_public_spark.functions import text_funcs as T
    from datalake_public_spark.operators.dedup import fuzzy_join_minhash

    base = [
        "the quick brown fox jumps over the lazy dog near the old river bank today",
        "machine learning models require large clean corpora with diverse text sources",
        "weather in the mountains changes fast so hikers pack warm layers and maps",
        "completely unrelated sentence about cooking pasta with garlic and olive oil",
    ]
    left = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], "doc_id long, text string"
    )
    # right: two near-copies (one word changed), two unrelated docs
    right = spark.createDataFrame(
        [
            (100, base[0].replace("today", "tonight")),
            (101, base[2].replace("warm", "extra")),
            (102, "totally different text about stock markets and interest rates"),
            (103, "another disjoint document mentioning guitars pianos and violins"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in fuzzy_join_minhash(left, right, threshold=0.5).collect()
    }
    # exact baseline: full cross join with the same shingle Jaccard
    sh = lambda df, side: df.select(  # noqa: E731
        F.col("doc_id").alias(f"{side}_id"),
        T.shingles("text", 3).alias(f"sh_{side}"),
    )
    exact = {
        (r.left_id, r.right_id): r.j
        for r in sh(left, "left")
        .crossJoin(sh(right, "right"))
        .withColumn(
            "j",
            int_ratio_half_up(
                F.size(F.array_intersect("sh_left", "sh_right")),
                F.size(F.array_union("sh_left", "sh_right")),
                6,
            ),
        )
        .filter(F.col("j") >= 0.5)
        .select("left_id", "right_id", "j")
        .collect()
    }
    assert got == exact
    assert set(got) == {(0, 100), (2, 101)}


def test_line_dedup_strips_boilerplate_keeps_first(spark):
    df = spark.createDataFrame(
        [
            (1, "HEADER\nunique one\nFOOTER"),
            (2, "HEADER\nunique two\nFOOTER"),
            (3, "HEADER\nunique three\nFOOTER"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    # first doc keeps everything; later docs lose the repeated lines
    assert out[1].text == "HEADER\nunique one\nFOOTER"
    assert out[2].text == "unique two"
    assert out[3].text == "unique three"
    assert (out[1].n_lines, out[1].n_kept) == (3, 3)
    assert (out[3].n_lines, out[3].n_kept) == (3, 1)


def test_line_dedup_all_duplicate_doc_becomes_empty(spark):
    df = spark.createDataFrame(
        [(1, "same\nsame again"), (2, "same\nsame again")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    assert out[1].text == "same\nsame again"
    assert out[2].text == ""
    assert out[2].n_kept == 0


def test_line_dedup_first_is_lowest_doc_then_lowest_pos(spark):
    # 'dup' appears twice in doc 5 (pos 0, 2) and once in doc 9:
    # only doc 5 pos 0 survives
    df = spark.createDataFrame(
        [(5, "dup\nmid\ndup"), (9, "dup\nother")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text for r in dedup.line_dedup(df).collect()}
    assert out[5] == "dup\nmid"
    assert out[9] == "other"


def test_line_dedup_short_lines_pass_through(spark):
    # lines under min_chars never dedup: empty separator lines survive
    # in every doc even though they repeat corpus-wide
    df = spark.createDataFrame(
        [(1, "a top\n\nbottom"), (2, "x\n\ny")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text for r in dedup.line_dedup(df).collect()}
    assert out[1] == "a top\n\nbottom"
    assert out[2] == "x\n\ny"


def test_line_dedup_custom_delimiter_and_min_chars(spark):
    df = spark.createDataFrame(
        [(1, "aa|b|cc"), (2, "aa|b|dd")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.text
        for r in dedup.line_dedup(df, delimiter="|", min_chars=2).collect()
    }
    # 'aa' dedups (len 2 >= min_chars); 'b' passes through everywhere
    assert out[1] == "aa|b|cc"
    assert out[2] == "b|dd"


def test_operators_track_and_release_caches(spark):
    """Operators that persist intermediates (line frame, LSH signatures)
    attach them to the returned lazy frame; release_caches unpersists
    after materialization — the per-micro-batch leak guard."""
    docs = spark.createDataFrame(
        [(1, "a\nb\nc"), (2, "a\nx\ny"), (3, "unique\nlines\nhere")],
        "doc_id long, text string",
    )
    out = dedup.line_dedup(docs)
    out.count()
    caches = out._graft_caches
    assert caches and all(c.is_cached for c in caches)
    dedup.release_caches(out)
    assert not any(c.is_cached for c in caches)
    assert out._graft_caches == ()

    pairs = dedup.minhash_lsh_pairs(docs)
    assert pairs._graft_caches and all(c.is_cached for c in pairs._graft_caches)
    dedup.release_caches(pairs)
    assert not any(c.is_cached for c in getattr(pairs, "_graft_caches", ()))


def test_dedupe_corpus_propagates_caches(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    out = dedup.dedupe_corpus(docs)
    out.count()
    assert out._graft_caches and all(c.is_cached for c in out._graft_caches)
    dedup.release_caches(out)
    assert not any(c.is_cached for c in getattr(out, "_graft_caches", ()))


def test_embedding_block_kernel_matches_expression_path(spark):
    """The BLAS-kernel blocked cosine pairs equal the expression-HOF
    baseline: identical pair sets per block and |Δcos| ≤ 1e-9 (numpy
    sums in a different order than the sequential fold — last-ulp
    differences only)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = emb.selectExpr("vec_id as id_a", "embedding as va", "label")
    b = emb.selectExpr("vec_id as id_b", "embedding as vb", "label")
    from datalake_public_spark.functions import vector as V

    expr_pairs = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(V.cosine("va", "vb"), 6))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    kern_pairs = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup.embedding_block_cosine_pairs(emb).collect()
    }
    assert set(expr_pairs) == set(kern_pairs)
    assert all(
        abs(expr_pairs[k] - kern_pairs[k]) <= 1e-9 for k in expr_pairs
    )
    assert len(expr_pairs) > 0


def test_embedding_block_kernel_tiling_invariant(spark):
    """Panel size must not change results (the tiled matmul covers the
    exact upper triangle for any chunk)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    full = sorted(
        map(tuple, dedup.embedding_block_cosine_pairs(emb, chunk=4096).collect())
    )
    tiny = sorted(
        map(tuple, dedup.embedding_block_cosine_pairs(emb, chunk=3).collect())
    )
    assert full == tiny


def test_fuzzy_join_id_band_equals_post_filter(spark):
    """The round-8 sweep-boundedness key: fuzzy_join_minhash(id_band=B)
    must emit exactly the pairs the unrestricted run post-filtered to
    same-band (on a corpus where no bucket exceeds max_bucket, the two
    are set-identical; at scale the keyed form only ever ADDS
    exact-verified pairs from previously-capped global buckets)."""
    B = 10_000_000
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    old = sorted(
        map(
            tuple,
            dedup.fuzzy_join_minhash(left, right, threshold=0.5)
            .filter(F.expr(f"left_id DIV {B}") == F.expr(f"right_id DIV {B}"))
            .collect(),
        )
    )
    new = sorted(
        map(
            tuple,
            dedup.fuzzy_join_minhash(
                left, right, threshold=0.5, id_band=B
            ).collect(),
        )
    )
    assert old == new and len(new) > 0


def test_minhash_signatures_filter_does_not_push_below_widening(spark):
    """Round-8 plan pin: the empty-doc filter on the kernel output must
    stay ABOVE the widening exchange — pushed down, the kernel expression
    substitutes into the predicate and evaluates on the narrow scan
    partitioning (measured 25.6 s vs 1.3 s at ×100). The rand() barrier
    makes the projection nondeterministic, blocking the pushdown; assert
    the optimized plan keeps the kernel out of every Filter node."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (
        dedup.minhash_signatures(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if line.strip().startswith("Filter"):
            assert "kernel(text" not in line, line[:200]
    assert "rand(" in plan  # the barrier survived optimization


def test_minhash_signatures_plan_text_is_reproducible(spark):
    """The barrier's rand() has a fixed seed, so two builds of the same
    signatures frame optimize to the same plan text (expression ids
    aside), and a plan diff between two commits shows only real
    changes."""
    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def plan():
        text = dedup.minhash_signatures(docs)._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    first = plan()
    assert "rand(" in first
    assert plan() == first


def test_shingle_kernel_matches_expression(spark):
    """The Arrow shingle kernel and the Catalyst expression form
    (tokens → shingles_from_tokens) emit the SAME shingle universe —
    the contract ngram_jaccard_pairs' round-8 kernel swap rests on
    (array order may differ: the kernel sorts, the expression keeps
    first-occurrence order; compare as sets). Fixture docs plus the
    edge shapes: empty text, < n tokens, repeated shingles, multiple
    consecutive spaces."""
    from datalake_public_spark.functions import text_funcs as T
    from datalake_public_spark.operators.dedup import (
        _shingle_strings_kernel,
    )

    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "one two"),
            (9003, "a b c a b c a b c"),
            (9004, "x  y   z  x  y"),
            (9005, "solo"),
        ],
        "doc_id long, text string",
    )
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .unionByName(edge)
    )
    kern = {
        r.doc_id: set(r.sh)
        for r in docs.select(
            "doc_id", _shingle_strings_kernel(3)(F.col("text")).alias("sh")
        ).collect()
    }
    expr = {
        r.doc_id: set(r.sh)
        for r in docs.select("doc_id", T.tokens("text").alias("__t"))
        .select(
            "doc_id", T.shingles_from_tokens("__t", 3).alias("sh")
        )
        .collect()
    }
    assert kern == expr
    assert kern[9001] == set() and kern[9005] == set()
    assert kern[9003] == {"a b c", "b c a", "c a b"}


def test_bitexact_blocked_cosine_equals_fold_on_fixture(spark):
    """embedding_block_cosine_pairs_bitexact is BIT-identical to the
    fold-expression formulation — pair sets and every cosine double —
    on the full embeddings fixture (the guarantee the round-8 sweep
    twin rests on; the plain BLAS kernel only pins |Δ| ≤ 1e-9)."""
    from datalake_public_spark.functions import vector as V

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = emb.selectExpr("vec_id as id_a", "embedding as va", "label")
    b = emb.selectExpr("vec_id as id_b", "embedding as vb", "label")
    fold = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(V.cosine("va", "vb"), 6))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    got = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup.embedding_block_cosine_pairs_bitexact(emb).collect()
    }
    assert got == fold and len(got) > 0


def test_bitexact_blocked_cosine_routes_boundary_pairs_through_fold(spark):
    """Crafted rounding-boundary cosines (the cases where the BLAS value
    and the fold value could round differently) must produce EXACTLY the
    fold formulation's output — they take the re-score path by
    construction. Covers: the threshold boundary 0.3499995, a mid-grid
    x.xxxxx5 boundary, solid pass/fail values, and a zero-norm vector
    (NULL cosine in the fold → dropped on both paths)."""
    import math

    from datalake_public_spark.functions import vector as V

    t1, t2 = 0.3499995, 0.7234565  # both within 1e-16 of a .5 grid line
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [t1, math.sqrt(1 - t1 * t1)], 0),  # cos(1,2) ≈ threshold edge
        (3, [t2, math.sqrt(1 - t2 * t2)], 0),  # cos(1,3) ≈ mid-grid edge
        (4, [0.9, math.sqrt(1 - 0.81)], 0),    # solid pass
        (5, [0.1, math.sqrt(1 - 0.01)], 0),    # solid fail
        (6, [0.0, 0.0], 0),                    # zero norm → dropped
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    a = emb.selectExpr("vec_id as id_a", "embedding as va", "label")
    b = emb.selectExpr("vec_id as id_b", "embedding as vb", "label")
    fold = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(V.cosine("va", "vb"), 6))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    got = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup.embedding_block_cosine_pairs_bitexact(emb).collect()
    }
    assert got == fold
    assert (0, 1, 4) in got and (0, 1, 5) not in got


def test_blocked_cosine_sweep_twin_matches_sql_and_is_subset(spark):
    """The scale-sweep's bounded cosine twin (VERDICT r4 item 3) must
    (a) agree exactly with its DuckDB SQL twin, checked with the sweep's
    other bounded entries in test_banded_sweep_twins_match_their_sql, and
    (b) emit a strict subset of the unbounded driver entry's pairs with
    identical scores."""
    from datalake_public_spark.driver_queries_llm import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_blocked,
    )

    sf = SF_SMOKE
    got = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup_embedding_cosine_blocked(4)(spark, sf).collect()
    }
    full = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup_embedding_cosine(spark, sf).collect()
    }
    assert len(got) > 0
    assert set(got) <= set(full)
    assert all(full[k] == v for k, v in got.items())


def test_lsh_banding_survives_boilerplate_skew_at_50k_docs(spark):
    """VERDICT r4 item 7 — the skew pathology proof: 90% of a 50k-doc
    corpus shares an identical 20-token boilerplate header, so band
    buckets whose signature minima all come from header shingles go
    degenerate (measured max bucket ≈ 12.7k ≫ the 200 cap). The
    hot-bucket cap must keep the pair expansion bounded while recall on
    the planted near-dup pairs survives: pair mates also share bands
    keyed off their UNIQUE content, which land in size-2 buckets the cap
    never touches. Profile: ~6s wall for the full pipeline at 50k docs
    on local[32] (NOTES_r5)."""
    from datalake_public_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    N = 50_000
    header = " ".join(f"h{i}" for i in range(20))
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % 10 != 9, F.lit(header)).otherwise(F.lit("")),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"u{k}_"),
                        F.when(
                            F.col("id") < 200,
                            (F.col("id") / 2).cast("long"),
                        )
                        .otherwise(F.col("id"))
                        .cast("string"),
                    )
                    for k in range(20)
                ],
            ),
            F.concat(F.lit("tail"), (F.col("id") % 2).cast("string")),
        ).alias("text"),
    ).persist()
    docs.count()
    try:
        # the pathological bucket must actually exist (else the corpus
        # does not exercise the guard): recompute band-bucket sizes from
        # the signatures and assert a bucket far beyond the cap
        sigs = minhash_signatures(docs)
        bands, num_perm = 16, 64
        r = num_perm // bands
        banded = sigs.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(F.slice("sig", b * r + 1, r)).alias("key"),
                    ),
                )
            ).alias("bk"),
        ).select("bk.band", "bk.key")
        mx = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        assert mx > 200 * 10, f"skew corpus failed to go degenerate: {mx}"

        got = {
            (p.id_a, p.id_b)
            for p in minhash_lsh_pairs(
                docs, threshold=0.5, max_bucket=200
            ).collect()
        }
        # planted near-dups where BOTH mates carry the header (a
        # header/no-header pair's true jaccard is legitimately < 0.5:
        # 2j+1 ≡ 9 mod 10 ⟺ j ≡ 4 mod 5 — those 20 pairs are excluded
        # by the THRESHOLD, not by banding)
        planted = {
            (2 * j, 2 * j + 1) for j in range(100) if j % 5 != 4
        }
        assert planted <= got, f"missed {sorted(planted - got)[:5]}"
        assert got == planted, f"false pairs: {sorted(got - planted)[:5]}"
    finally:
        docs.unpersist()


def test_banded_pair_restriction_equals_full_intersect_band(spark):
    """The sweep-time boundedness template (tools/scale_sweep.py): a
    banded pair run must equal the UNBOUNDED run restricted to
    same-band pairs — identical jaccard/hamming values on the covered
    pairs, nothing extra. Band 64 puts sf0.001's 500 doc ids in 8 bands
    so the restriction is non-trivial."""
    from datalake_public_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_clusters,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    band = 64
    for fn, val_col in (
        (lambda **kw: ngram_jaccard_pairs(docs, threshold=0.5, **kw), "jaccard"),
        (lambda **kw: simhash_clusters(docs, max_hamming=3, **kw), "hamming"),
    ):
        full = {
            (r.id_a, r.id_b): r[val_col] for r in fn().collect()
        }
        banded = {
            (r.id_a, r.id_b): r[val_col] for r in fn(band=band).collect()
        }
        want = {
            k: v for k, v in full.items() if k[0] // band == k[1] // band
        }
        assert banded == want
        assert 0 < len(banded) < len(full), (len(banded), len(full))


def test_banded_sweep_twins_match_their_sql(spark):
    """Every bounded entry of the scale sweep's own table, Spark side
    against its DuckDB SQL at a non-trivial band (sf0.001's 500 doc ids
    fall in 8 bands of 64) — so a stale import in the tool or a drift
    between a bounded body and its oracle fails here."""
    from tests.oracle_harness import compare, duck_connection
    from tools.scale_sweep import bounded_entries

    con = duck_connection(SF_SMOKE)
    bounded = bounded_entries(64, 4)
    assert set(bounded) == {
        "dedup_embedding_cosine",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_components",
    }
    for name, (spark_fn, sql, _note) in bounded.items():
        compare(spark_fn(spark, SF_SMOKE), con, sql, f"bounded_{name}")


def test_blocked_cosine_twin_decodes_negative_labels(spark, tmp_path):
    """ADVICE r8: the composite block key blk = label*B + pmod(vec_id,B)
    was decoded with plain ``blk DIV B``, which truncates toward zero and
    mis-decodes NEGATIVE labels (label=-1, B=4 → blk in [-4,0) decoded
    to 0, silently relabeling rows). The pmod-based decode
    ``(blk - pmod(blk,B)) DIV B`` is exact for any sign — pinned against
    the DuckDB twin, which never encodes and reads a.label directly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalake_public_spark.driver_queries_llm import (
        dedup_embedding_blocked_sql,
        dedup_embedding_cosine_blocked,
    )

    vecs = {
        -1: [1.0, 0.0, 0.0, 0.0],
        -3: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    for i, (label, v) in enumerate(sorted(vecs.items())):
        # two vec_ids per label, congruent mod B=4 so the pair stays
        # within one sub-block; identical vectors → cos 1.0 ≥ 0.35
        rows += [(i, label, v), (i + 4, label, v)]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    got = {
        (r.label, r.id_a, r.id_b): r.cos
        for r in dedup_embedding_cosine_blocked(4)(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = {
        (r[0], r[1], r[2]): r[3]
        for r in con.execute(dedup_embedding_blocked_sql(4)).fetchall()
    }
    assert got == want
    assert {k[0] for k in got} == {-3, -1, 2}, "negative labels relabeled"


@pytest.mark.parametrize("round_digits", [4, 5, 6, 7, 8])
def test_bitexact_blocked_cosine_hostile_boundary_windows(spark, round_digits):
    """VERDICT r8 item 8: the bit-exactness contract leans on the
    boundary window covering every half-up/half-even disagreement. Sweep
    round_digits 4-8 with cosines PLANTED at x.5·10^-d ± ε for ε at
    several points inside (0, ±0.3w) and outside (±3w, ±200w) the window
    (w = boundary_window·10^-d in value): the emitted pair set and every
    cosine double must equal the fold formulation at every corner, so a
    future window-narrowing "optimization" fails here instead of
    silently breaking the sweep twin's oracle."""
    import math

    from datalake_public_spark.functions import vector as V

    grid = 10.0 ** (-round_digits)
    w = 1e-2 * grid  # default boundary_window in value units
    planted = [1.0]  # the probe axis [1, 0] — cos(probe, v) == v[0]
    for base in (0.35 - 0.5 * grid, 0.72 + 0.5 * grid):
        for eps in (0.0, 0.3 * w, -0.3 * w, 3 * w, -3 * w, 200 * w, -200 * w):
            planted.append(base + eps)
    rows = [
        (i, [c, math.sqrt(max(0.0, 1.0 - c * c))], 0)
        for i, c in enumerate(planted)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    a = emb.selectExpr("vec_id as id_a", "embedding as va", "label")
    b = emb.selectExpr("vec_id as id_b", "embedding as vb", "label")
    fold = {
        (r.id_a, r.id_b): r.cos
        for r in a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(V.cosine("va", "vb"), round_digits))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.embedding_block_cosine_pairs_bitexact(
            emb, round_digits=round_digits
        ).collect()
    }
    assert got == fold
    # sanity: the threshold-edge plantings really straddle the cut —
    # some in, some out — so the equality above is not vacuous
    edge_pairs = {p for p in fold if p[0] == 0 and 1 <= p[1] <= 7}
    assert 0 < len(edge_pairs) < 7, "edge plantings did not straddle"


def test_blocked_cosine_oracle_cte_bitequal_to_inline_fold_sql():
    """The oracle twin's CTE form (round 9: per-vector norms hoisted,
    cosine evaluated once — 10.3× on a cache-miss DuckDB oracle) must
    stay BIT-equal to the naive inline ``V.cosine_sql`` formulation it
    replaced: hoisting is pure common-subexpression reuse, so any
    divergence means someone changed the element math, not the layout."""
    import duckdb

    from datalake_public_spark.driver_queries_llm import (
        dedup_embedding_blocked_sql,
    )
    from datalake_public_spark.functions.vector import cosine_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    inline = f"""
SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id % 4 = b.vec_id % 4
 AND a.vec_id < b.vec_id
WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
"""
    order = "ORDER BY label, id_a, id_b"
    want = con.execute(f"SELECT * FROM ({inline}) i {order}").fetchall()
    got = con.execute(
        f"SELECT * FROM ({dedup_embedding_blocked_sql(4)}) c {order}"
    ).fetchall()
    assert len(want) > 0
    assert got == want  # tuple equality on raw doubles — bit-level


def _pair_rows(df):
    cols = df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_via_reps_pairs_equal_direct_kernel(spark):
    """``ngram_jaccard_pairs_via_reps`` must produce the exact pair set
    (ids AND jaccard values) of the direct inverted-index kernel on a
    hostile corpus: exact-dup groups with non-adjacent ids, shingle-less
    (< n tokens) duplicates that must NOT pair, near-dups across groups,
    and a disconnected doc — with and without banding."""
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),   # exact dup of 1
        (7, "the quick brown fox jumps"),   # exact dup of 1, far id
        (3, "the quick brown fox leaps"),   # near-dup of the group
        (8, "the quick brown fox leaps"),   # exact dup of 3
        (4, "xy"),                          # < n tokens: no shingles
        (5, "xy"),                          # shingle-less exact dup: NO pair
        (6, "completely different words here altogether"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for band in (None, 4):
        want = _pair_rows(
            dedup.ngram_jaccard_pairs(docs, threshold=0.5, band=band)
        )
        got = _pair_rows(
            dedup.ngram_jaccard_pairs_via_reps(docs, threshold=0.5, band=band)
        )
        assert got == want, f"band={band}: {got} != {want}"
        # the scenario is non-vacuous: pairs exist, and the shingle-less
        # dup group contributes none
        assert len(want) > 0
        assert not any(a in (4, 5) or b in (4, 5) for a, b, _ in want)


def test_via_reps_accepts_precomputed_frames(spark):
    """The entries share groups/reps/rep_pairs with their survivor
    branch — supplying them must yield the same pairs as recomputing,
    and a rep_pairs without a jaccard column drops it from the output."""
    rows = [
        (1, "alpha beta gamma delta"),
        (9, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "unrelated text entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    groups = dedup.exact_dedup(docs)
    reps = docs.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    rep_pairs = dedup.ngram_jaccard_pairs(reps, threshold=0.5).select(
        "id_a", "id_b"
    )
    got = dedup.ngram_jaccard_pairs_via_reps(
        docs, threshold=0.5, groups=groups, reps=reps, rep_pairs=rep_pairs
    )
    assert got.columns == ["id_a", "id_b"]
    want = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert {(r.id_a, r.id_b) for r in got.collect()} == want
    assert len(want) > 0


def test_via_reps_rejects_malformed_rep_pairs(spark):
    """ADVICE r10: a caller-supplied rep_pairs with the wrong column
    shape (a banded generator's extra column, a renamed frame) must fail
    loudly instead of silently producing a wrong pair set."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    bad = spark.createDataFrame(
        [(1, 2, 0)], "id_a long, id_b long, bd long"
    )
    with pytest.raises(ValueError, match="rep_pairs"):
        dedup.ngram_jaccard_pairs_via_reps(docs, rep_pairs=bad)
    with pytest.raises(ValueError, match="rep_pairs"):
        dedup.simhash_clusters_via_reps(docs, rep_pairs=bad)


def test_simhash_via_reps_pairs_equal_direct_kernel(spark):
    """``simhash_clusters_via_reps`` must produce the exact
    (id_a, id_b, hamming) set of the direct half-key kernel on a hostile
    corpus: exact-dup groups with non-adjacent ids (which lift
    UNconditionally at hamming 0 — no shingle-gate here, unlike the
    Jaccard lift), short texts, near-dups, and a loner — with and
    without banding."""
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),   # exact dup of 1
        (7, "the quick brown fox jumps"),   # exact dup of 1, far id
        (3, "the quick brown fox leaps"),   # near text (may or may not pair)
        (8, "the quick brown fox leaps"),   # exact dup of 3
        (4, "xy"),                          # short text
        (5, "xy"),                          # short exact dup: MUST pair (h=0)
        (6, "completely different words here altogether"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for band in (None, 4):
        want = _pair_rows(dedup.simhash_clusters(docs, max_hamming=3, band=band))
        got = _pair_rows(
            dedup.simhash_clusters_via_reps(docs, max_hamming=3, band=band)
        )
        assert got == want, f"band={band}: {got} != {want}"
        assert len(want) > 0
    # non-vacuity: the short exact-dup group DOES pair under simhash
    # (the contract divergence from the Jaccard lift's shingle gate)
    unbanded = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_clusters_via_reps(docs, max_hamming=3).collect()
    }
    assert (4, 5) in unbanded


def _fuzzy_pairs(fn, left, right, **kw):
    out = fn(left, right, threshold=0.5, **kw)
    got = sorted((r.left_id, r.right_id, r.jaccard) for r in out.collect())
    dedup.release_caches(out)
    return got


def test_fuzzy_join_via_reps_equals_direct_crafted(spark):
    """Round 12: the cross-table dedup-first lift must reproduce the
    direct fuzzy_join_minhash's EXACT (left_id, right_id, jaccard) set
    on a hostile corpus — exact-dup groups within each side, identical
    texts ACROSS sides, shingle-less (< n tokens) duplicates, and
    non-sequential ids — with and without the id_band boundedness key."""
    s1 = "the quick brown fox jumps over the lazy dog near the river bank"
    s2 = "machine learning models require large clean corpora with diverse sources"
    s3 = s1.replace("river", "canal")
    short = "too short"  # shingle-less at n=3: never pairs, even with itself
    left = spark.createDataFrame(
        [(2, s1), (8, s1), (14, s2), (20, short), (26, short), (32, s3)],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(3, s1), (9, s1), (15, s3), (21, short), (27, s2), (33, s2)],
        "doc_id long, text string",
    )
    for id_band in (None, 7):
        want = _fuzzy_pairs(
            dedup.fuzzy_join_minhash, left, right, id_band=id_band
        )
        got = _fuzzy_pairs(
            dedup.fuzzy_join_minhash_via_reps, left, right, id_band=id_band
        )
        assert got == want, f"id_band={id_band}"
        if id_band is None:
            # sanity: the cross-side exact-copy pairs are actually found
            assert {(g[0], g[1]) for g in got} >= {(2, 3), (8, 9), (2, 9)}


def test_fuzzy_join_via_reps_reproduces_bucket_cap(spark):
    """The ONE stage of the direct operator that counts DOCS rather than
    texts is the max_bucket cap. The lift reproduces it by weighting rep
    bucket rows with copy counts — so a bucket pushed over the cap BY
    COPIES must drop in both formulations (a rep-level count would keep
    it), and raising the cap must re-admit the same pairs in both."""
    s1 = "the quick brown fox jumps over the lazy dog near the river bank"
    # left: 5 copies of s1 → every s1 bucket holds 5 left docs
    left = spark.createDataFrame(
        [(i, s1) for i in range(5)], "doc_id long, text string"
    )
    right = spark.createDataFrame([(100, s1)], "doc_id long, text string")
    for cap in (3, 5):
        want = _fuzzy_pairs(
            dedup.fuzzy_join_minhash, left, right, max_bucket=cap
        )
        got = _fuzzy_pairs(
            dedup.fuzzy_join_minhash_via_reps, left, right, max_bucket=cap
        )
        assert got == want, f"max_bucket={cap}"
    # and the cap genuinely bound: 3 drops everything, 5 admits the clique
    assert _fuzzy_pairs(dedup.fuzzy_join_minhash_via_reps, left, right, max_bucket=3) == []
    assert len(_fuzzy_pairs(dedup.fuzzy_join_minhash_via_reps, left, right, max_bucket=5)) == 5


def test_fuzzy_join_via_reps_equals_direct_sf_smoke(spark, docs):
    """Corpus-scale pin on the driver entry's exact shape: the even/odd
    halves of the smoke documents table, both unbanded and with the
    sweep's id_band key."""
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    for id_band in (None, 10_000_000):
        want = _fuzzy_pairs(
            dedup.fuzzy_join_minhash, left, right, id_band=id_band
        )
        got = _fuzzy_pairs(
            dedup.fuzzy_join_minhash_via_reps, left, right, id_band=id_band
        )
        assert got == want and len(got) > 0, f"id_band={id_band}"
