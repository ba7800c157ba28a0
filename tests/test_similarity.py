"""Similarity-search tests: brute-force correctness on crafted vectors,
LSH candidate pruning + recall floor against the exact baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.operators import similarity
from tests.conftest import SF_SMOKE
from tests.similarity_spec import brute_force_topk_expr


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_brute_force_exact_neighbors(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(
        df.filter(F.col("vec_id") == 0), df, k=3
    ).collect()
    assert [r.match_id for r in sorted(out, key=lambda r: r.rk)] == [1, 2, 3]


def test_brute_force_kernel_equals_expression(spark, emb):
    """The round-13 Arrow scoring kernel must be BYTE-identical to the
    Catalyst expression form — cos values included (the kernel
    accumulates per dimension in the expression fold's exact IEEE
    operation order; round + ranking stay in the JVM)."""
    queries = emb.filter(F.col("vec_id") < 8)
    kern = similarity.brute_force_topk(queries, emb, k=10).collect()
    expr = brute_force_topk_expr(queries, emb, k=10).collect()
    assert sorted(map(tuple, kern)) == sorted(map(tuple, expr))


def test_brute_force_kernel_restores_callers_job_description(spark):
    """The Arrow path's labelled query-side collect puts the caller's job
    description back instead of clearing it."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    sc = spark.sparkContext
    sc.setJobDescription("outer phase")
    try:
        similarity.brute_force_topk(df, df, k=1)
        assert sc.getLocalProperty("spark.job.description") == "outer phase"
    finally:
        sc.setJobDescription(None)


def test_brute_force_kernel_zero_norm_and_ties(spark):
    """Edge semantics pinned: zero-norm corpus vectors score NULL and
    order last; exact ties break by ascending match_id — identical
    between kernel and expression forms."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.5, 0.0]),   # cos 1.0 with query 0 (tie with 4)
        (2, [0.0, 0.0]),   # zero norm → null cos
        (3, [-1.0, 0.0]),
        (4, [2.0, 0.0]),   # cos 1.0 with query 0 (tie with 1)
        (5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(0, 2))  # incl. a zero-norm QUERY
    kern = similarity.brute_force_topk(q, df, k=6).collect()
    expr = brute_force_topk_expr(q, df, k=6).collect()
    assert sorted(map(tuple, kern)) == sorted(map(tuple, expr))
    by_rk = {r.rk: r for r in kern if r.query_id == 0}
    assert (by_rk[1].match_id, by_rk[2].match_id) == (1, 4)  # tie → id asc
    nulls = [r for r in kern if r.query_id == 0 and r.cos is None]
    # 5 non-self matches for query 0; the zero-norm one is null and LAST
    assert {r.match_id for r in nulls} == {2} and by_rk[5].match_id == 2


def test_brute_force_kernel_null_vectors_and_ids(spark):
    """Round-14 ADVICE fixes pinned: NULL embeddings score NULL cos
    (kernel used to crash in np.array), NULL match_ids are dropped by
    the join-condition semantics (None != qid is True in Python but the
    SQL `query_id != match_id` is NULL → false), and a NULL query_id
    emits no rows — all identical between kernel and expression forms."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.5, 0.1]),
        (2, None),          # null corpus embedding → null cos, kept
        (None, [9.0, 9.0]), # null match_id → dropped from every query
        (4, [0.3, 0.4]),
        (5, None),          # second null embedding
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q_rows = [(0, [1.0, 0.0]), (4, None), (None, [1.0, 1.0])]
    q = spark.createDataFrame(q_rows, "vec_id long, embedding array<double>")
    kern = similarity.brute_force_topk(q, df, k=6).collect()
    expr = brute_force_topk_expr(q, df, k=6).collect()
    assert sorted(map(tuple, kern)) == sorted(map(tuple, expr))
    # null query_id emitted nothing; null-embedding query 4 emits all
    # non-self non-null-id rows with null cos
    assert {r.query_id for r in kern} == {0, 4}
    q4 = [r for r in kern if r.query_id == 4]
    assert all(r.cos is None for r in q4)
    assert {r.match_id for r in q4} == {0, 1, 2, 5}
    # null corpus embeddings present for query 0 with null cos, last
    q0_nulls = [r for r in kern if r.query_id == 0 and r.cos is None]
    assert {r.match_id for r in q0_nulls} == {2, 5}


def _bad_kwargs(msg: str) -> set[str]:
    """``name=`` spellings in an error message that are not parameters of
    ``brute_force_topk``."""
    import inspect
    import re

    params = set(inspect.signature(similarity.brute_force_topk).parameters)
    return set(re.findall(r"([A-Za-z_]\w*)=", msg)) - params


def test_brute_force_rejects_ragged_vectors(spark):
    """Ragged corpus vectors raise a ValueError that says so and names no
    parameter the function does not take; so do ragged query vectors."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5, 0.5]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match="ragged") as ei:
        similarity.brute_force_topk(q, df, k=2).collect()
    assert not _bad_kwargs(str(ei.value))
    with pytest.raises(ValueError, match="ragged") as ei:
        similarity.brute_force_topk(df, df, k=2)
    assert not _bad_kwargs(str(ei.value))


def test_brute_force_broadcasts_a_large_query_side(spark):
    """A query matrix over the closure cap ships as a broadcast, scores
    like the expression form, and hands the broadcast to the caller."""
    n, dim = 2100, 64  # 2100 x 64 doubles > 1 MiB
    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") < 40)
    out = similarity.brute_force_topk(df, corpus, k=2)
    assert len(out._graft_caches) == 1
    expr = brute_force_topk_expr(df, corpus, k=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expr.collect()))
    out._graft_caches[0].unpersist()


def test_lsh_recall_floor(spark, emb):
    """ANN must beat random-candidate recall by a wide margin on random
    data (multiprobe signbit buckets at 8 planes ≈ 3.5% candidates)."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(queries, emb, k=10)
    approx = similarity.lsh_topk(queries, emb, k=10, n_planes=8, dim=64)
    recall = similarity.recall_at_k(approx, exact, k=10)
    # random candidate sets of the same size would land ≈0.035
    assert recall >= 0.25, f"recall@10 = {recall:.3f}"


def test_lsh_is_deterministic(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    a = similarity.lsh_topk(queries, emb, k=5).collect()
    b = similarity.lsh_topk(queries, emb, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_recall_floor(spark, emb):
    """IVF probes 4/16 cells (25% scan fraction) — recall must clear the
    random-candidate baseline by a wide margin."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.brute_force_topk(queries, emb, k=10)
    approx = similarity.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=4)
    recall = similarity.recall_at_k(approx, exact, k=10)
    assert recall >= 0.4, f"recall@10 = {recall:.3f}"


def test_ivf_is_deterministic(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    a = similarity.ivf_topk(queries, emb, k=5).collect()
    b = similarity.ivf_topk(queries, emb, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_over_an_empty_corpus_returns_no_rows(spark, emb):
    """No training vectors give an index of zero cells: queries probe no
    cell, so the result is empty with the usual schema (IVF training
    raised a numpy AxisError)."""
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(queries, emb.limit(0), k=5)
    assert out.columns == ["query_id", "match_id", "cos", "rk"]
    assert out.collect() == []


def test_int8_quantization_roundtrip_and_recall(spark, emb):
    """int8 symmetric quantization: components bounded to [-127,127],
    reconstruction error per component ≤ scale/2, and cosine top-10 over
    dequantized vectors keeps recall ≥ 0.8 vs the exact baseline (the
    driver row's contract; measured 0.96-1.0)."""
    from pyspark.sql import functions as F

    from datalake_public_spark.operators.similarity import (
        brute_force_topk,
        dequantize_col,
        quantize_embeddings,
    )

    quant = quantize_embeddings(emb)
    bounds = quant.select(
        F.max(F.aggregate(
            F.col("qvec").cast("array<int>"), F.lit(0),
            lambda acc, x: F.greatest(acc, F.abs(x)))).alias("max_q"),
    ).collect()[0]
    assert bounds.max_q <= 127
    # reconstruction error bound: |x - q*scale| <= scale/2 per component
    joined = emb.join(quant, "vec_id").select(
        F.max(F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                dequantize_col("qvec", "scale"),
                lambda x, y: F.abs(x - y) - F.col("scale") / 2,
            ),
            F.lit(-1.0),
            lambda acc, v: F.greatest(acc, v),
        )).alias("worst"),
    ).collect()[0]
    assert joined.worst <= 1e-9

    deq = quant.select("vec_id", dequantize_col("qvec", "scale").alias("embedding"))
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 8), emb, k=10)
    approx = brute_force_topk(deq.filter(F.col("vec_id") < 8), deq, k=10)
    assert similarity.recall_at_k(approx, exact, k=10) >= 0.8


# -- persistent IVF index --------------------------------------------------


def test_prebuilt_ivf_equals_inline_ivf(spark, tmp_path):
    from datalake_public_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_prebuilt,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, n_cells=8)
    pre = ivf_topk_prebuilt(queries, emb, root, k=5, n_probe=3).collect()
    inline = ivf_topk(queries, emb, k=5, n_cells=8, n_probe=3).collect()
    key = lambda rows: sorted((r.query_id, r.match_id, r.cos, r.rk) for r in rows)
    assert key(pre) == key(inline)


def test_extend_ivf_index_assigns_only_new(spark, tmp_path):
    from datalake_public_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        ivf_topk_prebuilt,
    )
    from datalake_public_spark.sinks.table import ManifestTable

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 150)
    new = emb.filter(F.col("vec_id") >= 150)
    root = str(tmp_path / "ivf")
    build_ivf_index(old, root, n_cells=8)
    extend_ivf_index(new, root, "b1")
    assigns = ManifestTable(f"{root}/assignments").read(spark)
    assert assigns.count() == emb.count()
    # replay of the same tag is a no-op
    assert extend_ivf_index(new, root, "b1") is None
    assert ManifestTable(f"{root}/assignments").read(spark).count() == emb.count()
    # the extended index serves queries over the full corpus
    q = emb.filter(F.col("vec_id") < 4)
    out = ivf_topk_prebuilt(q, emb, root, k=5, n_probe=8)
    assert out.groupBy("query_id").count().count() == 4
