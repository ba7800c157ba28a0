"""Similarity search over embedding columns.

Two paths:
  * brute-force top-k — the exact baseline: queries × corpus cross join,
    codegen cosine, per-query top-k. O(|Q|·N); right answer, used as the
    oracle and for small query sets.
  * random-hyperplane LSH top-k — the scale path: hash every vector to a
    signbit bucket; candidates = corpus rows sharing the query's bucket
    (optionally within Hamming ≤ 1 via multi-probe); exact cosine re-rank
    inside the bucket. At 100 TB this turns a full-corpus scan per query
    into a bucket-local lookup; recall is tuned by n_planes/probes.

Hyperplanes are generated from a fixed seed on the driver and shipped as a
literal array column — deterministic, no RNG inside executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_public_spark.functions import vector as V
from datalake_public_spark.session import phase
from datalake_public_spark.sources.readers import widen_for_compute

#: query matrices at or below this ship inside the task closure (no
#: broadcast block to leak); larger ones broadcast + attach for release
_BQ_CLOSURE_BYTES = 1 << 20


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    use_arrow: bool = True,
    max_query_mb: int = 64,
) -> DataFrame:
    """Exact cosine top-k per query. Ties broken by corpus id (total order
    → engine-portable results). The query side is broadcast — at any scale
    the query set is small relative to the corpus, so the corpus never
    shuffles.

    ``use_arrow`` (default, round 13): the per-pair cosine runs in a
    ``mapInPandas`` kernel that reproduces the Catalyst expression's
    float math BIT-EXACTLY — the zip_with/aggregate fold is a sequential
    left-to-right double accumulation, so the kernel accumulates
    dimension-by-dimension across the whole batch (``acc += M[:,j] *
    Q[q,j]``: per element the identical IEEE operation sequence) instead
    of calling a reordered BLAS dot. Rounding and the ranking window stay
    in the JVM, so values, null semantics (zero-norm OR null vector →
    null cos, ordered last; null ids dropped by the join condition) and
    tie-breaks are identical to the expression form (``use_arrow=False``
    — kept as the reviewable spec; equality pinned in
    tests/test_similarity.py, including null-vector/null-id rows).
    Interpreted HOF cosine was the ×1000 rung's cost in similarity_topk
    (guide §4.2: hand batches to vectorized native code).

    EAGER-COLLECT CONTRACT (round 14): the Arrow path materializes the
    query side (one labelled Spark job + a ≤``max_query_mb`` driver
    matrix) at plan-CONSTRUCTION time, not first action. This is
    structural, not an oversight: PySpark pickles a ``mapInPandas``
    closure when the plan node is built (``UserDefinedFunction._judf →
    _wrap_function → CloudPickleSerializer.dumps`` runs inside the
    ``mapInPandas`` call itself), so there is no later point at which
    driver state can enter the kernel; the lazy alternatives were
    evaluated and rejected (cogroup re-shuffles the corpus — the cost
    this operator exists to avoid; a JVM cross-attach duplicates the
    query matrix into every corpus ROW of the Arrow stream). Callers
    needing a fully lazy plan use ``use_arrow=False``. The query matrix
    ships in the task closure when small; above ``_BQ_CLOSURE_BYTES`` it
    is broadcast, and the broadcast handle is attached to the result for
    ``operators.dedup.release_caches`` (no per-call executor leak —
    one-shot callers may skip release, the broadcast dies with the
    session).

    Ragged corpus vectors raise a descriptive ValueError (the expression
    form computes a null dot for them — use ``use_arrow=False`` if such
    malformed rows must survive)."""
    from pyspark.sql import Window

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = widen_for_compute(corpus).select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv")
    )
    bq = None
    if not use_arrow:
        scored = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("match_id"))
            .withColumn("cos", F.round(V.cosine("qv", "cv"), 6))
        )
    else:
        # eager by contract (see docstring), so its job is labelled
        with phase(c.sparkSession, "brute_force_topk", "query_collect"):
            rows = q.collect()
        # Expression-form null algebra, reproduced exactly:
        #   * null query_id never satisfies `query_id != match_id` →
        #     that query emits no rows at all;
        #   * null qv scores null cos against every corpus row (V.cosine
        #     null contract) — kept, routed around the matrix math.
        null_vec_qids = [
            r["query_id"]
            for r in rows
            if r["query_id"] is not None and r["qv"] is None
        ]
        valid = [
            r for r in rows if r["query_id"] is not None and r["qv"] is not None
        ]
        Q = np.array([np.asarray(r["qv"], dtype=np.float64) for r in valid])
        if Q.size and Q.ndim != 2:
            raise ValueError(
                "brute_force_topk kernel requires uniform query vector "
                "dims — use use_arrow=False for ragged data"
            )
        if Q.size and Q.nbytes > max_query_mb << 20:
            raise ValueError(
                f"query matrix {Q.nbytes >> 20} MB exceeds max_query_mb="
                f"{max_query_mb}; the brute-force kernel broadcasts the "
                "query side — chunk the query set or raise the cap"
            )
        qids = [r["query_id"] for r in valid]
        # query norms, same sequential fold as V.norm: acc + v*v, then sqrt
        qn = np.zeros(len(valid))
        for j in range(Q.shape[1] if Q.ndim == 2 else 0):
            qn += Q[:, j] * Q[:, j]
        qn = np.sqrt(qn)
        payload = (qids, Q, qn, null_vec_qids)
        if Q.nbytes <= _BQ_CLOSURE_BYTES:
            # small query side: ship in the task closure — no broadcast
            # block to leak across repeated calls
            def _state(p=payload):
                return p
        else:
            bq = sc.broadcast(payload)

            def _state(b=bq):
                return b.value
        qid_type = q.schema["query_id"].dataType.simpleString()
        mid_type = c.schema["match_id"].dataType.simpleString()

        def score(it):
            qids_, Q_, qn_, null_q = _state()
            nq = len(qids_)
            dim = Q_.shape[1] if Q_.ndim == 2 else 0
            for pdf in it:
                if not len(pdf) or (not nq and not null_q):
                    continue
                cv = pdf["cv"]
                cv_valid = cv.notna().to_numpy(dtype=bool)
                # null match_id never satisfies `query_id != match_id`
                mid = pdf["match_id"]
                mid_valid = mid.notna().to_numpy(dtype=bool)
                ids = mid.to_numpy()
                n_rows = len(pdf)
                cos = np.full((n_rows, nq), np.nan)
                denom = np.zeros((n_rows, nq))
                if nq and cv_valid.any():
                    M = np.array(
                        [np.asarray(v, dtype=np.float64) for v in cv[cv_valid]]
                    )
                    if M.ndim != 2 or M.shape[1] != dim:
                        raise ValueError(
                            "brute_force_topk kernel requires uniform "
                            f"vector dims; corpus batch {M.shape} vs "
                            f"queries {Q_.shape} — use use_arrow=False "
                            "for ragged data"
                        )
                    # sequential per-dimension accumulation == the
                    # Catalyst fold's operation order, element for element
                    acc = np.zeros((len(M), nq))
                    cn = np.zeros(len(M))
                    for j in range(dim):
                        col = M[:, j]
                        acc += col[:, None] * Q_[:, j][None, :]
                        cn += col * col
                    cn = np.sqrt(cn)
                    dsub = cn[:, None] * qn_[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        csub = acc / dsub
                    cos[cv_valid] = csub
                    denom[cv_valid] = dsub
                out_q, out_m, out_c = [], [], []
                for qi in range(nq):
                    mask = mid_valid & (mid != qids_[qi]).to_numpy(dtype=bool)
                    ok = denom[:, qi] > 0
                    vals = np.where(ok, cos[:, qi], np.nan)
                    out_q.append(np.full(int(mask.sum()), qids_[qi], dtype=object))
                    out_m.append(ids[mask])
                    out_c.append(vals[mask])
                for nqid in null_q:
                    # null query vector: null cos for every joined row
                    mask = mid_valid & (mid != nqid).to_numpy(dtype=bool)
                    out_q.append(np.full(int(mask.sum()), nqid, dtype=object))
                    out_m.append(ids[mask])
                    out_c.append(np.full(int(mask.sum()), np.nan))
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q)
                        if out_q
                        else np.empty(0, dtype=object),
                        "match_id": np.concatenate(out_m)
                        if out_m
                        else np.empty(0, dtype=object),
                        "cos": np.concatenate(out_c)
                        if out_c
                        else np.empty(0, dtype=np.float64),
                    }
                )

        scored = c.mapInPandas(
            score,
            schema=f"query_id {qid_type}, match_id {mid_type}, cos double",
        ).withColumn("cos", F.round(F.col("cos"), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )
    if bq is not None:
        # release discipline: Broadcast.unpersist() is duck-compatible
        # with the cached-DataFrame handles release_caches expects
        out._graft_caches = (bq,)
    return out


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def signbit_bucket(vec_col, planes: list[list[float]]):
    """Bucket id = sign bits of <v, plane_p> for each hyperplane.
    Expression form (interpreted higher-order funcs) — kept for single-
    table uses and as the readable spec; ``_bucket_udf`` is the
    vectorized multi-table kernel ``lsh_topk`` uses."""
    bits = []
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        proj = F.aggregate(
            F.zip_with(V.as_double(vec_col), lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1) * (2**p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _bucket_udf(n_tables: int, n_planes: int, dim: int, seed: int):
    """All-tables bucket kernel: one (batch × dim) · (dim × T·P) matmul
    per Arrow batch, then sign-bit packing → array of T bucket ids per
    row. Replaces T·P interpreted aggregate/zip_with expressions
    (measured ~10× slower) with a single BLAS call; same buckets as
    ``signbit_bucket`` over the same ``_hyperplanes`` seeds."""
    cols = []
    for t in range(n_tables):
        for plane in _hyperplanes(n_planes, dim, seed + 1000 * t):
            cols.append(plane)
    P = np.array(cols, dtype=np.float64).T  # (dim, T·P)
    weights = np.tile(np.array([1 << p for p in range(n_planes)], dtype=np.int64), n_tables)

    @F.pandas_udf("array<int>")
    def kernel(vecs: pd.Series) -> pd.Series:
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if M.size == 0:
            return pd.Series([])
        bits = (M @ P >= 0).astype(np.int64) * weights[None, :]  # (B, T·P)
        buckets = bits.reshape(len(M), n_tables, n_planes).sum(axis=2).astype(np.int32)
        return pd.Series(list(buckets))

    return kernel


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    max_query_mb: int = 64,
) -> DataFrame:
    """Exact cosine top-k over a candidate pair set — the shared re-rank
    stage of ``lsh_topk``/``ivf_topk``, vectorized.

    Shape: the query matrix is collected (bounded — the query side is
    small relative to the corpus by contract; ``max_query_mb`` enforces
    it) and BROADCAST; candidates join corpus vectors once on
    ``match_id``; a ``mapInPandas`` kernel gathers each pair's query row
    from the broadcast matrix and scores the whole Arrow batch with one
    einsum — so query vectors never fan out through a shuffle and no
    per-pair interpreted HOF runs. The final top-k window shuffles only
    (query_id, match_id, cos) scalars. Measured at 500 queries × 100k
    vectors: 19.7s → ~7s for the LSH path (NOTES_r3).

    Zero-norm vectors score null, ordered last — same contract as the
    expression formulation (``V.cosine``)."""
    from pyspark.sql import Window

    rows = queries.select(id_col, vec_col).collect()
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    if Q.size and Q.nbytes > max_query_mb << 20:
        raise ValueError(
            f"query matrix {Q.nbytes >> 20} MB exceeds max_query_mb="
            f"{max_query_mb}; the re-rank broadcasts the query side — "
            "chunk the query set or raise the cap"
        )
    qmap = {int(r[0]): i for i, r in enumerate(rows)}
    qnorm = np.linalg.norm(Q, axis=1) if Q.size else np.zeros(0)
    bq = cand.sparkSession.sparkContext.broadcast((qmap, Q, qnorm))

    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv"))
    joined = cand.join(cv, "match_id")

    def score(it):
        qmap_, Q_, qn_ = bq.value
        for pdf in it:
            if not len(pdf):
                continue
            M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
            idx = pdf["query_id"].map(qmap_).to_numpy(dtype=np.int64)
            denom = qn_[idx] * np.linalg.norm(M, axis=1)
            valid = denom > 0
            cos = np.round(
                np.einsum("ij,ij->i", Q_[idx], M) / np.where(valid, denom, 1.0), 6
            )
            cos_out = pd.array(cos, dtype="Float64")
            cos_out[~valid] = pd.NA  # null (not NaN) — V.cosine contract
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "match_id": pdf["match_id"].to_numpy(dtype=np.int64),
                    "cos": cos_out,
                }
            )

    scored = joined.mapInPandas(score, "query_id long, match_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    rerank: str = "kernel",
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent signbit hash tables;
    candidates = union over tables of corpus rows sharing the query's
    bucket (plus Hamming-1 neighbor buckets when ``multiprobe``); exact
    cosine re-rank of the distinct candidate set.

    Per-table candidate fraction ≈ (1+n_planes)/2^n_planes with multiprobe
    (~3.5% at 8 planes); tables multiply recall ≈ 1-(1-p)^T while the
    exact re-rank keeps precision. Scale: the candidate join shuffles only
    (table, bucket, id) triples — vectors are re-joined by id afterwards,
    so wide embedding arrays never fan out across tables.

    ``rerank='kernel'`` (default) scores candidates with the broadcast-
    query einsum kernel (``exact_rerank`` — 2.8× at 500q×100k, NOTES_r3);
    ``rerank='expr'`` keeps the pure-Catalyst expression formulation (no
    query-side collect, for callers whose query frame is itself large)."""
    from pyspark.sql import Window

    kernel = _bucket_udf(n_tables, n_planes, dim, seed)

    corpus = widen_for_compute(corpus)
    c_ids = corpus.select(
        F.col(id_col).alias("match_id"),
        F.posexplode(kernel(F.col(vec_col))).alias("tbl", "bucket"),
    )
    q_ids = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(kernel(F.col(vec_col))).alias("tbl", "bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("int") for p in range(n_planes)],
        )
        q_ids = q_ids.select("query_id", "tbl", F.explode(probes).alias("bucket"))
    cand = (
        c_ids.join(F.broadcast(q_ids), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
    )
    if rerank == "kernel":
        return exact_rerank(
            cand, queries, corpus, vec_col=vec_col, id_col=id_col, k=k
        )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .withColumn("cos", F.round(V.cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )


def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x|/127,
    components round half-up to [-127, 127] (``array<tinyint>`` — 4-8×
    less vector IO than float32/64, THE storage/scan lever for
    100 TB-class embedding columns). Pure Catalyst expressions, so
    quantization runs at scan speed; cosine top-k over dequantized
    vectors preserves recall (contract checked in the driver's
    similarity_ann row and pinned in tests/test_similarity.py).

    Returns (id, qvec array<tinyint>, scale double); reconstruct with
    ``dequantize_col``. All-zero vectors get scale 0 and qvec of zeros.

    Two-stage projection on purpose: the max|x| aggregate is an
    interpreted HOF with no codegen CSE, so referencing it inside the
    per-element transform lambda would re-run the full-vector aggregate
    per component (O(dim²) per vector — review finding r3). Stage 1
    computes ``scale`` once under a name; stage 2's lambda references
    the named column."""
    v = V.as_double(vec_col)
    max_abs = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    staged = emb.select(
        F.col(id_col),
        v.alias("_v"),
        (max_abs / F.lit(127.0)).alias("scale"),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.round(x / F.col("scale"), 0).cast("int"))
        .cast("tinyint"),
    )
    return staged.select(F.col(id_col), q.alias("qvec"), "scale")


def dequantize_col(qvec, scale):
    """array<tinyint> + scale → array<double> (qvec[i] * scale)."""
    s = F.col(scale) if isinstance(scale, str) else scale
    return F.transform(
        (F.col(qvec) if isinstance(qvec, str) else qvec).cast("array<double>"),
        lambda x: x * s,
    )


def _train_centroids_numpy(
    vectors: list, n_cells: int, iters: int, seed: int
) -> "np.ndarray":
    """Deterministic Lloyd iterations on L2-normalized vectors (spherical
    k-means). Training happens driver-side on a bounded sample — the same
    regime IVF indexes use at any corpus scale; only assignment is
    distributed. An empty sample gives zero centroids."""
    if not vectors:
        return np.zeros((0, 0))
    M = np.array([np.asarray(v, dtype=np.float64) for v in vectors])
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    rng = random.Random(seed)
    idx = sorted(rng.sample(range(len(M)), min(n_cells, len(M))))
    C = M[idx].copy()
    for _ in range(iters):
        assign = (M @ C.T).argmax(axis=1)
        for c in range(len(C)):
            members = M[assign == c]
            if len(members):
                mean = members.mean(axis=0)
                C[c] = mean / max(np.linalg.norm(mean), 1e-12)
    return C


def _cell_udf(C: "np.ndarray", topn: int):
    """Nearest-``topn`` IVF cells per vector (cosine): one matmul per
    Arrow batch against the broadcast centroid matrix."""

    @F.pandas_udf("array<int>")
    def kernel(vecs: pd.Series) -> pd.Series:
        if len(C) == 0:  # an empty index has no cell to assign
            return pd.Series([[]] * len(vecs))
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if M.size == 0:
            return pd.Series([])
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        scores = M @ C.T  # (B, n_cells)
        top = np.argsort(-scores, axis=1)[:, :topn].astype(np.int32)
        return pd.Series(list(top))

    return kernel


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    train_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    rerank: str = "kernel",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` centroid cells, probe the query's ``n_probe`` nearest
    cells, exact cosine re-rank inside them.

    The alternative scale path to ``lsh_topk``: data-adaptive cells beat
    data-oblivious hyperplanes when the corpus is clustered. Scan
    fraction ≈ n_probe/n_cells. Scale: centroids train on a bounded
    deterministic sample driver-side (like any IVF index build); the
    per-row cell assignment is one broadcast matmul kernel; candidates
    shuffle on the cell id — analogous cost profile to the LSH bucket
    join, with recall controlled by n_probe instead of table count."""
    from pyspark.sql import Window

    sample = [
        r[0]
        for r in corpus.select(vec_col, id_col)
        .orderBy(id_col)
        .limit(train_size)
        .collect()
    ]
    C = _train_centroids_numpy(sample, n_cells, iters, seed)

    corpus = widen_for_compute(corpus)
    c_cells = corpus.select(
        F.col(id_col).alias("match_id"),
        F.element_at(_cell_udf(C, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_cell_udf(C, n_probe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
    )
    if rerank == "kernel":
        return exact_rerank(
            cand, queries, corpus, vec_col=vec_col, id_col=id_col, k=k
        )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .withColumn("cos", F.round(V.cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> float:
    """Recall@k of an ANN result against the brute-force baseline."""
    a = approx.filter(F.col("rk") <= k).select("query_id", "match_id")
    e = exact.filter(F.col("rk") <= k).select("query_id", "match_id")
    hit = a.join(e, ["query_id", "match_id"]).count()
    total = e.count()
    return hit / total if total else math.nan


# -- persistent IVF index (build once, probe many) -------------------------


def build_ivf_index(
    corpus: DataFrame,
    index_root: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    train_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
):
    """Materialize an IVF index as two versioned tables under
    ``index_root``: ``centroids`` (cell, centroid) and ``assignments``
    (vec id → cell). ``ivf_topk`` recomputes the corpus-side cell
    assignment — a full-corpus kernel pass — on EVERY call; a serving
    deployment builds the index once and every query batch afterwards
    reads the narrow assignment table instead (probe cost only).
    Versioning comes from ManifestTable: rebuilds are atomic commits,
    readers pin a snapshot, and ``extend_ivf_index`` appends new
    vectors' assignments as the corpus grows (centroids fixed — the
    standard IVF regime; rebuild when drift accumulates)."""
    from datalake_public_spark.sinks.table import ManifestTable

    spark = corpus.sparkSession
    sample = [
        r[0]
        for r in corpus.select(vec_col, id_col)
        .orderBy(id_col)
        .limit(train_size)
        .collect()
    ]
    C = _train_centroids_numpy(sample, n_cells, iters, seed)
    cent_tbl = ManifestTable(f"{index_root.rstrip('/')}/centroids")
    cent_tbl.overwrite(
        spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(C)],
            "cell int, centroid array<double>",
        ).coalesce(1)
    )
    assign_tbl = ManifestTable(f"{index_root.rstrip('/')}/assignments")
    assign_tbl.overwrite(
        widen_for_compute(corpus).select(
            F.col(id_col).alias("vec_id"),
            F.element_at(_cell_udf(C, 1)(F.col(vec_col)), 1).alias("cell"),
        )
    )
    return cent_tbl, assign_tbl


def _load_centroids(spark, index_root: str) -> "np.ndarray":
    from datalake_public_spark.sinks.table import ManifestTable

    rows = (
        ManifestTable(f"{index_root.rstrip('/')}/centroids")
        .read(spark)
        .orderBy("cell")
        .collect()
    )
    return np.array([np.asarray(r.centroid, dtype=np.float64) for r in rows])


def extend_ivf_index(
    new_vectors: DataFrame,
    index_root: str,
    batch_tag: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Assign NEW vectors to the existing centroids and append them to
    the assignment table (idempotent via ``batch_tag`` — safe inside a
    streaming foreachBatch). Only the new rows run the kernel."""
    from datalake_public_spark.sinks.table import ManifestTable

    spark = new_vectors.sparkSession
    C = _load_centroids(spark, index_root)
    assign_tbl = ManifestTable(f"{index_root.rstrip('/')}/assignments")
    return assign_tbl.append_batch(
        widen_for_compute(new_vectors).select(
            F.col(id_col).alias("vec_id"),
            F.element_at(_cell_udf(C, 1)(F.col(vec_col)), 1).alias("cell"),
        ).coalesce(1),
        batch_tag,
    )


def ivf_topk_prebuilt(
    queries: DataFrame,
    corpus: DataFrame,
    index_root: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    rerank: str = "kernel",
) -> DataFrame:
    """``ivf_topk`` against a prebuilt index: identical results for the
    same centroids (assignment is deterministic), but the corpus-side
    work per query batch drops from a full-corpus kernel pass to a scan
    of the narrow (vec_id, cell) table — the build cost is paid once,
    not per batch."""
    from pyspark.sql import Window

    spark = queries.sparkSession
    C = _load_centroids(spark, index_root)
    from datalake_public_spark.sinks.table import ManifestTable

    c_cells = (
        ManifestTable(f"{index_root.rstrip('/')}/assignments")
        .read(spark)
        .select(F.col("vec_id").alias("match_id"), "cell")
    )
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_cell_udf(C, n_probe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
    )
    corpus = widen_for_compute(corpus)
    if rerank == "kernel":
        return exact_rerank(
            cand, queries, corpus, vec_col=vec_col, id_col=id_col, k=k
        )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .withColumn("cos", F.round(V.cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", "cos", "rk")
    )
