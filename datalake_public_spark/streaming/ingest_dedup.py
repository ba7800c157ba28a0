"""Continuous corpus ingestion with cross-batch deduplication.

The pattern a training-data pipeline actually runs: documents arrive as
a stream (new crawl drops), and each micro-batch must be deduplicated
(a) within itself and (b) against EVERYTHING already ingested, then be
committed exactly-once to the versioned corpus table.

The against-corpus check never scans the corpus: a companion **hash
index table** holds one (content_hash, doc_id) row per ingested
document — 16-byte keys, no bodies — and each batch anti-joins its
hashes against it. At 100 TB of corpus the index is ~GBs and the
per-batch cost is O(batch + index-hash-join); the corpus itself is only
ever appended, never re-read.

Crash-safety: corpus and index appends can't be one atomic commit
(separate tables), so ordering decides the failure mode. The INDEX is
committed first: a crash between the two leaves hashes indexed whose
rows aren't in the corpus yet — future batches still drop those dups,
and replaying the batch (same tag) repairs the corpus: index rows carry
their batch tag, the anti-join excludes the replaying tag's own rows, so
the identical survivor set is recomputed, ``append_batch`` skips the
already-committed index append, and the missing corpus append lands. Corpus-first ordering would instead open a
window where another batch re-ingests duplicates. Duplicates never
enter; missing rows self-heal on replay.

File sizing: every commit coalesces to ``out_partitions`` output files
(default 1 — micro-batches are small relative to executor memory; a
32-partition write per batch per table grew the file count 100× faster
and per-batch wall time with it, measured in NOTES_r3). Pair long-
running streams with ``ManifestTable.maintain()`` so corpus and index
file counts stay bounded regardless of batch count.

Ref parity: beyond the reference (streaming ingestion extension; the
reference ingests via 3-hourly cron, ``dags/dag_bike.py:36``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_public_spark.sinks.table import ManifestTable


def _index_read(spark: SparkSession, index: ManifestTable) -> DataFrame | None:
    try:
        return index.read(spark)
    except FileNotFoundError:  # no version yet, or all-empty table
        return None


def ingest_batch_dedup(
    batch: DataFrame,
    corpus: ManifestTable,
    index: ManifestTable,
    batch_tag: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_partitions: int = 1,
) -> int:
    """Ingest one batch: drop rows whose content hash is already in the
    index, dedup within the batch (min id per hash wins), then commit
    index-first with the same idempotence tag on both tables. Returns
    the batch's survivor count — 0 when every row was already ingested
    by OTHER batches; a replay recomputes the same positive count while
    both tagged appends no-op."""
    spark = batch.sparkSession
    hashed = batch.withColumn("content_hash", F.md5(F.col(text_col)))
    idx = _index_read(spark, index)
    if idx is not None:
        # exclude rows THIS tag committed: a replay after the crash
        # window (index committed, corpus not) must recompute the same
        # survivor set, not find its own hashes and emit nothing —
        # that's what lets corpus.append_batch below repair the corpus
        prior = idx.filter(F.col("batch_tag") != batch_tag)
        hashed = hashed.join(
            prior.select("content_hash"), "content_hash", "left_anti"
        )
    # within-batch: one survivor per hash, lowest id (deterministic —
    # a replayed batch reproduces the identical set)
    firsts = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    fresh = hashed.join(firsts, ["content_hash", id_col], "left_semi").persist()
    try:
        n_new = fresh.count()
        if n_new == 0:
            return 0
        index.append_batch(
            fresh.select(
                "content_hash", F.col(id_col), F.lit(batch_tag).alias("batch_tag")
            ).coalesce(out_partitions),
            batch_tag,
        )
        corpus.append_batch(
            fresh.drop("content_hash").coalesce(out_partitions), batch_tag
        )
        return n_new
    finally:
        fresh.unpersist()


def ingest_dedup_stream(
    docs_stream: DataFrame,
    corpus_root: str,
    index_root: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_s: int = 300,
) -> ManifestTable:
    """Drain a document stream (availableNow) into a deduplicated
    versioned corpus. Each micro-batch runs ``ingest_batch_dedup`` with
    the batch id as the idempotence tag, so checkpoint replays and
    post-commit re-fires are both harmless."""
    from datalake_public_spark.streaming.runner import _await_or_raise

    corpus = ManifestTable(corpus_root)
    index = ManifestTable(index_root)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_dedup(
            batch_df, corpus, index, f"b{batch_id:06d}",
            text_col=text_col, id_col=id_col,
        )

    q = (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s, "ingest_dedup_stream")
    return corpus


def ingest_batch_neardedup(
    batch: DataFrame,
    corpus: ManifestTable,
    exact_index: ManifestTable,
    sig_index: ManifestTable,
    batch_tag: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 200,
    out_partitions: int = 1,
) -> int:
    """Ingest one batch with EXACT + NEAR dedup against everything
    already ingested.

    Within the batch: exact dedup (min id per hash), then MinHash+LSH
    pairs verified with exact Jaccard (the shingle sets are in hand),
    connected components, keep-min-per-cluster — the same composition
    as ``dedupe_corpus``, scoped to the batch.

    Against the corpus: the signature index stores one narrow
    ``(doc_id, sig[num_perm], batch_tag)`` row per ingested doc (~0.5 KB
    at 64 perms — at 1 B docs the index is ~0.5 TB vs the corpus's
    100 TB). Batch and index signatures band map-side; candidates come
    from the (band, key) join (hot buckets above ``max_bucket`` dropped
    on the index side — boilerplate guard, as in fuzzy_join_minhash);
    matches are confirmed by the standard signature-agreement estimator
    (fraction of equal components ≈ Jaccard; corpus shingles are not
    stored, so the verify is the unbiased estimate rather than exact —
    the documented precision tradeoff of signature-only indexes).

    Commit order and replay semantics follow ``ingest_batch_dedup``:
    all index appends first, corpus last, one tag everywhere; anti-join
    and band joins exclude the replaying tag's own rows so a replay
    recomputes the identical survivor set. Returns the survivor count.

    Per-batch cost: O(batch) + one scan of the narrow indexes + the
    band-collision join — never a corpus scan. At extreme index sizes,
    materialize the band index bucketed on (band, key)
    (sinks/bucketing.py) to make the join co-partitioned."""
    from datalake_public_spark.operators.components import connected_components
    from datalake_public_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        release_caches,
    )

    spark = batch.sparkSession
    r = num_perm // bands

    # -- exact: vs index, then within batch --------------------------------
    hashed = batch.withColumn("content_hash", F.md5(F.col(text_col)))
    eidx = _index_read(spark, exact_index)
    if eidx is not None:
        hashed = hashed.join(
            eidx.filter(F.col("batch_tag") != batch_tag).select("content_hash"),
            "content_hash",
            "left_anti",
        )
    firsts = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    fresh = hashed.join(firsts, ["content_hash", id_col], "left_semi")

    # -- near: within batch (exact-verified LSH + components, keep-min) ---
    # keep the raw handle: it carries the operator's persisted signature
    # frame, released in the finally below (per-micro-batch calls MUST
    # release or caches accumulate across a long stream)
    raw_pairs = minhash_lsh_pairs(
        fresh, text_col, id_col,
        shingle_n=shingle_n, num_perm=num_perm, bands=bands,
        threshold=threshold, max_bucket=max_bucket,
    )
    pairs = raw_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(pairs)
    losers = (
        comp.groupBy("component")
        .agg(F.min("node").alias("keep"))
        .join(comp, "component")
        .filter(F.col("node") != F.col("keep"))
        .select(F.col("node").alias(id_col))
    )
    fresh = fresh.join(losers, id_col, "left_anti")

    # -- near: vs the accumulated signature index --------------------------
    def banded(sig_df, side):
        return sig_df.select(
            F.col("id").alias(f"{side}_id"),
            F.col("sig").alias(f"{side}_sig"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(F.slice("sig", b * r + 1, r)).alias("key"),
                    ),
                )
            ).alias("bk"),
        ).select(f"{side}_id", f"{side}_sig", "bk.band", "bk.key")

    bsigs = minhash_signatures(
        fresh, text_col, id_col, shingle_n=shingle_n, num_perm=num_perm
    ).select("id", "sig").persist()
    bsigs.count()  # materialize before multi-branch reuse
    sidx = _index_read(spark, sig_index)
    if sidx is not None:
        isigs = (
            sidx.filter(F.col("batch_tag") != batch_tag)
            .select(F.col(id_col).alias("id"), "sig")
        )
        ib = banded(isigs, "corpus")
        ok = (
            ib.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "key")
        )
        cand = (
            banded(bsigs, "batch")
            .join(ib.join(ok, ["band", "key"], "left_semi"), ["band", "key"])
            .select("batch_id", "batch_sig", "corpus_id", "corpus_sig")
            .distinct()
        )
        # signature-agreement estimate, computed ONCE under a name (the
        # no-HOF-repetition rule) on the bounded candidate set
        agree = F.size(
            F.filter(
                F.zip_with("batch_sig", "corpus_sig", lambda x, y: x == y),
                lambda b: b,
            )
        )
        near = (
            cand.withColumn("est", agree / F.lit(float(num_perm)))
            .filter(F.col("est") >= threshold)
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        fresh = fresh.join(near, id_col, "left_anti")

    fresh = fresh.persist()
    try:
        n_new = fresh.count()
        if n_new == 0:
            return 0
        sig_index.append_batch(
            bsigs.join(fresh.select(F.col(id_col).alias("id")), "id", "left_semi")
            .select(
                F.col("id").alias(id_col), "sig",
                F.lit(batch_tag).alias("batch_tag"),
            ).coalesce(out_partitions),
            batch_tag,
        )
        exact_index.append_batch(
            fresh.select(
                "content_hash", F.col(id_col), F.lit(batch_tag).alias("batch_tag")
            ).coalesce(out_partitions),
            batch_tag,
        )
        corpus.append_batch(
            fresh.drop("content_hash").coalesce(out_partitions), batch_tag
        )
        return n_new
    finally:
        fresh.unpersist()
        bsigs.unpersist()
        release_caches(raw_pairs)
        # components' returned label frame is checkpoint-backed above its
        # edge bound (driver data, a no-op release, below it); all its
        # consumers (losers → fresh) have materialized by now
        from datalake_public_spark.operators.iterutils import (
            release_local_checkpoint,
        )

        release_local_checkpoint(comp)


def ingest_neardedup_stream(
    docs_stream: DataFrame,
    corpus_root: str,
    exact_index_root: str,
    sig_index_root: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_s: int = 600,
    maintain_every: int = 32,
    **near_kwargs,
) -> ManifestTable:
    """Drain a document stream (availableNow) into an exact+near
    deduplicated corpus (``ingest_batch_neardedup`` per micro-batch,
    batch-id idempotence tags). Every ``maintain_every`` batches the
    three tables run ``maintain()`` so file counts stay bounded on
    long streams (the NOTES_r3 flat-cost condition)."""
    from datalake_public_spark.streaming.runner import _await_or_raise

    corpus = ManifestTable(corpus_root)
    eidx = ManifestTable(exact_index_root)
    sidx = ManifestTable(sig_index_root)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_neardedup(
            batch_df, corpus, eidx, sidx, f"b{batch_id:06d}",
            text_col=text_col, id_col=id_col, **near_kwargs,
        )
        if maintain_every and batch_id and batch_id % maintain_every == 0:
            for t in (corpus, eidx, sidx):
                t.maintain(batch_df.sparkSession)

    q = (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s, "ingest_neardedup_stream")
    return corpus
