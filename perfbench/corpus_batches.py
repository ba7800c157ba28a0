"""corpus_batches: one batch of training-data curation per op, the second
part of a queries_and_curation op.

Each op reads a freshly landed batch of ``inputs.BATCH_DOCS`` documents
(landed before the op's clock starts), runs ``plans.corpus_pipeline.
clean_corpus`` and ``sinks.shards.write_training_shards`` on the result,
then ``operators.dedup.release_caches``. The shards are checked and deleted
outside the timed region, so op N+1 does the same work as op N.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import inputs
import pyarrow.parquet as pq
from ops import OpResult, job_watermark, traced_metrics

from datalake_public_spark.operators import components, dedup, text
from datalake_public_spark.plans import corpus_pipeline
from datalake_public_spark.sinks import shards

LAYERS = (
    (corpus_pipeline, "clean_corpus", "plans.corpus_pipeline.clean_corpus"),
    (text, "normalize_text", "operators.text.normalize_text"),
    (text, "quality_filter", "operators.text.quality_filter"),
    (dedup, "dedupe_corpus", "operators.dedup.dedupe_corpus"),
    (components, "connected_components", "operators.components.connected_components"),
    (shards, "write_training_shards", "sinks.shards.write_training_shards"),
    (dedup, "release_caches", "operators.dedup.release_caches"),
)
N_SHARDS = 8


def check(report: dict, manifest: dict, distinct: int) -> list[str]:
    """Stage counts never grow, the survivors are at most the distinct
    contents, and the shards hold every survivor."""
    errors = []
    counts = list(report.values())
    if any(b > a for a, b in zip(counts, counts[1:])):
        errors.append(f"stage counts grow: {report}")
    survivors = counts[-1] if counts else -1
    if not 0 < survivors <= distinct:
        errors.append(f"{survivors} survivors of {distinct} distinct contents")
    if manifest.get("total_rows") != survivors:
        errors.append(f"shards hold {manifest.get('total_rows')} rows, {survivors} survived")
    return errors


class CorpusBatches:
    name = "corpus_batches"
    warmup_ops = 1

    def __init__(self, seed: int, config) -> None:
        self.seed = seed
        self.root = os.path.join(config.lake_root, "corpus")
        self.next_op = 0

    def land(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def op(self, spark, tracer=None) -> OpResult:
        """One batch. With a tracer, the layer calls are wrapped for this op only."""
        op_id = self.next_op
        label = f"{self.name}:{op_id}"  # unique among the run's traced ops
        self.next_op += 1
        batch = inputs.corpus_batch(self.seed, op_id)
        distinct = len(set(batch.column("text").to_pylist()))
        batch_path = os.path.join(self.root, f"batch_{op_id:06d}.parquet")
        out = os.path.join(self.root, "shards")
        pq.write_table(batch, batch_path)
        first_job = job_watermark(spark)
        if tracer is not None:
            for owner, attr, name in LAYERS:
                tracer.wrap(owner, attr, name)
        scope = tracer.op(label) if tracer is not None else contextlib.nullcontext()
        try:
            t0 = time.perf_counter()
            with scope:
                docs = spark.read.parquet(batch_path)
                cleaned, report = corpus_pipeline.clean_corpus(docs)
                manifest = shards.write_training_shards(cleaned, out, n_shards=N_SHARDS)
                dedup.release_caches(cleaned)
            seconds = time.perf_counter() - t0
        except Exception as exc:  # a failed op is counted, not fatal
            spark.catalog.clearCache()
            return OpResult(self.name, 0.0, False, tracer is not None, {}, repr(exc))
        finally:
            if tracer is not None:
                tracer.restore()
            shutil.rmtree(out, ignore_errors=True)
            os.remove(batch_path)
        errors = check(report, manifest, distinct)
        metrics = {}
        if tracer is not None:
            metrics = traced_metrics(spark, tracer, label, first_job)
            metrics["corpus.survivor_ratio"] = report["dedup"] / report["input"]
        error = "; ".join(errors)
        return OpResult(self.name, seconds, not errors, tracer is not None, metrics, error)
