"""queries_and_curation: the read side and the training-data curation of the
sf0.1-shaped lake, one after the other in every op.

One op is a ``lake_queries`` pass (lake_queries.py: the graded registry
entries in a seeded order) followed by a ``corpus_batches`` batch
(corpus_batches.py: ``clean_corpus``, ``write_training_shards`` and
``release_caches`` on a fresh document batch), each with its own output
checks. The op's latency is the sum of the two; each part's own latency is
kept, so the per-layer metrics ``lake_queries.op_p50_s`` and
``corpus_batches.op_p50_s`` tell the two paths apart.

The two paths share a workload because a run's fixed cost, a fresh JVM and
an op of warm-up, is about three times an op: one workload per path left
room for one timed op per run, two paths per workload leave room for a
longer timed op and for more ticks on gbfs_ticks.
"""

from __future__ import annotations

from corpus_batches import CorpusBatches
from lake_queries import LakeQueries
from ops import OpResult, merge_metrics


def combine(name: str, parts: list[OpResult], traced: bool) -> OpResult:
    """One op made of ``parts`` run back to back."""
    ok = all(p.ok for p in parts)
    latency = {}
    for p in parts:
        latency.update(p.parts)
        latency[p.name] = p.seconds
    return OpResult(
        name,
        sum(p.seconds for p in parts),
        ok,
        traced,
        merge_metrics([p.metrics for p in parts]) if traced and ok else {},
        "; ".join(p.error for p in parts if p.error),
        latency,
    )


class QueriesAndCuration:
    name = "queries_and_curation"
    warmup_ops = 1

    def __init__(self, seed: int, config) -> None:
        self.parts = (LakeQueries(seed, config), CorpusBatches(seed, config))

    def land(self) -> None:
        for part in self.parts:
            part.land()

    def op(self, spark, tracer=None) -> OpResult:
        return combine(self.name, [p.op(spark, tracer) for p in self.parts], tracer is not None)
