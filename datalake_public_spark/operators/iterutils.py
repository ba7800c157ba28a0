"""Checkpoint lifecycle for iterative operators.

Every iterative operator here (connected components, PageRank, label
propagation, hierarchy flattening, the iterative funnel) eagerly
``localCheckpoint``s per round — fresh exprIds and O(1) lineage depth.
The cost: each checkpoint pins its partitions in executor storage, and
Spark's ContextCleaner frees them only after BOTH the Python proxy and
the JVM Dataset are garbage-collected. On a long-lived driver (a
streaming micro-batch loop calling components every batch) superseded
per-round checkpoints accumulate until GC pressure — the same leak
class ADVICE r3 flagged for explicit persists.

``release_local_checkpoint`` frees a superseded checkpoint's partitions
immediately. It must ONLY be called on frames whose data is never read
again: a localCheckpoint truncates lineage, so an unpersisted one is
unrecomputable and any later action on it fails.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

# Incremented whenever the private-API release path fails to resolve —
# tests assert this stays 0 across the iterative suites, so a Spark
# upgrade that silently breaks the path trips CI instead of quietly
# reinstating the executor-storage leak.
release_failures = 0
_warned = False


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the cached partitions behind an eagerly-localCheckpoint'd
    frame. See module docstring for the never-read-again contract.

    Reaches through the JVM query execution (there is no public PySpark
    API for "unpersist the RDD behind this checkpoint"), so the failure
    mode to guard is API drift across Spark versions: a failure here is
    counted and warned once per process rather than swallowed, because
    a silent no-op reinstates the leak this module exists to fix.

    The frame need not BE the checkpoint node: callers legitimately hand
    back thin wrappers over one (``checkpointed.select(...)`` plans as a
    ``Project`` over the ``LogicalRDD``), so resolution walks down a
    WHITELIST of thin wrapper nodes (Project / SubqueryAlias / Filter)
    until it reaches the ``LogicalRDD``. Any other node — including
    single-child but non-thin nodes like Aggregate, Sort, or Window,
    whose result is a *derived* frame that may still share the
    checkpoint with other consumers — counts as a resolution failure,
    same as API drift. Releasing through a derived frame would
    unpersist a block other plans still need, and localCheckpoint
    blocks are not recomputable.

    A ``LocalRelation`` (a frame built by ``createDataFrame`` from
    driver data, such as the driver path of connected components)
    holds its rows in the plan on the driver, with no executor blocks
    behind it: releasing it is a successful no-op."""
    global release_failures, _warned
    try:
        rdd = _resolve_checkpoint_rdd(df._jdf.queryExecution().logical())
        if rdd is _DRIVER_LOCAL:
            return
        if rdd is None:
            _record_failure(
                RuntimeError("no LogicalRDD under single-child wrappers")
            )
        else:
            rdd.unpersist(False)
    except (AttributeError, TypeError) as exc:
        _record_failure(exc)
    except Exception as exc:  # Py4JError and friends (no hard py4j import)
        if type(exc).__module__.startswith("py4j"):
            _record_failure(exc)
        else:
            raise


# Thin wrappers a checkpoint release may walk through: these reshape or
# restrict the SAME rows the LogicalRDD holds and are what
# `checkpointed.select/filter/alias(...)` plan as. Aggregate / Sort /
# Window / Generate etc. produce DERIVED frames and are deliberately
# excluded — releasing through one could free a block other consumers
# of the underlying checkpoint still reference.
_RELEASE_WRAPPER_NODES = frozenset({"Project", "SubqueryAlias", "Filter"})

# What the walk returns when it reaches a ``LocalRelation``: rows held
# in the plan on the driver, nothing to unpersist.
_DRIVER_LOCAL = object()


def _resolve_checkpoint_rdd(jplan):
    """Walk a JVM logical plan down whitelisted thin wrapper nodes
    (Project, SubqueryAlias, Filter) to the ``LogicalRDD`` a
    localCheckpoint materialized, and return its RDD — ``_DRIVER_LOCAL``
    if it reaches a ``LocalRelation`` instead, or ``None`` if the walk
    hits any other node first (no unambiguous checkpoint to free). Depth-capped defensively; real wrapper chains here are 1–2
    nodes."""
    node = jplan
    for _ in range(16):
        name = node.getClass().getSimpleName()
        if name == "LogicalRDD":
            return node.rdd()
        if name == "LocalRelation":
            return _DRIVER_LOCAL
        if name not in _RELEASE_WRAPPER_NODES:
            return None
        children = node.children()
        if children.size() != 1:
            return None
        node = children.apply(0)
    return None


def _record_failure(exc: Exception) -> None:
    global release_failures, _warned
    release_failures += 1
    if not _warned:
        _warned = True
        warnings.warn(
            "release_local_checkpoint could not resolve the checkpoint "
            f"RDD ({type(exc).__name__}: {exc}); superseded checkpoints "
            "will only be freed by GC — check Spark private-API drift",
            RuntimeWarning,
            stacklevel=3,
        )
