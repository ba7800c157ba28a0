"""Connected components over a pair graph — the transitive-closure step
every near-dup pipeline needs (pair lists from dedup.py say "A~B, B~C";
keeping one doc per GROUP requires components, not pairs).

Two paths, one answer (on convergence every node holds min(id) of its
component). The choice depends only on the size of the edge list,
observed in one bounded collect of at most ``MAX_DRIVER_EDGES + 1`` of
its rows:

* **Driver path** (edge list at or under ``MAX_DRIVER_EDGES`` rows).
  The collected edges are labeled on the driver by vectorized numpy
  min-label union-find with pointer jumping, and the labels return as
  one ``createDataFrame``. A near-dup pair graph is tiny next to its
  corpus (~100 edges per 2,000-doc curation batch), and the
  distributed rounds below pay fixed per-round cost (three
  checkpoints and a count, whatever the graph size): 42 Spark jobs
  for that batch's graph, against the one collect here. The collect
  reads the edges as given: the undirected, distinct form the
  distributed path builds runs the edge lineage once per direction
  (10 jobs instead of 5 for that graph under AQE). The bound exists
  because this path holds the edge list in driver memory; it is a
  module constant, not a parameter, so the bound is a property of
  the engine, not of a call site.
* **Distributed path** (over the bound): iterative hash-min label
  propagation with pointer doubling. Each round every node adopts the
  minimum label among itself and its neighbors (relaxation), then
  follows its label one hop (``component := label(component)`` —
  shortcutting/path compression). Relaxation alone needs O(diameter)
  rounds; the doubling step halves label-path lengths each round,
  giving O(log n) rounds on any graph shape — same convergence class
  as the large-star/small-star alternation (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) with simpler building
  blocks. Non-convergence within ``max_iter`` raises instead of
  silently returning partial labels. Two shuffle-joins + one
  aggregation per round, all keyed on node id; ``localCheckpoint``
  per round truncates the lineage so the plan doesn't grow with
  iterations (same discipline MLlib's iterative algorithms use). The
  bounded collect is discarded, so the edge list's lineage runs once
  more for this path's first checkpoint.

Both paths are eager: the result holds no lineage back to ``edges``,
and ``iterutils.release_local_checkpoint`` frees it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from datalake_public_spark.operators.iterutils import release_local_checkpoint

# Rows of the edge list (as given, duplicates included) the driver path
# collects and labels in memory. Two int64 columns make this ~16 MB of
# Arrow plus a few numpy work arrays of up to twice that; larger graphs
# take the distributed rounds.
MAX_DRIVER_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    vertex_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Per-node component labels (label = min node id in the component).

    ``vertices`` optionally supplies the full node set (one column,
    ``vertex_col``) so isolated nodes appear as their own singleton
    component; otherwise only nodes present in ``edges`` are labeled.
    ``max_iter`` bounds the distributed path's rounds; the driver path
    always converges.
    """
    und = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .unionByName(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
    )
    # cast to the union's type, the one the distributed path labels in
    node_type = und.schema["node"].dataType
    head = (
        edges.select(F.col(src).cast(node_type), F.col(dst).cast(node_type))
        .limit(MAX_DRIVER_EDGES + 1)
        .toArrow()
    )
    if head.num_rows > MAX_DRIVER_EDGES:
        # edge list reused every round — compute pairs once
        return _pointer_doubling(und.localCheckpoint(), vertices, vertex_col, max_iter)
    labels = _driver_labels(und.sparkSession, head, node_type)
    if vertices is None:
        return labels
    return _finish(labels, labels.select("node"), vertices, vertex_col)


def _driver_labels(spark, head: pa.Table, node_type) -> DataFrame:
    """Min-id component labels of the collected (src, dst) edge list.

    The list is made symmetric first, so every non-null endpoint is a
    ``node`` value; the sorted distinct ``node`` values index the graph
    and index order is id order. A NULL id joins nothing, as in the
    distributed path: it is labeled NULL and its edges are dropped."""
    src, dst = (c.combine_chunks() for c in head.columns)
    node = pa.concat_arrays([src, dst])
    nbr = pa.concat_arrays([dst, src])
    edge_ok = pc.and_(node.is_valid(), nbr.is_valid())
    # null-free before numpy: a nullable int column would turn float
    ids = node.drop_null()
    uniq, first = np.unique(ids.to_numpy(zero_copy_only=False), return_index=True)
    a = np.searchsorted(uniq, node.filter(edge_ok).to_numpy(zero_copy_only=False))
    b = np.searchsorted(uniq, nbr.filter(edge_ok).to_numpy(zero_copy_only=False))
    label = _min_labels(a, b, len(uniq))
    ids = ids.take(pa.array(first))
    nodes, comps = [ids], [ids.take(pa.array(label))]
    if node.null_count:
        nodes.append(pa.nulls(1, ids.type))
        comps.append(pa.nulls(1, ids.type))
    table = pa.table(
        {"node": pa.concat_arrays(nodes), "component": pa.concat_arrays(comps)}
    )
    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    return spark.createDataFrame(table, schema=schema)


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Label of each of ``n`` nodes = min index in its component, for a
    symmetric edge list ``a[i] – b[i]``. Each round relaxes every node
    to the min label across its edges, hooks each endpoint's label
    under that min too, then jumps pointers until every label is a
    root. Labels only fall, so a round that changes nothing is the
    fixpoint: labels are equal across every edge, and each label is
    the smallest index of its component."""
    label = np.arange(n)
    while True:
        lo = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, lo)
        np.minimum.at(new, label[a], lo)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return label
        label = new


def _finish(
    converged_labels: DataFrame,
    nodes: DataFrame,
    vertices: DataFrame | None,
    vertex_col: str,
    und: DataFrame | None = None,
) -> DataFrame:
    """Final frame: converged edge-subgraph labels ∪ isolated
    singletons, re-checkpointed so (a) the superseded labels can be
    freed NOW and (b) the caller receives a frame
    ``release_local_checkpoint`` can resolve (the r9 lesson: a
    multi-child plan on the return breaks caller-side release)."""
    out = converged_labels.select("node", "component")
    if vertices is not None:
        isolated = (
            vertices.select(F.col(vertex_col).alias("node"))
            .distinct()
            .join(nodes, "node", "left_anti")
            .select("node", F.col("node").alias("component"))
        )
        out = out.unionByName(isolated)
    out = out.localCheckpoint()
    release_local_checkpoint(converged_labels)
    if und is not None:
        release_local_checkpoint(und)
    return out


def _pointer_doubling(
    und: DataFrame, vertices: DataFrame | None, vertex_col: str, max_iter: int
) -> DataFrame:
    """The distributed path over the checkpointed symmetric edge list."""
    # Iterate over the EDGE-TOUCHED node set only: an isolated vertex
    # can never change its label, yet it would otherwise ride through
    # all three per-round joins. On a near-dup pair graph isolated
    # vertices are the majority (most documents have no near-dup), so
    # this shrinks every round's label frame to the subgraph that can
    # actually move; ``vertices``-only nodes rejoin as singleton
    # components once, after convergence (round 10 — measured on the
    # ×100 dedup_components entry, 500k vertices vs the edge-touched
    # minority).
    nodes = und.select("node").distinct()

    # eager localCheckpoint each round: fresh exprIds (no self-join
    # ambiguity between rounds) and O(1) lineage depth
    labels = nodes.select("node", F.col("node").alias("component")).localCheckpoint()

    for it in range(max_iter):
        if it == 0:
            # labels are the identity map in round 1 — min neighbor
            # label IS min neighbor id; skip the labels join entirely
            nbr_min = und.groupBy("node").agg(
                F.min("nbr").alias("nbr_component")
            )
        else:
            nbr_min = (
                und.alias("e")
                .join(labels.alias("l"), F.col("e.nbr") == F.col("l.node"))
                .groupBy(F.col("e.node").alias("node"))
                .agg(F.min(F.col("l.component")).alias("nbr_component"))
            )
        # relaxation carries the PRE-relax label along as ``prev`` and
        # checkpoints: the doubling self-join below would otherwise
        # recompute this join (and nbr_min's shuffle above it) once per
        # self-join side, and ``prev`` lets the convergence check be a
        # column comparison on the final frame instead of a fourth
        # join-per-round back to the old labels (round 9, measured on
        # the ×100 dedup_components entry — two CC runs inside it:
        # 75.3 → 65.2 s cold / 55.8 → 48.4 warm, identical labels).
        relaxed = (
            labels.alias("o")
            .join(nbr_min.alias("m"), F.col("o.node") == F.col("m.node"), "left")
            .select(
                F.col("o.node").alias("node"),
                F.least(
                    F.col("o.component"),
                    F.coalesce(F.col("m.nbr_component"), F.col("o.component")),
                ).alias("component"),
                F.col("o.component").alias("prev"),
            )
            .localCheckpoint()
        )
        # pointer doubling (shortcutting): follow the label one hop —
        # component := label(component). Neighbor relaxation alone needs
        # O(diameter) rounds (a 1000-node chain would exhaust max_iter);
        # with path compression each round roughly halves label paths,
        # giving O(log n) rounds on any graph shape.
        new_labels = (
            relaxed.alias("x")
            .join(
                relaxed.select(
                    F.col("node").alias("c_node"), F.col("component").alias("c_comp")
                ).alias("y"),
                F.col("x.component") == F.col("y.c_node"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("y.c_comp"), F.col("x.component")).alias("component"),
                F.col("x.prev").alias("prev"),
            )
            .localCheckpoint()
        )
        # doubling only ever LOWERS a label toward the component min, so
        # new != prev exactly where the relax-or-double round moved
        # something — the same fixpoint test the old labels-join made
        changed = new_labels.filter(
            F.col("component") != F.col("prev")
        ).count()
        # the superseded checkpoints are never read again — free them
        # now instead of waiting for GC
        release_local_checkpoint(labels)
        release_local_checkpoint(relaxed)
        labels = new_labels
        if changed == 0:
            return _finish(labels, nodes, vertices, vertex_col, und)

    release_local_checkpoint(und)
    release_local_checkpoint(labels)
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds; the graph is larger/deeper than expected — raise max_iter"
    )
