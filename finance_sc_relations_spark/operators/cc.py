"""Shared connected-components kernel: union-find per edge partition, then
min-label propagation with pointer jumping over the cross-partition links.

Both iterative-canonicalization consumers in this engine — the near-dup
cluster decision layer (operators/dedup.py) and corpus-level surface
canonicalization (operators/linking.py) — label every node with the least
label in its component. This module is the single copy of that kernel.

It is the local-then-global scheme of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC'14):
  1. local: the edges are split into P = ceil(edges / EDGES_PER_TASK)
     partitions and one Python task per partition runs union-find over its
     edges. The task also picks each local component's least label: its
     rows arrive sorted by label (a JVM sort, so Spark's own ordering
     decides, for scalar and struct labels alike) and the first row seen
     per component wins. With P = 1 the whole graph is one task and there
     is no global phase.
  2. global (P > 1 only): a node seen in several partitions links the
     local roots it has there. Min-label propagation with pointer jumping
     runs on that graph of roots only: each round a root adopts the
     smallest of (its label, its neighbors' labels, the current label OF
     the root its label names). The jump doubles the reach per round, so
     convergence is O(log diameter); each round is two shuffles and an
     eager localCheckpoint (constant-depth lineage). If the iteration cap
     is hit first, a RuntimeWarning is raised instead of silently
     returning split components.
Singleton nodes (no edge) keep their own label and never enter either
phase. The per-task edge budget is what bounds a task's memory; the
job count of a run that fits one task does not grow with the graph.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Most edges one union-find task holds. An edge is two keys and two
# labels, plus a few machine words of union-find state per node.
EDGES_PER_TASK = 2_000_000


def cc_min_label(
    edges: DataFrame,
    labels: DataFrame,
    *,
    key: str,
    seeds: DataFrame | None = None,
    max_iterations: int = 20,
    warn_name: str = "cc_min_label",
) -> DataFrame:
    """Connected components: every node's label becomes the least label in
    its component.

    edges: two-column frame of node-key pairs (any column names; first =
        one endpoint, second = the other), read as undirected. Duplicates
        and self-pairs are harmless. An edge with an endpoint in neither
        `labels` nor `seeds` is ignored.
    labels: (key, 'label') rows to relabel, one per key. 'label' may be any
        orderable Spark type (scalar or struct; structs order field by
        field).
    seeds: optional (key, 'label') rows with FIXED labels. A seed offers its
        label to every component it touches but never joins components
        (it is a barrier: two components that meet only at a seed stay
        apart), is never relabeled and is NOT part of the returned frame
        (the caller re-attaches seeds).
    warn_name: name used in the RuntimeWarning raised when the global
        phase's iteration cap is exhausted before convergence.

    Returns the relabeled `labels` frame (key, 'label').
    """
    a0, b0 = edges.columns[0], edges.columns[1]
    nodes = labels.select(key, "label", F.lit(False).alias("seed"))
    if seeds is not None:
        nodes = nodes.unionByName(
            seeds.select(key, "label", F.lit(True).alias("seed"))
        )

    def end(side: str) -> DataFrame:
        return nodes.select(
            F.col(key).alias(side),
            F.col("label").alias(f"{side}_label"),
            F.col("seed").alias(f"{side}_seed"),
        )

    # Edges with both endpoints' labels, materialized once; the edge count
    # is an Observation on the checkpoint's own job, so sizing the local
    # phase costs no job. A retried task can only over-count, which adds
    # partitions but cannot change a label.
    n_obs = Observation()
    linked = (
        edges.select(F.col(a0).alias("a"), F.col(b0).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .join(end("a"), "a")
        .join(end("b"), "b")
        .filter(~(F.col("a_seed") & F.col("b_seed")))
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = n_obs.get["n"]
    if n_edges == 0:
        return labels
    parts = -(-n_edges // EDGES_PER_TASK)
    local = _local_components(
        linked.coalesce(1) if parts == 1 else linked.repartition(parts),
        key,
    )
    if parts == 1:
        comp_label = local.select(key, F.col("label").alias("_cl"))
    else:
        comp_label = _merge_partitions(
            local.localCheckpoint(eager=True), key, max_iterations, warn_name
        )
    return labels.join(comp_label, key, "left").select(
        key, F.coalesce(F.col("_cl"), F.col("label")).alias("label")
    )


def _local_components(linked: DataFrame, key: str) -> DataFrame:
    """(key, root, label) for every non-seed node of each partition's
    edges: root = the least key of its component within the partition,
    label = the least label over that component and its adjacent seeds."""
    fields = {f.name: f.dataType for f in linked.schema.fields}
    key_type, label_type = fields["a"], fields["a_label"]
    # One row per edge end: the node, its label, and the neighbor it links.
    ends = (
        linked.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("node"), F.col("a_label").alias("label"),
                        F.col("a_seed").alias("seed"), F.col("b").alias("nbr"),
                        F.col("b_seed").alias("nbr_seed"),
                    ),
                    F.struct(
                        F.col("b").alias("node"), F.col("b_label").alias("label"),
                        F.col("b_seed").alias("seed"), F.col("a").alias("nbr"),
                        F.col("a_seed").alias("nbr_seed"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.*")
        # least label first, so the first row a component sees carries its
        # least label (nulls last: F.min ignores nulls too)
        .sortWithinPartitions(F.col("label").asc_nulls_last())
    )
    out_schema = StructType(
        [
            StructField(key, key_type, False),
            StructField("root", key_type, False),
            StructField("label", label_type, True),
        ]
    )

    def _union_find(batches):
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        n = table.num_rows
        both = np.concatenate([
            table.column("node").to_numpy(zero_copy_only=False),
            table.column("nbr").to_numpy(zero_copy_only=False),
        ])
        codes, keys = pd.factorize(both, sort=True)
        node, nbr = codes[:n], codes[n:]
        seed = table.column("seed").to_numpy(zero_copy_only=False).astype(bool)
        nbr_seed = table.column("nbr_seed").to_numpy(zero_copy_only=False).astype(bool)
        parent = list(range(len(keys)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # each undirected non-seed edge once; the smaller code is the root,
        # so a component's root is its least key
        inner = ~seed & ~nbr_seed & (node < nbr)
        for x, y in zip(node[inner].tolist(), nbr[inner].tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        root = np.fromiter((find(x) for x in range(len(keys))), np.int64, len(keys))
        # the component a row's label counts for: the node's own, or for a
        # seed's row, the non-seed neighbor's (seeds join no component)
        comp = root[np.where(seed, nbr, node)]
        comps, first_row = np.unique(comp, return_index=True)
        members = np.unique(node[~seed])
        rows = first_row[np.searchsorted(comps, root[members])]
        arrow_key = table.column("node").type
        out = pa.RecordBatch.from_arrays(
            [
                pa.array(keys[members], type=arrow_key),
                pa.array(keys[root[members]], type=arrow_key),
                table.column("label").take(pa.array(rows)).combine_chunks(),
            ],
            names=[key, "root", "label"],
        )
        yield from pa.Table.from_batches([out]).to_batches(max_chunksize=65_536)

    return ends.mapInArrow(_union_find, schema=out_schema)


def _merge_partitions(
    local: DataFrame, key: str, max_iterations: int, warn_name: str
) -> DataFrame:
    """(key, '_cl') over the local components of several partitions: a
    node's rows in different partitions link their local roots, the roots
    are merged by min-label propagation, and each node takes the least
    local label of its merged component."""
    cross = (
        local.groupBy(key)
        .agg(F.collect_set("root").alias("_rs"))
        .filter(F.size("_rs") > 1)
        .select(F.array_min("_rs").alias("a"), F.explode("_rs").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    roots = (
        cross.select(F.col("a").alias("root"))
        .unionByName(cross.select(F.col("b").alias("root")))
        .distinct()
        .withColumn("label", F.col("root"))
    )
    merged = _min_label_rounds(
        cross, roots, "root", max_iterations, warn_name
    ).withColumnRenamed("label", "_g")
    placed = local.join(merged, "root", "left").select(
        key, F.coalesce(F.col("_g"), F.col("root")).alias("_g"), "label"
    )
    comp = placed.groupBy("_g").agg(F.min("label").alias("_cl"))
    return (
        placed.groupBy(key)
        .agg(F.min("_g").alias("_g"))
        .join(comp, "_g")
        .select(key, "_cl")
    )


def _min_label_rounds(
    edges: DataFrame,
    labels: DataFrame,
    key: str,
    max_iterations: int,
    warn_name: str,
) -> DataFrame:
    """Min-label propagation with pointer jumping over (a, b) edges whose
    labels are node keys: each round a node adopts the least of its label,
    its neighbors' labels and the label of the node its label names."""
    # Both orientations from ONE pass over the edge frame (explode, not a
    # union of two selects, which would run the edge plan twice).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.a == labels[key], "inner")
            .groupBy(F.col("b").alias(key))
            .agg(F.min("label").alias("nlabel"))
        )
        # pointer jump: my label names a node — adopt THAT node's current
        # label too (doubles propagation reach per round)
        jump = labels.select(F.col(key).alias("_jk"), F.col("label").alias("jlabel"))
        # The convergence flag is counted by an Observation on the
        # checkpoint's own job: no second job reads the round back. Only
        # zero vs non-zero is used, so a retried task's over-count cannot
        # change the result.
        changed_obs = Observation()
        labels = (
            labels.join(neighbor_min, key, "left")
            .join(jump, F.col("label") == F.col("_jk"), "left")
            .select(
                key,
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nlabel"), F.col("label")),
                    F.coalesce(F.col("jlabel"), F.col("label")),
                ).alias("label"),
                (
                    F.least(
                        F.coalesce(F.col("nlabel"), F.col("label")),
                        F.coalesce(F.col("jlabel"), F.col("label")),
                    )
                    < F.col("label")
                ).alias("_changed"),
            )
            .observe(changed_obs, F.count_if("_changed").alias("changed"))
            .drop("_changed")
            .localCheckpoint(eager=True)
        )
        changed = changed_obs.get["changed"]
        if changed == 0:
            break
    if changed != 0:
        warnings.warn(
            f"{warn_name} did not converge in {max_iterations} iterations; "
            "components may be split — raise max_iterations",
            RuntimeWarning,
        )
    return labels
