"""Connected components for the clustering and rescore stages.

One labeller, ``component_labels(edges)``, labels every edge and every
endpoint with its component's minimum member id and the component size
(sylph has no analog: its "clusters" are implicit in the winner table,
contain.rs:410-459). ``connected_components(nodes, edges)`` is a left join
of a node table onto those labels, so isolated nodes label themselves.

Below ``SYLPH_CC_DRIVER_THRESHOLD`` edges (default 2M; 0 forces the
distributed path) one bounded Arrow collect feeds a vectorized numpy
min-label propagation on the driver: zero iterative shuffles. Above it, a
distributed min-label propagation with pointer jumping runs, checkpointed
every iteration to cut lineage:

  1. every node takes the min label over itself and its neighbors;
  2. pointer jumping: label(u) <- label(label(u)) (halves chain depth, so
     convergence is O(log diameter), not O(diameter));
  3. ``localCheckpoint`` truncates the plan; convergence is an exact
     count of changed labels == 0.

Both paths give identical labels. Node ids MUST be non-null strings (the
framework's image_ids are): a component is labelled by its MIN id, and
"min" is lexicographic only for strings.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DRIVER_THRESHOLD = 2_000_000
MAX_ITER = 50


def component_labels(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Label every EDGE and every endpoint NODE of ``edges`` (id_a, id_b)
    with its connected component, in one pass.

    Returns ``(pairs, nodes)``:
      pairs — (id_a, id_b, pre_cluster, csize), one row per input edge;
      nodes — (image_id, pre_cluster, csize) over the edge endpoints;
    where ``pre_cluster`` is the component's lexicographic-min member and
    ``csize`` its member count.

    The path probe and the edge fetch are ONE action: ``limit(t+1)``
    bounds the driver transfer at t+1 id pairs as Arrow columns, and when
    the probe says "small" the same table IS the edge list. On that path
    the edge → label assignment is a numpy gather, so the caller pays one
    bounded collect and zero Spark joins. Above the threshold, node labels
    come from the distributed loop and pair labels from one join on
    ``id_a`` (both endpoints of an edge share a component)."""
    env = os.environ.get("SYLPH_CC_DRIVER_THRESHOLD")
    threshold = int(env) if env else DEFAULT_DRIVER_THRESHOLD
    spark = edges.sparkSession
    pairs = edges.select("id_a", "id_b")
    probe = pairs.limit(threshold + 1).toArrow()
    if probe.num_rows > threshold:
        nodes = _distributed_cc(pairs)
        labelled = pairs.join(
            nodes.withColumnRenamed("image_id", "id_a"), "id_a"
        ).select("id_a", "id_b", "pre_cluster", "csize")
        return labelled, nodes
    _check_edge_tbl(probe)
    if probe.num_rows == 0:
        return (
            spark.createDataFrame(
                [], "id_a string, id_b string, pre_cluster string, csize bigint"
            ),
            spark.createDataFrame(
                [], "image_id string, pre_cluster string, csize bigint"
            ),
        )
    a = probe.column("id_a").to_numpy(zero_copy_only=False)
    b = probe.column("id_b").to_numpy(zero_copy_only=False)
    uniq, label, ca = _numpy_cc(a, b)
    sizes = np.bincount(label)
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": uniq,
                "pre_cluster": uniq[label],
                "csize": sizes[label].astype(np.int64),
            }
        )
    )
    el = label[ca]
    labelled = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": a,
                "id_b": b,
                "pre_cluster": uniq[el],
                "csize": sizes[el].astype(np.int64),
            }
        )
    )
    return labelled, nodes


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(image_id, cluster_id) for every row of ``nodes``: the min member id
    of its component over ``edges`` (id_a, id_b), itself when isolated.
    Deterministic; independent of input partitioning."""
    _, labels = component_labels(edges)
    return (
        nodes.select("image_id")
        .join(labels.select("image_id", "pre_cluster"), "image_id", "left")
        .select(
            "image_id",
            F.coalesce("pre_cluster", "image_id").alias("cluster_id"),
        )
    )


def _check_edge_tbl(edge_tbl: pa.Table) -> None:
    for col in ("id_a", "id_b"):
        t = edge_tbl.schema.field(col).type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise TypeError(
                f"connected components require string node ids; edge column "
                f"{col!r} is {t} (cast to string — min-label semantics are "
                f"lexicographic on both paths)"
            )
        if edge_tbl.column(col).null_count:
            raise ValueError(
                f"connected components: edge column {col!r} contains nulls "
                f"(they would stringify to the literal 'None')"
            )


def _numpy_cc(a_obj: np.ndarray, b_obj: np.ndarray):
    """Driver-side CC: factorize string ids into codes (np.unique on a
    fixed-width string array — C-speed sort, no per-edge Python), then
    min-label hooking + full pointer-jumping compression until fixpoint.
    Returns (uniq, label, a_codes) — uniq[label] is each node's component
    label (code order = np.unique sort order, so the min code is the
    lexicographic-min member) and uniq[label[a_codes]] labels each edge."""
    both = np.concatenate([a_obj, b_obj]).astype("U")
    uniq, codes = np.unique(both, return_inverse=True)
    ca, cb = codes[: a_obj.size], codes[a_obj.size :]
    label = np.arange(uniq.size, dtype=np.int64)
    while True:
        before = label.copy()
        m = np.minimum(label[ca], label[cb])
        np.minimum.at(label, ca, m)
        np.minimum.at(label, cb, m)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            break
    return uniq, label, ca


def _distributed_cc(edges: DataFrame) -> DataFrame:
    """(image_id, pre_cluster, csize) over the endpoints of ``edges``.

    The symmetric edge set comes from one explode of both orientations
    rather than a self-union: Catalyst's constraint inference rewrites a
    union's branch constraints by output attribute, and for a self-union of
    a filtered input (e.g. ``id_a < id_b``) that rewrite fails."""
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
                    F.struct(F.col("id_b").alias("u"), F.col("id_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select("u", F.col("u").alias("lbl")).distinct().localCheckpoint()

    for _ in range(MAX_ITER):
        nbr = sym.join(
            labels.withColumnRenamed("u", "v2"), sym["v"] == F.col("v2")
        ).select("u", "lbl")
        new_labels = labels.union(nbr).groupBy("u").agg(F.min("lbl").alias("lbl"))
        # pointer jumping: lbl <- lbl(lbl)
        jumped = (
            new_labels.alias("a")
            .join(
                new_labels.select(
                    F.col("u").alias("lu"), F.col("lbl").alias("llbl")
                ).alias("b"),
                F.col("a.lbl") == F.col("lu"),
                "left",
            )
            .select(
                F.col("a.u").alias("u"),
                F.coalesce(F.col("llbl"), F.col("a.lbl")).alias("lbl"),
            )
        ).localCheckpoint()
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), F.col("n.u") == F.col("o.u"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        # pointer jumping converges in O(log diameter) iterations, so
        # hitting MAX_ITER means a pathological graph — surface it instead
        # of returning split components
        raise RuntimeError(
            f"connected components did not converge in {MAX_ITER} iterations "
            f"(last delta: {changed} labels still changing)"
        )
    out = labels.select(
        F.col("u").alias("image_id"), F.col("lbl").alias("pre_cluster")
    )
    sizes = out.groupBy("pre_cluster").agg(F.count(F.lit(1)).alias("csize"))
    return out.join(sizes, "pre_cluster").select("image_id", "pre_cluster", "csize")
