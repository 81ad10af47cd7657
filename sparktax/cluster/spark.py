"""Distributed clustering: grouped Arrow UDF kernels + SQL roll-ups.

One ``applyInPandas`` group = one clustering task (one axiom's entity
sample, bounded by the sampling size — the reference's own scalability
lever, libs/expressive/params.py:9). The kernel runs the numpy HAC and
emits the dendrogram, leaf assignment, and leaf→ancestor closure as one
long-form table; everything downstream is plain Spark SQL over that
table, no recursion (reference init_composition / get_func_matrix,
libs/cluster/_cluster.py:88-153, are bottom-up Counter walks instead).
The F matrix is one aggregate plus two windows over one read of it;
composition and sizes are one groupBy each, for the inspection panels.

At fleet scale, thousands of clustering tasks run as one job wave — the
reference processes one sample at a time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparktax.cluster.hac import hac_children, leaf_closure

# kinds: 'edge'   → a=child node, b=parent node
#        'closure'→ a=ancestor-or-self node, b=leaf node, class_id=leaf class
#        'leaf'   → a=leaf node, b=sample_id, class_id=leaf class, entity_id
CLUSTER_OUT = (
    "task_id long, kind string, a long, b long, class_id int, entity_id long"
)


def clusterize(
    tasks: DataFrame,
    linkage: str = "ward",
    metric: str = "euclidean",
) -> DataFrame:
    """tasks: (task_id, sample_id, entity_id, class_id, vector:array<float>).

    Returns the long-form clustering table (see CLUSTER_OUT). Leaf node ids
    are positions 0..n-1 in sample_id order; internal nodes n..2n-2
    (reference build_clustering, libs/cluster/_cluster.py:39-47).
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("sample_id", kind="mergesort").reset_index(drop=True)
        task = pdf["task_id"].iloc[0]
        n = len(pdf)
        X = np.stack(pdf["vector"].to_numpy())
        rows: list[tuple] = []
        classes = pdf["class_id"].to_numpy()
        ents = pdf["entity_id"].to_numpy()
        sids = pdf["sample_id"].to_numpy()
        for i in range(n):
            rows.append((task, "leaf", i, int(sids[i]), int(classes[i]), int(ents[i])))
        if n >= 2:
            children, _ = hac_children(X, linkage=linkage, metric=metric)
            for k, (a, b) in enumerate(children):
                rows.append((task, "edge", int(a), int(n + k), -1, -1))
                rows.append((task, "edge", int(b), int(n + k), -1, -1))
            for node, leaf in leaf_closure(children):
                rows.append(
                    (task, "closure", int(node), int(leaf), int(classes[leaf]), -1)
                )
        else:
            rows.append((task, "closure", 0, 0, int(classes[0]), -1))
        return pd.DataFrame(
            rows,
            columns=["task_id", "kind", "a", "b", "class_id", "entity_id"],
        )

    cols = tasks.select("task_id", "sample_id", "entity_id", "class_id", "vector")
    return cols.groupBy("task_id").applyInPandas(kernel, schema=CLUSTER_OUT)


def leaf_assignments(clu: DataFrame) -> DataFrame:
    """(task_id, leaf, sample_id, entity_id, class_id)."""
    return clu.filter(F.col("kind") == "leaf").select(
        "task_id",
        F.col("a").alias("leaf"),
        F.col("b").alias("sample_id"),
        "entity_id",
        "class_id",
    )


def cluster_composition(clu: DataFrame) -> DataFrame:
    """(task_id, node, class_id, n) — count of leaves of each class under
    each node: ONE groupBy over the closure (O22)."""
    return (
        clu.filter(F.col("kind") == "closure")
        .groupBy("task_id", F.col("a").alias("node"), "class_id")
        .agg(F.count("*").alias("n"))
    )


def cluster_sizes(clu: DataFrame) -> DataFrame:
    """(task_id, node, size)."""
    return (
        clu.filter(F.col("kind") == "closure")
        .groupBy("task_id", F.col("a").alias("node"))
        .agg(F.count("*").alias("size"))
    )


def f_matrix(clu: DataFrame) -> DataFrame:
    """(task_id, node, parent, class_id, precision, recall, f1) — sparse:
    zero rows (class absent from cluster) are omitted; consumers treat
    missing as 0. ``parent`` is the node's dendrogram parent (null at
    the root), repeated on each of its rows.

    precision = n/|cluster|, recall = n/|class|, f1 = 2pr/(p+r) with
    0-guards (reference f_score + safe_divide, libs/metrics.py:1-20).
    One groupBy over the closure and edge rows; |cluster| sums a node's
    closure counts, |class| is the largest count of the class (the
    root's closure holds every leaf), and the parent is the one edge
    row keyed by the node.
    """
    closure = F.col("kind") == "closure"
    by_node = Window.partitionBy("task_id", "node")
    by_class = Window.partitionBy("task_id", "class_id")
    p = F.col("n") / F.col("size")
    r = F.col("n") / F.col("class_n")
    return (
        clu.filter(F.col("kind") != "leaf")
        .groupBy("task_id", "kind", F.col("a").alias("node"), "class_id")
        .agg(F.count("*").alias("n"), F.max("b").alias("b"))
        .select(
            "*",
            F.sum(F.when(closure, F.col("n"))).over(by_node).alias("size"),
            F.max(F.when(~closure, F.col("b"))).over(by_node).alias("parent"),
            F.max(F.when(closure, F.col("n"))).over(by_class).alias("class_n"),
        )
        .filter(closure)
        .select(
            "task_id",
            "node",
            "parent",
            "class_id",
            p.alias("precision"),
            r.alias("recall"),
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0).alias("f1"),
        )
    )


def f_matrix_pandas(
    fdf: pd.DataFrame, n_nodes: int, class_ids: list[int]
) -> pd.DataFrame:
    """Collect helper: densify the sparse F rows of ONE task into the
    (n_clusters × n_classes) pandas matrix the driver-side mapping
    algorithms expect (reference Cluster.F(), _cluster.py:152-153)."""
    return (
        fdf.pivot(index="node", columns="class_id", values="f1")
        .reindex(index=range(n_nodes), columns=class_ids)
        .fillna(0.0)
        .rename_axis(index=None, columns=None)
    )
