"""Non-expressive taxonomy extraction, end-to-end (reference
TaxonomyExtractor.run, libs/extraction/extractor.py:46-54).

Distributed: clustering kernel + the F roll-up (Spark). One collect
brings back the F rows, each carrying its node's dendrogram parent (and
the class name, when given), so the HAC kernel runs once.
Driver: F-matrix densify + Hungarian/greedy/soft mapping + contraction
(collected structures are ≤ 2·sample_size rows by design).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktax.cluster.spark import clusterize, f_matrix, f_matrix_pandas
from sparktax.extraction.assign import greedy_mapping, hard_mapping
from sparktax.extraction.common import mapping_to_axioms
from sparktax.extraction.soft import soft_mapping


def _children_from_edges(edges: pd.DataFrame) -> np.ndarray:
    """(child, parent) rows → sklearn-style merge table, parents ascending."""
    grouped = edges.sort_values(["parent", "child"]).groupby("parent")["child"].apply(list)
    n = len(grouped) + 1
    children = np.empty((n - 1, 2), dtype=np.int64)
    for parent, kids in grouped.items():
        assert len(kids) == 2, f"non-binary node {parent}"
        children[int(parent) - n] = kids
    return children


def extract_taxonomy(
    dataset: DataFrame,
    embeddings: DataFrame,
    classes: DataFrame | None = None,
    method: str = "hard",
    linkage: str = "ward",
    metric: str = "euclidean",
    beta: float = 100.0,
    threshold: float = 0.1,
    compress: bool = True,
    skip_direct_parent: bool = False,
) -> set[tuple]:
    """dataset(sample_id, entity_id, class_id) ⋈ embeddings(entity_id,
    vector) → clustering → F → mapping → (child, parent) axiom set.

    ``classes`` (class_id, class_name) translates ids to names in the
    output; omitted → ids are returned.
    """
    tasks = (
        dataset.join(embeddings, "entity_id")
        .withColumn("task_id", F.lit(0))
        .select("task_id", "sample_id", "entity_id", "class_id", "vector")
    )
    fdf = f_matrix(clusterize(tasks, linkage=linkage, metric=metric))
    if classes is not None:
        names = classes.select("class_id", "class_name")
        fdf = fdf.join(F.broadcast(names), "class_id", "left")
    fd = fdf.toPandas()
    if fd.empty:
        return set()

    n_nodes = int(fd["node"].max()) + 1
    class_ids = sorted(fd["class_id"].unique())
    Fm = f_matrix_pandas(fd, n_nodes, class_ids)
    root_id = n_nodes - 1
    edges = (
        fd.loc[fd["parent"].notna(), ["node", "parent"]]
        .drop_duplicates()
        .astype("int64")
        .rename(columns={"node": "child"})
    )

    if method in ("hard", "greedy"):
        mapper = hard_mapping if method == "hard" else greedy_mapping
        cls_to_clu = mapper(Fm, root_id=root_id)
        parent_of = dict(zip(edges["child"], edges["parent"]))
        axioms = mapping_to_axioms(
            cls_to_clu, parent_of, root_id, skip_direct_parent=skip_direct_parent
        )
    elif method == "soft":
        children = _children_from_edges(edges)
        axioms = soft_mapping(
            Fm, children, beta=beta, threshold=threshold, compress=compress
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    if classes is not None:
        name = dict(fd[["class_id", "class_name"]].dropna().itertuples(index=False))
        axioms = {(name[c], name[p]) for c, p in axioms}
    return axioms
