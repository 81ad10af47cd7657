"""HAC kernel invariants + Spark clustering roll-ups vs pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sparktax.cluster.hac import hac_children, leaf_closure, pairwise_distance
from pyspark.sql import functions as F

from sparktax.cluster.spark import (
    cluster_composition,
    cluster_sizes,
    clusterize,
    f_matrix,
    f_matrix_pandas,
)
from sparktax.synth import gen_blob_embeddings_pdf


@pytest.mark.parametrize("linkage", ["ward", "average", "complete", "single"])
def test_hac_tree_invariants(linkage):
    rng = np.random.RandomState(0)
    X = rng.randn(50, 4)
    children, heights = hac_children(X, linkage=linkage)
    n = 50
    assert children.shape == (n - 1, 2)
    # every cluster id except the final root appears exactly once as a child
    flat = children.ravel().tolist()
    assert sorted(flat) == sorted(set(flat))
    assert set(flat) == set(range(2 * n - 2))
    # children ids always precede their parent id
    for k, (a, b) in enumerate(children):
        assert a < n + k and b < n + k
    # heights nondecreasing (monotone linkages)
    assert (np.diff(heights) >= -1e-9).all()


def test_hac_two_blobs_top_split():
    rng = np.random.RandomState(1)
    X = np.vstack([rng.randn(20, 3) * 0.05, rng.randn(25, 3) * 0.05 + 10.0])
    children, _ = hac_children(X, "ward")
    # last merge must join the two blobs: the closure of the two root
    # children must be exactly {0..19} and {20..44}
    members = leaf_closure(children)
    by_node: dict[int, set] = {}
    for node, leaf in members:
        by_node.setdefault(node, set()).add(leaf)
    a, b = children[-1]
    groups = {frozenset(by_node[a]), frozenset(by_node[b])}
    assert groups == {frozenset(range(20)), frozenset(range(20, 45))}


def test_pairwise_metrics():
    X = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    d = pairwise_distance(X, "cosine")
    assert d[0, 2] == pytest.approx(0.0, abs=1e-12)
    assert d[0, 1] == pytest.approx(1.0)
    d = pairwise_distance(X, "cityblock")
    assert d[0, 1] == pytest.approx(2.0)
    d = pairwise_distance(X, "euclidean")
    assert d[0, 1] == pytest.approx(np.sqrt(2))


def _blob_clustering(spark, per_class, seed):
    dataset, classes, emb, gold = gen_blob_embeddings_pdf(per_class=per_class, seed=seed)
    pdf = dataset.merge(emb, on="entity_id")
    pdf["task_id"] = 0
    tasks = spark.createDataFrame(pdf[["task_id", "sample_id", "entity_id", "class_id", "vector"]])
    return pdf, clusterize(tasks)


def _f_matrix_joins(clu):
    """The F matrix as three groupBys and two joins (the form the one
    aggregate in ``f_matrix`` replaced), plus the dendrogram edges."""
    comp = cluster_composition(clu)
    sizes = cluster_sizes(clu)
    class_counts = (
        clu.filter(F.col("kind") == "leaf")
        .groupBy("task_id", "class_id")
        .agg(F.count("*").alias("class_n"))
    )
    p = F.col("n") / F.col("size")
    r = F.col("n") / F.col("class_n")
    fm = (
        comp.join(sizes, ["task_id", "node"])
        .join(class_counts, ["task_id", "class_id"])
        .select(
            "task_id",
            "node",
            "class_id",
            p.alias("precision"),
            r.alias("recall"),
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0).alias("f1"),
        )
    )
    edges = clu.filter(F.col("kind") == "edge").select(
        "task_id", F.col("a").alias("child"), F.col("b").alias("parent")
    )
    return fm, edges


def test_spark_clusterize_matches_local(spark):
    pdf, clu = _blob_clustering(spark, per_class=10, seed=5)
    clu = clu.cache()

    n = len(pdf)
    sizes = cluster_sizes(clu).toPandas().set_index("node")["size"]
    assert sizes[2 * n - 2] == n  # root holds everything
    assert (sizes.loc[range(n)] == 1).all()

    # composition at root == class counts
    comp = cluster_composition(clu).toPandas()
    root_comp = comp[comp.node == 2 * n - 2].set_index("class_id")["n"]
    want = pdf.class_id.value_counts()
    assert root_comp.sort_index().tolist() == want.sort_index().tolist()

    # F1 bounded and exact for a leaf: leaf of class c → p=1, r=1/count(c)
    fm = f_matrix(clu).toPandas()
    assert ((fm.f1 >= 0) & (fm.f1 <= 1)).all()
    leaf0_cls = int(pdf.sort_values("sample_id").class_id.iloc[0])
    row = fm[(fm.node == 0) & (fm.class_id == leaf0_cls)].iloc[0]
    cnt = int((pdf.class_id == leaf0_cls).sum())
    assert row.precision == pytest.approx(1.0)
    assert row.recall == pytest.approx(1 / cnt)

    # the one aggregate == the three groupBys and two joins, bit for bit,
    # and its parent column == the dendrogram edges (null at the root)
    key = ["task_id", "node", "class_id"]
    old_fm, old_edges = (d.toPandas() for d in _f_matrix_joins(clu))
    got = fm.drop(columns="parent").sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got, old_fm[got.columns].sort_values(key).reset_index(drop=True)
    )
    assert len(old_edges) == 2 * (n - 1)
    parents = fm.drop_duplicates("node").set_index("node")["parent"]
    assert parents.isna().sum() == 1 and pd.isna(parents[2 * n - 2])
    assert parents.dropna().astype("int64").sort_index().to_dict() == dict(
        zip(old_edges.child, old_edges.parent)
    )
    clu.unpersist()


def test_f_matrix_pandas_matches_cell_loop(spark):
    """The pivot densify == the one-cell-per-row loop it replaced, on the
    golden blobs."""
    _, clu = _blob_clustering(spark, per_class=30, seed=42)
    fd = f_matrix(clu).toPandas()
    n_nodes = int(fd["node"].max()) + 1
    class_ids = sorted(fd["class_id"].unique())
    want = pd.DataFrame(
        np.zeros((n_nodes, len(class_ids))), columns=class_ids, index=range(n_nodes)
    )
    for row in fd.itertuples(index=False):
        want.loc[int(row.node), int(row.class_id)] = row.f1
    pd.testing.assert_frame_equal(f_matrix_pandas(fd, n_nodes, class_ids), want)
