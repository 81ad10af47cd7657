"""Mapping algorithms: Hungarian vs brute force, margin-prob invariants,
taxonomy build/compress, closure/evaluation, and the golden end-to-end
blob → exact planted taxonomy recovery (FIXTURES.md F4)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from sparktax.extraction.assign import greedy_mapping, hard_mapping, linear_sum_assignment
from sparktax.extraction.common import mapping_to_axioms
from sparktax.extraction.soft import (
    build_taxonomy,
    compress_axioms,
    margin_prob,
    softmax_columns,
)
from sparktax.taxonomy import evaluate, evaluate_full, transitive_closure


def test_hungarian_vs_bruteforce():
    rng = np.random.RandomState(0)
    for _ in range(150):
        n, m = rng.randint(1, 6), rng.randint(1, 6)
        C = rng.rand(n, m)
        r, c = linear_sum_assignment(C)
        got = C[r, c].sum()
        if n <= m:
            best = min(
                sum(C[i, cols[i]] for i in range(n))
                for cols in itertools.permutations(range(m), n)
            )
        else:
            best = min(
                sum(C[rows[j], j] for j in range(m))
                for rows in itertools.permutations(range(n), m)
            )
        assert got == pytest.approx(best)


def test_hard_mapping_excludes_root():
    Fm = pd.DataFrame([[0.9, 0.1], [0.2, 0.8], [1.0, 1.0]], columns=["x", "y"])
    m = hard_mapping(Fm, root_id=2)  # root row zeroed
    assert m == {"x": 0, "y": 1}
    m2 = greedy_mapping(Fm, root_id=2)
    assert m2 == {"x": 0, "y": 1}


def test_mapping_to_axioms_quirk():
    #      6
    #     / \
    #    5   z(4)
    #   / \
    #  b(3) i(2)
    #  /\
    # 0  1
    parent_of = {0: 3, 1: 3, 2: 5, 3: 5, 4: 6, 5: 6}
    mapping = {"B": 3, "A": 5, "Z": 4}
    # corrected walk: B's parent 5 is mapped → (B, A)
    assert mapping_to_axioms(mapping, parent_of, 6) == {("B", "A")}
    # reference quirk: starts at grandparent → edge lost
    assert mapping_to_axioms(mapping, parent_of, 6, skip_direct_parent=True) == set()


def test_softmax_columns():
    M = np.array([[1.0, 0.0], [2.0, 0.0]])
    P = softmax_columns(M, beta=1.0)
    assert P.sum(axis=0) == pytest.approx([1.0, 1.0])
    # β→∞ ⇒ hard assignment
    P = softmax_columns(M, beta=1e3)
    assert P[1, 0] == pytest.approx(1.0)


def test_margin_prob_invariants():
    # chain dendrogram over 3 leaves: (0,1)→3, (3,2)→4
    children = np.array([[0, 1], [2, 3]])
    rng = np.random.RandomState(0)
    P = rng.rand(5, 4)
    P /= P.sum(axis=0, keepdims=True)
    dP = margin_prob(children, P)
    # brute force: dP = Σ_internal outer(P[c], Σ_{d proper-desc of c} P[d])
    desc = {3: [0, 1], 4: [2, 0, 1, 3]}
    want = sum(np.outer(P[c], P[list(ds)].sum(axis=0)) for c, ds in desc.items())
    np.testing.assert_allclose(dP, want)
    assert (dP >= 0).all() and (dP <= 1 + 1e-9).all()


def test_build_taxonomy_cycle_free():
    keys = ["a", "b", "c"]
    dP = np.array(
        [  # dP[parent, child]
            [0.0, 0.9, 0.8],
            [0.7, 0.0, 0.6],
            [0.65, 0.99, 0.0],
        ]
    )
    # (b⊑a,.9) then (b⊑c,.99)? order: .99 (b,c), .9 (b,a), .8 (c,a), .7 (a,b)...
    tax = build_taxonomy(keys, dP, threshold=0.5, compress=False)
    # (a,b) at 0.7 must be rejected: a is an ancestor of b via (b,c),(c,a)? —
    # check no cycles: closure must not raise
    transitive_closure(tax)  # raises on a cycle


def test_compress_axioms_reduction():
    closure = {("d", "b"), ("d", "a"), ("b", "a"), ("c", "a")}
    red = compress_axioms(closure)
    assert red == {("d", "b"), ("b", "a"), ("c", "a")}
    # round-trip: reduction(closure(T)) == T for random trees
    rng = np.random.RandomState(3)
    for _ in range(20):
        n = rng.randint(3, 12)
        tree = {(str(i), str(rng.randint(0, i))) for i in range(1, n)}
        assert compress_axioms(transitive_closure(tree)) == tree


def test_transitive_closure_and_eval():
    t = {("B", "A"), ("C", "A"), ("D", "B")}
    c = transitive_closure(t)
    assert c == t | {("D", "A")}
    with pytest.raises(ValueError):
        transitive_closure({("A", "B"), ("B", "A")})
    p, r, f1 = evaluate(t, {("B", "A"), ("D", "B"), ("X", "Y")})
    assert p == pytest.approx(2 / 3)
    assert r == pytest.approx(2 / 3)
    (dp, dr, df1), (cp, cr, cf1) = evaluate_full(t, t)
    assert df1 == 1.0 and cf1 == 1.0


GOLD_TREE = {"B": "A", "C": "A", "D": "B", "E": "B", "F": "C", "G": "C"}


def _golden_blobs(spark):
    from sparktax.synth import gen_blob_embeddings_pdf

    dataset, classes, emb, gold = gen_blob_embeddings_pdf(per_class=30, seed=42)
    frames = (spark.createDataFrame(d) for d in (dataset, emb, classes))
    return (*frames, {(c, p) for c, p in gold})


@pytest.mark.parametrize("method", ["hard", "greedy", "soft"])
def test_golden_blob_recovery(spark, method):
    """Planted hierarchical blobs → extracted taxonomy == planted tree,
    direct F1 = 1.0 (FIXTURES.md F4 golden test)."""
    from sparktax.extraction.pipeline import extract_taxonomy

    ds, ed, cl, gold = _golden_blobs(spark)
    got = extract_taxonomy(
        ds, ed, classes=cl, method=method, beta=200.0, threshold=0.3
    )
    assert got == gold
    assert evaluate(gold, got)[2] == 1.0


def test_extraction_collects_once(spark, monkeypatch):
    """One collect per call: the F rows, carrying their dendrogram
    parent and class name, are collected once from a plan that runs the
    HAC kernel once, and the call costs at most 7 Spark jobs."""
    from sparktax.extraction.pipeline import extract_taxonomy

    ds, ed, cl, gold = _golden_blobs(spark)
    collected = []
    for name in ("toPandas", "collect"):
        action = getattr(type(ds), name)
        monkeypatch.setattr(
            type(ds), name, lambda df, _a=action: collected.append(df) or _a(df)
        )
    sc = spark.sparkContext
    sc.setJobGroup("extract-taxonomy", "extract-taxonomy")
    try:
        got = extract_taxonomy(ds, ed, classes=cl)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == gold
    assert len(collected) == 1
    plan = collected[0]._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("FlatMapGroupsInPandas") == 1
    assert len(sc.statusTracker().getJobIdsForGroup("extract-taxonomy")) <= 7


@pytest.mark.parametrize("n_rows", [0, 1])
def test_tiny_dataset_extracts_empty_taxonomy(spark, n_rows):
    """An empty sample has no F row and a one-entity sample has no
    dendrogram edge: both extract the empty taxonomy instead of raising."""
    from sparktax.extraction.pipeline import extract_taxonomy

    ds, ed, cl, _ = _golden_blobs(spark)
    ds = ds.orderBy("sample_id").limit(n_rows)
    for method in ("hard", "greedy", "soft"):
        assert extract_taxonomy(ds, ed, classes=cl, method=method) == set()
