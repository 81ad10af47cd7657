"""Entity linking: dictionary join, MinHash/LSH, connected components,
canonicalization — each checked against a local pandas/numpy oracle."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparktax.link import (
    canonical_entity_map,
    connected_components,
    exact_jaccard,
    fuzzy_match_pairs,
    link_mentions,
    lsh_candidate_pairs,
    minhash_signatures,
    rewrite_triples,
    shingle,
)


# ---------------------------------------------------------------- dictionary
def test_link_mentions_broadcast_dict(spark):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "mention_id": [1, 2, 3, 4],
                "surface": ["Ada_Lovelace", "ada lovelace", "ACME-Corp", "Nobody"],
            }
        )
    )
    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface": ["Ada Lovelace", "Acme Corp", "Acme Corp"],
                "entity_id": [10, 20, 21],
                "prior": [0.9, 0.4, 0.6],
            }
        )
    )
    got = link_mentions(mentions, cand).toPandas().set_index("mention_id")
    assert got.loc[1, "entity_id"] == 10
    assert got.loc[2, "entity_id"] == 10  # casing/punct variant
    assert got.loc[4, "prior"] is None or np.isnan(got.loc[4, "prior"])  # unlinked
    assert got.loc[3, "entity_id"] == 21  # ambiguity → max prior


# ---------------------------------------------------------------- shingles
def _py_shingles(s: str, n: int = 3) -> set[str]:
    s = s.lower()
    if len(s) <= n:
        return {s[:n]} if s else set()
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def test_shingle_matches_python(spark):
    words = ["Hello_World", "abc", "ab", "aaaa", "Mississippi"]
    df = spark.createDataFrame(pd.DataFrame({"id": range(len(words)), "w": words}))
    got = shingle(df, "w", "id").toPandas().groupby("id")["shingle"].apply(set)
    for i, w in enumerate(words):
        assert got[i] == _py_shingles(w), w


def test_jaccard_exact(spark):
    words = ["banana", "bananas", "orange", "banana"]
    df = spark.createDataFrame(pd.DataFrame({"id": range(4), "w": words}))
    sh = shingle(df, "w", "id")
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [0, 0, 0], "b": [1, 2, 3]})
    )
    got = exact_jaccard(sh, pairs).toPandas().set_index("b")["jaccard"]

    def jac(x, y):
        sx, sy = _py_shingles(x), _py_shingles(y)
        return len(sx & sy) / len(sx | sy)

    assert got[1] == pytest.approx(jac("banana", "bananas"))
    assert got[2] == pytest.approx(jac("banana", "orange"))
    assert got[3] == pytest.approx(1.0)


def test_minhash_similar_strings_collide(spark):
    rows = pd.DataFrame(
        {
            "id": range(6),
            "w": [
                "taxonomy extraction engine",
                "taxonomy extraction enginee",  # near-dup of 0
                "knowledge graph construction",
                "knowledge graph constructions",  # near-dup of 2
                "completely different thing",
                "zzz qqq xxx",
            ],
        }
    )
    df = spark.createDataFrame(rows)
    got = fuzzy_match_pairs(df, "w", "id", threshold=0.6, bands=32, k=128)
    pairs = set(map(tuple, got.select("a", "b").toPandas().itertuples(index=False)))
    assert (0, 1) in pairs
    assert (2, 3) in pairs
    assert all(p in {(0, 1), (2, 3)} for p in pairs)


def test_minhash_deterministic(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "w": ["abcdef", "ghijkl"]}))
    s1 = minhash_signatures(shingle(df, "w", "id"), k=16).toPandas()
    s2 = minhash_signatures(shingle(df, "w", "id"), k=16).toPandas()
    m1 = {r.id: tuple(r.sig) for r in s1.itertuples(index=False)}
    m2 = {r.id: tuple(r.sig) for r in s2.itertuples(index=False)}
    assert m1 == m2


# ---------------------------------------------------------------- components
def _uf_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (3, 4), (10, 11)],  # chain + separate pair
        [(i, i + 1) for i in range(1, 40)],  # long chain (adversarial)
        [(1, 2), (3, 4), (5, 6), (2, 3), (4, 5)],  # chain built out of order
        [(7, 7), (8, 9)],  # self-loop ignored
    ],
)
def test_connected_components_vs_union_find(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = connected_components(df).toPandas()
    want = _uf_oracle(edges)
    got_map = dict(zip(got.node, got.component))
    assert got_map == want


def test_connected_components_random(spark):
    rng = np.random.RandomState(0)
    edges = [tuple(sorted(p)) for p in rng.randint(0, 60, size=(80, 2)) if p[0] != p[1]]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = connected_components(df).toPandas()
    want = _uf_oracle(edges)
    assert dict(zip(got.node, got.component)) == want


def test_connected_components_raises_without_fixpoint(spark):
    path = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(path, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, max_iter=1)
    got = connected_components(df).toPandas()
    assert len(got) == 201 and set(got.component) == {0}


def _reference_cc(edges, max_iter: int = 25):
    """The replaced ``_cc_loop``: a separate signature job per round and the
    node set re-derived from ``edges`` (a second pass over its lineage)."""
    from sparktax.link.components import _large_star, _small_star

    spark = edges.sparkSession
    conf = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf, "true")
    spark.conf.set(conf, "false")
    try:
        e = (
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        all_nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )

        def signature(df):
            row = df.agg(
                F.count("*").alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
            ).first()
            return int(row["n"]), int(row["h"])

        sig = signature(e)
        for _ in range(max_iter):
            e = _small_star(_large_star(e)).localCheckpoint()
            new_sig = signature(e)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError("reference did not converge")
        assignment = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("node"), "component"
        )
        out = all_nodes.join(assignment, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        )
    finally:
        spark.conf.set(conf, prev)
    return out


def _rows(df) -> Counter:
    return Counter(map(tuple, df.select("node", "component").collect()))


_RNG = np.random.RandomState(7)


@pytest.mark.parametrize(
    "edges",
    [
        *[
            [tuple(map(int, p)) for p in _RNG.randint(0, n, size=(m, 2))]
            for n, m in ((30, 20), (60, 80), (200, 150))
        ],
        [(1, 2), (1, 2), (2, 1), (3, 4), (3, 4), (4, 3)],  # duplicate edges
        [(5, 5), (5, 6), (7, 7), (8, 8), (8, 9)],  # self-edges
        [(1, 2), (None, 3), (4, None), (None, None), (2, 3)],  # null endpoints
        [(0, i) for i in range(1, 12)],  # already-converged star
        [],  # empty input
    ],
    ids=["random30", "random60", "random200", "dups", "self", "nulls", "star", "empty"],
)
def test_connected_components_matches_replaced_form(spark, edges):
    """Differential pin: the observed-signature loop over a checkpointed
    base returns exactly the replaced form's (node, component) rows."""
    df = spark.createDataFrame(edges, "src long, dst long")
    assert _rows(connected_components(df)) == _rows(_reference_cc(df))


def test_connected_components_reads_edges_once(spark):
    """The caller's edge lineage is evaluated once: the node set comes from
    the checkpointed base, not from a second pass over ``edges``."""
    n = 300
    evals = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        evals.add(1)
        return x

    df = spark.range(n).select(
        bump(F.col("id") % 97).alias("src"), ((F.col("id") * 7) % 97).alias("dst")
    )
    got = connected_components(df).collect()
    assert len(got) == 97
    assert evals.value == n


# ---------------------------------------------------------------- canonicalize
def test_canonical_map_and_rewrite(spark):
    ents = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [0, 1, 2, 3, 4],
                "uri": [
                    "Ada_Lovelace",
                    "ada lovelace",  # exact-normalized dup of 0
                    "Ada_Lovelacee",  # fuzzy dup (edit distance 1)
                    "Grace_Hopper",
                    "Acme_Corp",
                ],
            }
        )
    )
    mapping = canonical_entity_map(ents, jaccard_threshold=0.6).toPandas()
    m = dict(zip(mapping.id, mapping.canonical_id))
    assert m[0] == 0 and m[1] == 0 and m[2] == 0
    assert m[3] == 3 and m[4] == 4

    triples = spark.createDataFrame(
        pd.DataFrame({"h": [1, 2, 3], "r": [0, 0, 0], "t": [4, 4, 1]})
    )
    rew = rewrite_triples(triples, spark.createDataFrame(mapping)).toPandas()
    got = set(map(tuple, rew.itertuples(index=False)))
    assert got == {(0, 0, 4), (3, 0, 0)}


def test_canonical_map_digit_ratio_gate(spark):
    """ID-like (digit-heavy) uris must skip the fuzzy lane: sequential ids
    are 1-edit neighbors whose shingle Jaccard clears any threshold, but
    merging them is wrong and their LSH candidates explode at scale."""
    ents = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [0, 1, 10, 11],
                "uri": ["Ada_Lovelace", "Ada_Lovelacee", "O1234567", "O1234568"],
            }
        )
    )
    # ungated: both the name pair AND the id pair merge (the hazard)
    m0 = dict(
        zip(*(lambda p: (p.id, p.canonical_id))(
            canonical_entity_map(ents, jaccard_threshold=0.6).toPandas()
        ))
    )
    assert m0[1] == 0 and m0[11] == 10
    # gated: name-like surfaces still fuzzy-merge, ids stay distinct
    m1 = dict(
        zip(*(lambda p: (p.id, p.canonical_id))(
            canonical_entity_map(
                ents, jaccard_threshold=0.6, fuzzy_max_digit_ratio=0.5
            ).toPandas()
        ))
    )
    assert m1[1] == 0
    assert m1[10] == 10 and m1[11] == 11
