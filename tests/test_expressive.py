"""Axiom algebra, induction kernel, and the expressive extractor end-to-end
on a KG where individuals are separable ONLY by class expressions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparktax import synth
from sparktax.axioms import And, Concept, Existential, Neg, Or, Remainder, Top, parse_axiom
from sparktax.graph import KnowledgeGraph
from sparktax.induction import LocalInducer


# ------------------------------------------------------------------ algebra
def test_axiom_keys_roundtrip():
    cases = [
        Top(),
        Concept(12),
        Existential(3, cls=7),
        Existential(3, tgt=99),
        Existential(3),
        And((Concept(1), Existential(2, cls=3))),
        Or((Concept(1), Concept(2))),
        Neg(Concept(5)),
        Remainder(Concept(1), (Concept(2), Existential(3, cls=4))),
        And((Or((Concept(1), Concept(2))), Neg(Existential(9)))),
    ]
    for ax in cases:
        assert parse_axiom(ax.key()) == ax, ax.key()


def test_axiom_algebra_canonical():
    a, b = Concept(1), Concept(2)
    assert (a & b) == (b & a)
    assert (a | b) == (b | a)
    assert ((a & b) & a) == (a & b)  # dedup
    assert ~(~a) == a


@pytest.fixture(scope="module")
def ekg(spark):
    triples, entities, relations, info = synth.gen_expressive_kg_pdf()
    kg = KnowledgeGraph(
        spark.createDataFrame(triples),
        spark.createDataFrame(entities),
        spark.createDataFrame(relations),
    ).cache()
    return kg, triples, info


def test_extensions_match_pandas(ekg):
    kg, triples, info = ekg
    # Concept extension
    got = set(Concept(info["Book"]).extension(kg).toPandas()["h"])
    want = set(triples[(triples.r == 0) & (triples.t == info["Book"])].h)
    assert got == want
    # Existential ∃wrote.Poem
    ax = Existential(info["WROTE"], cls=info["Poem"])
    got = set(ax.extension(kg).toPandas()["h"])
    poems = set(triples[(triples.r == 0) & (triples.t == info["Poem"])].h)
    want = set(triples[(triples.r == info["WROTE"]) & triples.t.isin(poems)].h)
    assert got == want and got == set(info["groups"]["poet"])
    # And / Or / Remainder consistency
    wb = Existential(info["WROTE"], cls=info["Book"])
    both = And((wb, ax))
    assert set(both.extension(kg).toPandas()["h"]) == got
    rem = Remainder(wb, (ax,))
    assert set(rem.extension(kg).toPandas()["h"]) == set(info["groups"]["novelist"])


# ------------------------------------------------------------------ inducer
def test_local_inducer_simple():
    # 10 pos, 10 neg; atom0 = exactly positives; atom1 = noise
    rng = np.random.RandomState(0)
    A = np.zeros((20, 3), dtype=bool)
    A[:10, 0] = True
    A[:, 1] = rng.rand(20) < 0.5
    A[5:15, 2] = True
    mask = np.zeros(20, dtype=bool)
    mask[:10] = True
    ind = LocalInducer(A, ["C:0", "C:1", "C:2"], mask)
    rec = ind.best(threshold=0.9, max_axioms=2, min_gain=0.05, keep_n=5)
    assert rec is not None
    assert rec["axiom"] == "C:0"
    assert rec["cov"] == 1.0 and rec["spe"] == 1.0


def test_local_inducer_needs_or():
    # positives = atom0 ∪ atom1 (each covers half) → needs OR of both
    A = np.zeros((30, 2), dtype=bool)
    A[:8, 0] = True
    A[8:16, 1] = True
    mask = np.zeros(30, dtype=bool)
    mask[:16] = True
    ind = LocalInducer(A, ["C:0", "C:1"], mask)
    rec = ind.best(threshold=0.95, max_axioms=2, min_gain=0.05, keep_n=5)
    assert rec is not None
    assert rec["axiom"] == "OR(C:0,C:1)"


def test_local_inducer_needs_and():
    # positives = atom0 ∩ atom1
    A = np.zeros((40, 2), dtype=bool)
    A[:20, 0] = True
    A[10:30, 1] = True
    mask = np.zeros(40, dtype=bool)
    mask[10:20] = True
    ind = LocalInducer(A, ["C:0", "C:1"], mask)
    rec = ind.best(threshold=0.95, max_axioms=2, min_gain=0.01, keep_n=5)
    assert rec is not None
    assert rec["axiom"] == "AND(C:0,C:1)"
    assert rec["sco"] == pytest.approx(1.0)


def test_local_inducer_filters_relation_duplicates():
    """Reference filter_similar_axioms (inducer.py:249-261): among
    existential atoms of ONE relation only the best-scoring survives a
    round; concept atoms are exempt."""
    A = np.zeros((40, 4), dtype=bool)
    A[:8, 0] = True            # E:7.C:1 — the best hub-relation atom
    A[:7, 1] = True            # E:7.C:2 — strictly worse variant
    A[:6, 2] = True            # E:7.C:3 — strictly worse variant
    A[8:15, 3] = True          # C:5 — concept atom (exempt)
    mask = np.zeros(40, dtype=bool)
    mask[:16] = True
    keys = ["E:7.C:1", "E:7.C:2", "E:7.C:3", "C:5"]

    filtered = LocalInducer(A, keys, mask, filter_similar=True).find(
        max_axioms=1, min_gain=0.01, keep_n=10, threshold=0.99
    )
    fk = {r["axiom"] for r in filtered}
    assert "E:7.C:1" in fk and "C:5" in fk
    assert "E:7.C:2" not in fk and "E:7.C:3" not in fk

    unfiltered = LocalInducer(A, keys, mask, filter_similar=False).find(
        max_axioms=1, min_gain=0.01, keep_n=10, threshold=0.99
    )
    uk = {r["axiom"] for r in unfiltered}
    assert {"E:7.C:1", "E:7.C:2", "E:7.C:3", "C:5"} <= uk


def test_params_from_reference_default_json():
    """ExpressiveParams.from_json loads the reference's shipped
    libs/expressive/default.json verbatim."""
    import os

    from sparktax.expressive import ExpressiveParams

    path = "/root/reference/libs/expressive/default.json"
    if not os.path.exists(path):
        pytest.skip("reference default.json not present")
    p = ExpressiveParams.from_json(path)
    assert p.size == 1000
    assert p.threshold_initial == 0.9 and p.threshold_min == 0.6
    assert p.threshold_step == 0.05 and p.threshold_expressive == 0.5
    assert p.max_depth == 4 and p.max_axioms == 2 and p.min_gain == 0.08
    assert p.keep_n == 8 and p.min_size == 30 and p.max_nodes == 100
    assert p.linkage == "ward" and p.metric == "euclidean"
    assert p.score == "harmonic"
    assert p.seed == 42  # reference's null seed keeps our seeded default


def test_params_from_flat_dict():
    from sparktax.expressive import ExpressiveParams

    p = ExpressiveParams.from_json(
        {"wave_size": 4, "max_waves": 2, "salt_buckets": 8, "threshold": {"min": 0.7}}
    )
    assert p.wave_size == 4 and p.max_waves == 2 and p.salt_buckets == 8
    assert p.threshold_min == 0.7


# ------------------------------------------------------------------ end-to-end
def test_expressive_extractor_finds_planted_expressions(ekg):
    from sparktax.expressive import ExpressiveExtractor, ExpressiveParams
    from sparktax.typevec import type_vectors

    kg, triples, info = ekg
    emb = type_vectors(kg, k=16).localCheckpoint()
    params = ExpressiveParams(
        size=500, min_size=25, max_waves=3, threshold_initial=0.9, seed=1
    )
    ex = ExpressiveExtractor(kg, emb, params)
    edges = ex.run()
    assert edges, "no taxonomy extracted"
    keys = {c for c, _ in edges}
    wrote, plays, loc = info["WROTE"], info["PLAYS"], info["LOC"]

    def found(rel, cls):
        tag = f"E:{rel}.C:{cls}"
        return any(tag in k for k in keys)

    assert found(plays, info["Instrument"]), edges
    assert found(loc, info["Country"]), edges
    assert found(wrote, info["Book"]) or (
        found(wrote, info["Poem"]) and found(wrote, info["Novel"])
    ), edges
    # depth-2 refinement: the Poem and Novel expressions must appear as
    # children of a parent mentioning the Book expression
    book_tag = f"E:{wrote}.C:{info['Book']}"
    for cls in (info["Poem"], info["Novel"]):
        tag = f"E:{wrote}.C:{cls}"
        assert any(
            tag in c and book_tag in p for c, p in edges
        ), (tag, edges)


def test_expressive_kill_resume_matches_uninterrupted(ekg, spark, tmp_path):
    """O68: per-wave state snapshots — a run killed after wave 1 resumes
    from the manifest and ends bit-identical to an uninterrupted run."""
    from dataclasses import replace

    from sparktax.ckpt import StageCheckpointer
    from sparktax.expressive import ExpressiveExtractor, ExpressiveParams
    from sparktax.typevec import type_vectors

    kg, triples, info = ekg
    emb = type_vectors(kg, k=16).localCheckpoint()
    params = ExpressiveParams(
        size=500, min_size=25, max_waves=3, threshold_initial=0.9, seed=1
    )
    full = ExpressiveExtractor(kg, emb, params).run()

    ck = StageCheckpointer(spark, str(tmp_path / "exp"))
    killed = ExpressiveExtractor(kg, emb, replace(params, max_waves=1)).run(ckpt=ck)
    st = ck.load_state("expressive")
    assert st is not None and st["waves"] == 1
    assert [tuple(e) for e in st["taxonomy"]] == killed
    # resume with the original wave budget: continues waves 2..3
    resumed = ExpressiveExtractor(kg, emb, params).run(ckpt=ck)
    assert resumed == full
    assert ck.load_state("expressive")["waves"] == 3


def test_auto_wave_size_rule(spark):
    """wave_size=None sizes to half the session parallelism, floored at 8
    (reproduces the measured 16 on the 32-core box), and the resolved
    width is pinned into the checkpoint state for resumes."""
    from sparktax.expressive import ExpressiveParams, _State, _auto_wave_size

    assert ExpressiveParams().wave_size is None
    got = _auto_wave_size(spark)
    dp = spark.sparkContext.defaultParallelism
    assert got == max(8, dp // 2)
    # state round-trips the resolved width
    st = _State(wave_size=16)
    assert _State.from_json(st.to_json()).wave_size == 16
    assert _State.from_json(_State().to_json()).wave_size is None


def test_remainder_regeneration_on_relax(ekg, spark):
    """When the queue drains, the relaxed threshold revisits the
    *remainders* of extracted classes (reference extractor.py:90-98) —
    remainder tasks appear and attach children to their base."""
    from sparktax.expressive import ExpressiveExtractor, ExpressiveParams

    kg, triples, info = ekg
    from sparktax.typevec import type_vectors

    emb = type_vectors(kg, k=16).localCheckpoint()
    params = ExpressiveParams(
        size=500, min_size=25, max_waves=6,
        threshold_initial=0.95, threshold_min=0.6, threshold_step=0.1, seed=1,
    )
    ex = ExpressiveExtractor(kg, emb, params)
    edges = ex.run()
    # the relax path ran: final threshold is below the initial one
    assert ex.threshold < 0.95
    # remainder children never appear as parents of non-remainder nodes
    rem_parents = {p for _, p in edges if p.startswith("REM(")}
    assert not rem_parents


def test_named_taxonomy_semi_joins_dims(spark):
    """named_taxonomy must not collect the dims: works against a dim far
    too large to bring to the driver (only the referenced ids land)."""
    import time

    from sparktax.expressive import ExpressiveExtractor
    from sparktax.graph import KnowledgeGraph

    big = 20_000_000
    ents = spark.range(big).select(
        F.col("id"), F.concat(F.lit("dbr:e"), F.col("id")).alias("uri")
    )
    rels = spark.range(1000).select(
        F.col("id"), F.concat(F.lit("rel"), F.col("id")).alias("uri")
    )
    triples = spark.range(1).select(
        F.col("id").alias("h"), F.lit(0).alias("r"), F.col("id").alias("t")
    )
    kg = KnowledgeGraph(triples, ents, rels)
    ex = ExpressiveExtractor.__new__(ExpressiveExtractor)
    ex.kg = kg
    edges = [("AND(C:5,E:7.C:11)", "C:5"), ("REM(C:5|C:9)", "T")]
    t0 = time.perf_counter()
    named = ex.named_taxonomy(edges)
    wall = time.perf_counter() - t0
    assert named == [
        ("dbr:e5 ⊓ ∃rel7.dbr:e11", "dbr:e5"),
        ("*dbr:e5", "⊤"),
    ]
    assert wall < 30  # a full 20M-row toPandas would blow far past this


def test_dry_first_wave_retries_root_at_relaxed_threshold(ekg, spark):
    """A threshold too strict for wave 1 must not terminate with an empty
    taxonomy: the root is always an extracted class (reference
    short_names = {root: root}, extractor.py:173), so relaxation
    re-enqueues REM(⊤) and the search continues."""
    from dataclasses import replace

    from sparktax.expressive import ExpressiveExtractor, ExpressiveParams
    from sparktax.typevec import type_vectors

    kg, triples, info = ekg
    emb = type_vectors(kg, k=16).localCheckpoint()
    # threshold 1.01 is unsatisfiable (scores ≤ 1) → wave 1 finds nothing;
    # with steps of 0.2 down to 0.6 the loop must relax and recover edges
    params = ExpressiveParams(
        size=500, min_size=25, max_waves=6, seed=1,
        threshold_initial=1.01, threshold_min=0.55, threshold_step=0.2,
    )
    ex = ExpressiveExtractor(kg, emb, params)
    edges = ex.run()
    assert len(ex.wave_log) >= 2, "loop terminated after the dry wave"
    assert ex.threshold < 1.01
    assert edges, "no taxonomy after relaxation"


def test_with_valid_types_enables_concept_atoms_on_transcript_kg(spark):
    """Transcript KGs have no dbo: ontology — the default valid-class
    predicate is empty and mine_atoms silently drops every concept atom
    (observed as 7 waves × 0 atoms at 100M scale). with_valid_types()
    (classes = isa tails) restores them."""
    from pyspark.sql import functions as F

    from sparktax.graph.kg import KnowledgeGraph
    from sparktax.induction import frequent_atoms, mine_atoms

    triples = [(i, 1, 900 + (i % 2)) for i in range(40)]  # typing, 2 classes
    triples += [(i, 2, 50) for i in range(40)]            # a relation edge
    ents = [(i, f"E{i}") for i in range(40)] + [
        (900, "W0"), (901, "W1"), (50, "HUB"),
    ]
    kg = KnowledgeGraph(
        spark.createDataFrame(triples, "h long, r long, t long"),
        spark.createDataFrame(ents, "id long, uri string"),
        spark.createDataFrame([(1, "is_a"), (2, "rel")], "id long, uri string"),
        isa_uri="is_a",
    )
    sample = spark.createDataFrame(
        [(0, i) for i in range(40)], "task_id long, h long"
    )
    sizes = sample.groupBy("task_id").agg(F.count("*").alias("n"))

    def concept_atoms(g):
        freq = frequent_atoms(mine_atoms(g, sample), sizes, threshold=0.1)
        return {r.atom for r in freq.collect() if r.atom.startswith("C:")}

    assert concept_atoms(kg) == set()  # dbo: predicate matches nothing
    assert concept_atoms(kg.with_valid_types()) == {"C:900", "C:901"}
