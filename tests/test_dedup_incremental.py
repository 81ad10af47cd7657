"""Incremental dedup against a persisted snapshot index (round-4 verdict
item 3): batch-by-batch processing must equal whole-corpus dedup on the
same data — exact lane (`dedup_exact`) and near lane (`dedup_near`,
the order-stable "suppressed by any earlier doc" rule that makes
incrementality possible at all).

The planted chain X~Y~Z (with X≁Z) uses 8-of-10 shared 120-char a-z
segments: j(X,Y)=j(Y,Z)≈7/9≈0.78 ≥ 0.7, j(X,Z)≈6/10=0.6 < 0.7 —
margins wide enough that char-4-gram boundary noise can't flip them
(and NOT hex text, which degenerates char-n-gram minhash: CLAUDE.md)."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparktax import textops
from sparktax.catalog import current_version, read_snapshot_union, snapshot_history

SF = "/root/testdata/sf0.001"
PARAMS = dict(threshold=0.7, n=4, k=64, bands=16)


def _segments():
    rng = random.Random(7)
    return [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(120))
        for _ in range(10)
    ]


@pytest.fixture(scope="module")
def batches(spark):
    """Id-ordered batches with every suppression path planted: within- and
    cross-batch exact dups, a cross-batch near dup, and a doc suppressed
    by an already-DROPPED doc (the chain case connected components would
    resolve differently)."""
    segs = _segments()
    x = " ".join(segs[0:8])
    y = " ".join(segs[1:9])
    z = " ".join(segs[2:10])
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 200).unionByName(
        spark.createDataFrame(pd.DataFrame({"doc_id": [900001], "text": [x]}))
    )
    b2 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400)).unionByName(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [910001, 910002, 910003],
                    "text": [
                        x,  # exact dup of batch-1's 900001
                        y,  # near dup of X (0.78 ≥ 0.7) → dropped
                        "a genuinely novel document about nothing " * 4,
                    ],
                }
            )
        )
    )
    b3 = spark.createDataFrame(
        # near dup of DROPPED Y (0.78), not of kept X (0.6) → still dropped
        pd.DataFrame({"doc_id": [920001], "text": [z]})
    )
    return [b.cache() for b in (b1, b2, b3)]


def _corpus(batches):
    c = batches[0]
    for b in batches[1:]:
        c = c.unionByName(b)
    return c


def test_incremental_near_equals_whole_corpus(spark, batches, tmp_path):
    idx = str(tmp_path / "index")
    got = []
    for batch in batches:
        surv = textops.dedup_incremental(batch, idx, **PARAMS)
        assert surv.columns == ["doc_id", "text"]
        got.extend(r.doc_id for r in surv.select("doc_id").collect())
    want = sorted(
        r.doc_id
        for r in textops.dedup_near(_corpus(batches), **PARAMS)
        .select("doc_id")
        .collect()
    )
    assert sorted(got) == want
    # the planted suppressions actually fired
    assert 900001 in got and 910003 in got
    assert 910001 not in got  # cross-batch exact dup
    assert 910002 not in got  # cross-batch near dup
    assert 920001 not in got  # suppressed by a doc that was itself dropped
    # index bookkeeping: one commit per batch, log unions across versions
    assert current_version(idx) == 3
    hist = snapshot_history(idx)
    assert len(hist) == 3 and all(h["params"]["near"] for h in hist)
    stored = read_snapshot_union(spark, idx)
    assert stored.filter(F.col("sig").isNull()).count() == 0
    # near-dropped docs ARE stored (they suppress future batches) …
    assert stored.filter(F.col("doc_id") == 910002).count() == 1
    # … exact-dropped docs are NOT
    assert stored.filter(F.col("doc_id") == 910001).count() == 0


def test_incremental_exact_lane_only(spark, batches, tmp_path):
    idx = str(tmp_path / "index_exact")
    got = []
    for batch in batches:
        surv = textops.dedup_incremental(batch, idx, near=False, **PARAMS)
        got.extend(r.doc_id for r in surv.select("doc_id").collect())
    want = sorted(
        r.doc_id
        for r in textops.dedup_exact(_corpus(batches)).select("doc_id").collect()
    )
    assert sorted(got) == want
    assert 910001 not in got and 910002 in got  # near lane off
    stored = read_snapshot_union(spark, idx)
    assert stored.filter(F.col("sig").isNotNull()).count() == 0


def test_rollback_makes_batch_invisible(spark, batches, tmp_path):
    from sparktax.catalog import rollback_snapshot

    idx = str(tmp_path / "index_rb")
    b1, b2, _ = batches
    s1 = textops.dedup_incremental(b1, idx, **PARAMS).count()
    assert s1 > 0
    drop2 = textops.dedup_incremental(b2, idx, **PARAMS)
    ids2 = {r.doc_id for r in drop2.select("doc_id").collect()}
    rollback_snapshot(idx, 1)
    # re-ingesting batch 2 after rollback reproduces its original result
    surv2 = textops.dedup_incremental(b2, idx, **PARAMS)
    assert {r.doc_id for r in surv2.select("doc_id").collect()} == ids2


def test_dedup_near_honours_id_col(spark, batches):
    """``dedup_near(id_col=...)`` runs its exact lane on ``id_col`` too: a
    frame keyed by another column name keeps the same survivors."""
    corpus = _corpus(batches)
    want = sorted(
        r.doc_id for r in textops.dedup_near(corpus, **PARAMS).select("doc_id").collect()
    )
    renamed = corpus.withColumnRenamed("doc_id", "key")
    surv = textops.dedup_near(renamed, id_col="key", **PARAMS)
    assert surv.columns == ["key", "text"]
    assert sorted(r.key for r in surv.select("key").collect()) == want
    assert 910001 not in want and 910002 not in want  # both lanes fired
