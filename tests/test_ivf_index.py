"""Persisted IVF inverted lists (round-4 verdict item 6): assignments
bucketed by cell, probe bucket-prunes at scan time, results identical to
the in-memory `ivf_topk` for the same centroids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparktax.simsearch import (
    ivf_topk,
    ivf_topk_indexed,
    materialize_ivf_index,
    train_ivf_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def setup(spark, emb, tmp_path_factory):
    C = train_ivf_centroids(emb, 8, seed=7)
    path = str(tmp_path_factory.mktemp("ivf") / "lists")
    idx = materialize_ivf_index(spark, emb, path, C)
    return C, idx, path


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, round(r.score, 6), r.rank)
        for r in df.collect()
    )


def test_indexed_matches_in_memory(spark, emb, setup):
    C, idx, _ = setup
    queries = emb.orderBy("vec_id").limit(4)
    base = ivf_topk(emb, queries, k=3, n_cells=8, n_probe=3, centroids=C)
    via_index = ivf_topk_indexed(idx, queries, C, k=3, n_probe=3)
    assert _rows(base) == _rows(via_index)


def test_probe_scans_only_matching_buckets(spark, emb, setup):
    import re

    C, idx, _ = setup
    queries = emb.orderBy("vec_id").limit(2)
    df = ivf_topk_indexed(idx, queries, C, k=3, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "bucket pruning not visible in the plan"
    selected, total = int(m.group(1)), int(m.group(2))
    assert total == 8 and 0 < selected < total, (selected, total)
    # 2 queries × 2 probes → at most 4 distinct cells scanned
    assert selected <= 4


def test_index_reuse_and_full_probe_exactness(spark, emb, setup):
    C, idx, path = setup
    # idempotent rebuild: same dirpath returns the existing table
    idx2 = materialize_ivf_index(spark, emb, path, C)
    assert idx2.count() == idx.count() == emb.count()
    # full probe over the index == brute force (candidate set = corpus)
    from sparktax.simsearch import cosine_topk

    queries = emb.orderBy("vec_id").limit(3)
    full = ivf_topk_indexed(idx, queries, C, k=3, n_probe=8)
    brute = cosine_topk(emb, queries, k=3)
    assert _rows(full) == _rows(brute)


def test_float_index_build_is_one_scan_no_join(spark, emb, tmp_path, monkeypatch):
    """The float build writes the cells and the vector payload from one
    projection over one scan: no join brings the vectors back."""
    import sparktax.catalog as catalog

    written = []
    real = catalog.write_bucketed

    def spy(rows, *args, **kwargs):
        written.append(rows)
        real(rows, *args, **kwargs)

    monkeypatch.setattr(catalog, "write_bucketed", spy)
    C = train_ivf_centroids(emb, 8, seed=7)
    # an uncached read: the plan shows its file scans
    fresh = spark.read.parquet(f"{SF}/embeddings.parquet")
    materialize_ivf_index(spark, fresh, str(tmp_path / "lists"), C)
    (rows,) = written
    assert rows.columns == ["id", "cell", "vec"]
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan ") == 1, plan
    assert "Join" not in plan, plan
