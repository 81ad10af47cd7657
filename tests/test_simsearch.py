"""Similarity search on the real embeddings table: brute force vs numpy
oracle; LSH recall vs brute force; centroids vs numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparktax.simsearch import centroid_per_label, cosine_topk, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _numpy_topk(E, ids, qids, k):
    M = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    id_pos = {v: i for i, v in enumerate(ids)}
    for q in qids:
        sims = M @ M[id_pos[q]]
        sims[id_pos[q]] = -np.inf
        order = np.lexsort((ids, -np.round(sims, 6)))
        out[q] = [(ids[i], round(float(sims[i]), 6)) for i in order[:k]]
    return out


def test_cosine_topk_vs_numpy(spark, emb):
    pdf = emb.toPandas()
    E = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    queries = emb.orderBy("vec_id").limit(5)
    got = cosine_topk(emb, queries, k=4).toPandas()
    want = _numpy_topk(E, ids, sorted(ids)[:5], 4)
    for q, pairs in want.items():
        rows = got[got.query_id == q].sort_values("rank")
        assert list(rows.neighbor_id) == [p[0] for p in pairs]
        np.testing.assert_allclose(rows.score.to_numpy(), [p[1] for p in pairs], atol=2e-6)


def test_pair_cosine_matches_hof_expr(spark, emb):
    """The codegen'd posexplode+groupBy rerank must score identically (at
    the 6dp contract) to the interpreted zip_with/aggregate expression it
    replaced on the hot paths."""
    from sparktax.simsearch import cosine_similarity_expr, pair_cosine

    e = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_va"))
    f = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_vb"))
    pairs = e.join(f, F.col("a") < F.col("b")).limit(2000).cache()
    got = (
        pair_cosine(pairs, "_va", "_vb", ["a", "b"], out="c")
        .toPandas()
        .sort_values(["a", "b"])
    )
    want = (
        pairs.select(
            "a", "b", F.round(cosine_similarity_expr("_va", "_vb"), 6).alias("c")
        )
        .toPandas()
        .sort_values(["a", "b"])
    )
    assert list(got.a) == list(want.a) and list(got.b) == list(want.b)
    np.testing.assert_allclose(got.c.to_numpy(), want.c.to_numpy(), atol=1.1e-6)
    pairs.unpersist()


def test_lsh_topk_recall(spark, emb):
    dim = len(emb.select("embedding").first()[0])
    queries = emb.orderBy("vec_id").limit(10)
    exact = cosine_topk(emb, queries, k=3).toPandas()
    approx = lsh_topk(emb, queries, dim=dim, k=3, n_planes=16, n_bands=8).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    # sign-LSH with 8 bands of 2 bits is high-recall at small scale
    assert len(a & e) / len(e) >= 0.7


def test_ivf_topk_recall_and_exactness_at_full_probe(spark, emb):
    from sparktax.simsearch import ivf_topk, top_cells, train_ivf_centroids

    queries = emb.orderBy("vec_id").limit(10)
    exact = cosine_topk(emb, queries, k=3).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))

    cents = train_ivf_centroids(emb, n_cells=8, sample=512, seed=3)
    # every vector lands in exactly one cell
    cells = top_cells(emb, cents, 1, "float").toPandas()
    assert len(cells) == emb.count() == cells.id.nunique()
    assert cells.cell.between(0, len(cents) - 1).all()
    assert cells.cell.nunique() > 1  # clustering actually split the corpus

    # probing every cell ⇒ candidate set = full corpus ⇒ exact results
    full = ivf_topk(
        emb, queries, k=3, n_probe=len(cents), centroids=cents
    ).toPandas()
    f = set(zip(full.query_id, full.neighbor_id))
    assert f == e

    # realistic probe count (half the cells): high recall on the fixture
    approx = ivf_topk(emb, queries, k=3, n_probe=4, centroids=cents).toPandas()
    a = set(zip(approx.query_id, approx.neighbor_id))
    assert len(a & e) / len(e) >= 0.75


@pytest.mark.parametrize("mode", ["float", "md5int"])
def test_ivf_candidates_pairs_are_unique(spark, emb, mode):
    """A corpus vector has one top-1 cell and a query's n_probe cells are
    distinct, so the cell probe yields every (query, neighbor) pair at
    most once without a distinct — at n_probe < n_cells in both
    assignment modes."""
    from sparktax.simsearch import ivf_candidates, train_ivf_centroids

    queries = emb.orderBy("vec_id").limit(10)
    cents = train_ivf_centroids(
        emb, n_cells=8, sample=512, seed=3,
        rank_on="md5" if mode == "md5int" else "xxhash64",
    )
    pairs = [
        (r.query_id, r.neighbor_id)
        for r in ivf_candidates(emb, queries, cents, 3, mode)
        .select("query_id", "neighbor_id")
        .collect()
    ]
    assert pairs and all(q != n for q, n in pairs)
    assert len(pairs) == len(set(pairs))


def test_centroids_vs_numpy(spark, emb):
    got = centroid_per_label(emb).toPandas()
    pdf = emb.toPandas()
    for r in got.itertuples(index=False):
        sub = np.stack(pdf[pdf.label == r.label].embedding.to_numpy()).astype(np.float64)
        np.testing.assert_allclose(np.array(r.centroid), sub.mean(axis=0), atol=1e-6)
        d = np.linalg.norm(sub - sub.mean(axis=0), axis=1)
        assert r.radius == pytest.approx(np.sqrt((d**2).mean()), abs=1e-6)


def test_multimodal_plumbing(spark):
    from sparktax.multimodal import (
        MEDIA,
        extract_features,
        gen_media_pdf,
        resize_metadata,
        sample_frames,
    )

    media = spark.createDataFrame(gen_media_pdf(30), schema=MEDIA)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert feats.feature.map(len).eq(16).all()
    assert (feats.n_bytes > 0).all()
    # deterministic
    feats2 = extract_features(media).toPandas()
    assert feats.sort_values("media_id").feature.map(tuple).tolist() == \
        feats2.sort_values("media_id").feature.map(tuple).tolist()

    frames = sample_frames(media, every_ms=5000, max_frames=4).toPandas()
    assert set(frames.media_id).issubset(set(media.filter("kind='video'").toPandas().media_id))
    assert frames.frame.map(len).eq(16).all()
    assert frames.groupby("media_id").frame_idx.max().le(3).all()

    rz = resize_metadata(media, max_side=32).toPandas()
    assert (rz[["target_width", "target_height"]].max(axis=1) <= 32).all()

    # codec formats (opaque bytes) still raise under the real decoder
    import pytest as _pt

    with _pt.raises(Exception):
        extract_features(media, decoder="real").collect()


def test_media_fixture_builds_without_arrow(spark):
    """Round-2 driver crash (CORRECTNESS_r02 `media_features`): the harness
    session has Arrow conversion OFF, so float64-coerced width/height columns
    failed IntegerType verification. gen_media_pdf must yield object-dtype
    Python ints/None so createDataFrame works under any session config."""
    from sparktax.multimodal import MEDIA, gen_media_pdf

    pdf = gen_media_pdf(24, seed=9, real_payloads=True)
    for col in ("width", "height", "duration_ms"):
        assert pdf[col].dtype == object
        assert all(v is None or type(v) is int for v in pdf[col])

    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        df = spark.createDataFrame(pdf, schema=MEDIA)
        rows_off = sorted(
            tuple(r) for r in df.select("media_id", "width", "duration_ms").collect()
        )
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        df_on = spark.createDataFrame(pdf, schema=MEDIA)
        rows_on = sorted(
            tuple(r) for r in df_on.select("media_id", "width", "duration_ms").collect()
        )
        assert rows_off == rows_on and len(rows_off) == 24
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def test_multimodal_real_decode(spark):
    """PPM/WAV decode natively (numpy-only): real features end-to-end,
    codec round-trips exact, resize matches the SQL bookkeeping."""
    import numpy as np

    from sparktax.multimodal import (
        MEDIA,
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
        extract_features,
        gen_media_pdf,
        resize_images,
        resize_metadata,
    )

    # codec round-trips
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, size=(13, 7, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_ppm(encode_ppm(img)), img)
    rate, pcm = 8000, np.sin(np.linspace(0, 40, 8000)).astype(np.float32) * 0.5
    r2, pcm2 = decode_wav(encode_wav(pcm, rate))
    assert r2 == rate
    np.testing.assert_allclose(pcm2, pcm, atol=1.5 / 32767)

    pdf = gen_media_pdf(30, seed=7, real_payloads=True)
    media = spark.createDataFrame(pdf, schema=MEDIA)
    non_video = media.filter("kind != 'video'")
    feats = extract_features(non_video, decoder="real").toPandas()
    assert len(feats) == non_video.count()
    assert feats.feature.map(len).eq(16).all()
    # audio rms ≈ amplitude/√2 for a sine: must be positive and ≤ peak
    au = feats[feats.kind == "audio"].feature.map(lambda f: f[0])
    pk = feats[feats.kind == "audio"].feature.map(lambda f: f[2])
    assert (au > 0.05).all() and (au <= pk + 1e-6).all()
    # image means land inside (0, 1)
    im = feats[feats.kind == "image"].feature.map(lambda f: f[0])
    assert im.between(0.01, 0.99).all()

    # real pixel resize agrees with the SQL bookkeeping and stays decodable
    rz = resize_images(media, max_side=32).toPandas().set_index("media_id")
    meta = resize_metadata(media, max_side=32).toPandas().set_index("media_id")
    assert set(rz.index) == set(meta.index)
    for mid in rz.index:
        assert rz.loc[mid, "width"] == meta.loc[mid, "target_width"]
        assert rz.loc[mid, "height"] == meta.loc[mid, "target_height"]
        out = decode_ppm(rz.loc[mid, "payload"])
        assert out.shape == (rz.loc[mid, "height"], rz.loc[mid, "width"], 3)
        assert max(out.shape[:2]) <= 32


def test_lsh_md5int_mode_matches_blocking_semantics(spark, emb):
    """The md5int plane mode (integer weights + 2^20 quantization — the
    DuckDB-oracle path) is the same algorithm as the gauss mode: packed
    sign signatures, banded candidates, exact rerank. Check signatures are
    deterministic, bounded, and the top-k output ranks on rounded cosine
    like the gauss path."""
    from sparktax.simsearch import hyperplane_signatures, lsh_topk

    dim = len(emb.select("embedding").first()[0])
    s1 = {r.id: r.sig for r in
          hyperplane_signatures(emb, dim, plane_gen="md5int").collect()}
    s2 = {r.id: r.sig for r in
          hyperplane_signatures(emb, dim, plane_gen="md5int").collect()}
    assert s1 == s2 and len(s1) == emb.count()
    assert all(0 <= v < (1 << 16) for v in s1.values())
    assert len(set(s1.values())) > 1  # signatures discriminate
    queries = emb.orderBy("vec_id").limit(3)
    out = lsh_topk(emb, queries, dim=dim, k=4, plane_gen="md5int").collect()
    assert all(r.rank <= 4 and r.query_id != r.neighbor_id for r in out)
    # candidates that survive are real near neighbors: scores sorted desc
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.score))
    for pairs in by_q.values():
        pairs.sort()
        scores = [s for _, s in pairs]
        assert scores == sorted(scores, reverse=True)


def test_ivf_md5int_mode_deterministic_and_sane(spark, emb):
    """The reproducible IVF mode (md5-rank-trained centroids + integer
    quantized assignment — the DuckDB-oracle path): deterministic across
    runs, same output shape/ranking contract as the float path, and
    recall parity on well-separated data."""
    from sparktax.simsearch import ivf_topk, train_ivf_centroids

    queries = emb.orderBy("vec_id").limit(3)
    r1 = sorted(
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in ivf_topk(emb, queries, k=4, n_cells=8, n_probe=3,
                          assign_mode="md5int").collect()
    )
    r2 = sorted(
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in ivf_topk(emb, queries, k=4, n_cells=8, n_probe=3,
                          assign_mode="md5int").collect()
    )
    assert r1 == r2 and len(r1) > 0
    # md5-rank training is itself deterministic
    c1 = train_ivf_centroids(emb, n_cells=8, rank_on="md5")
    c2 = train_ivf_centroids(emb, n_cells=8, rank_on="md5")
    import numpy as np

    np.testing.assert_array_equal(c1, c2)


def test_semantic_dedup_vs_numpy(spark, emb):
    """SemDeDup kept set equals a numpy brute-force replica of the same
    rule (same centroids, same cell assignment, 6dp-rounded cosine,
    smaller-id suppression) — and planted exact clones always drop."""
    from sparktax.simsearch import semantic_dedup, train_ivf_centroids

    # plant clones: duplicate the first 5 vectors under new ids
    base = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    docs = emb.select("vec_id", "embedding").unionByName(base).cache()
    thr, cells_n = 0.5, 4
    C = train_ivf_centroids(docs, cells_n, 4096, seed=7)
    kept = (
        semantic_dedup(docs, threshold=thr, n_cells=cells_n, seed=7, centroids=C)
        .toPandas()
        .sort_values("id")
    )

    pdf = docs.toPandas()
    E = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    # numpy replica: assign to argmax-dot cell (ties toward higher cell,
    # matching _top_cells_udf), then smaller-id suppression per cell
    dots = E @ C.T
    cell = np.array(
        [int(np.lexsort((-(np.arange(cells_n)), -dots[i]))[0]) for i in range(len(ids))]
    )
    M = E / np.linalg.norm(E, axis=1, keepdims=True)
    order = np.argsort(ids)
    kept_ids = []
    kept_by_cell: dict[int, list[int]] = {}
    for i in order:
        prior = kept_by_cell.get(cell[i], [])
        # suppression is by ANY smaller-id same-cell member, kept or not
        same = [j for j in order if cell[j] == cell[i] and ids[j] < ids[i]]
        if any(round(float(M[j] @ M[i]), 6) >= thr for j in same):
            continue
        kept_ids.append(ids[i])
        kept_by_cell.setdefault(cell[i], []).append(i)
    assert list(kept.id) == sorted(kept_ids)
    # every planted clone has cosine 1.0 to its smaller-id original
    assert not any(k >= 100000 for k in kept.id)
    # cells reported match the numpy assignment
    cell_of = {ids[i]: cell[i] for i in range(len(ids))}
    assert all(cell_of[r.id] == r.cell for r in kept.itertuples())


def test_semantic_dedup_centroid_far_policy(spark, emb):
    """keep='centroid_far' (the paper's rule): within each cell, members
    ordered by (cosine-to-centroid ASC, id) — earlier suppress later.
    Verified against a numpy replica of the reordered sweep."""
    from sparktax.simsearch import semantic_dedup, train_ivf_centroids

    docs = emb.select("vec_id", "embedding").cache()
    thr, cells_n = 0.4, 4
    C = train_ivf_centroids(docs, cells_n, 4096, seed=11)
    kept = (
        semantic_dedup(
            docs, threshold=thr, n_cells=cells_n, seed=11,
            centroids=C, keep="centroid_far",
        )
        .toPandas()
        .sort_values("id")
    )

    pdf = docs.toPandas()
    E = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    dots = E @ C.T
    cell = np.array(
        [int(np.lexsort((-(np.arange(cells_n)), -dots[i]))[0]) for i in range(len(ids))]
    )
    M = E / np.linalg.norm(E, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    csim = np.array([round(float(M[i] @ Cn[cell[i]]), 6) for i in range(len(ids))])
    kept_ids = []
    for c in range(cells_n):
        members = sorted(
            (i for i in range(len(ids)) if cell[i] == c),
            key=lambda i: (csim[i], ids[i]),
        )
        for r, i in enumerate(members):
            if any(
                round(float(M[j] @ M[i]), 6) >= thr for j in members[:r]
            ):
                continue
            kept_ids.append(ids[i])
    assert list(kept.id) == sorted(kept_ids)
