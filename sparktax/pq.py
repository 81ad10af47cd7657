"""Product quantization (PQ) and IVF+PQ approximate nearest neighbor —
the billion-vector scale path of the similarity-search family.

Reference scope: the reference engine's similarity surface is exact
centroid/cosine math (libs/clustering/spark.py distance matrices); PQ is
a repo addition for the 100 TB training-data lane, following the public
IVFADC design (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011; the FAISS IVF,PQ index family).

Why it matters at scale: 10⁹ documents × 768-dim float32 embeddings are
~3 TB of raw vectors — too big to scan per query. PQ splits each vector
into ``m_sub`` subvectors and replaces each with the id of its nearest
per-subspace centroid (a "code"): ``m_sub`` small ints per vector
(96 bytes at m_sub=96), a 32–64× compression. Queries score against the
COMPRESSED codes via ADC (asymmetric distance computation): one tiny
lookup table per query (``m_sub × n_codes`` partial dot products against
the codebooks), then a score is ``m_sub`` table lookups summed — no raw
vectors touched until an optional exact rerank of the few survivors.

Spark shapes (all JVM-side joins/aggregates, no cross join anywhere):

- codebook training: driver-side numpy Lloyd on the same seeded
  hash-ranked BOUNDED sample as the IVF centroids
  (``simsearch._trainer_sample``); codebooks are tiny and travel in the
  encode UDF's closure or as a broadcast weight table.
- encoding: one narrow pass — Arrow-batched BLAS argmin per subspace
  (``mode="float"``), or ``simsearch._slice_dots`` (``mode="md5int"``):
  the all-integer dots every md5int lane shares, which make the codes
  bit-identical in any engine (the DuckDB oracle lane; CLAUDE.md round-4
  device: ``round(x·2²⁰)`` integer quantization is immune to float
  summation order).
- ADC scan: corpus codes posexplode (×m_sub) ⋈ broadcast per-query LUT
  on (sub, code) → partial-aggregated sum per (query, doc). The corpus
  side carries ONLY (id, code) pairs through the scan — at 10⁹ docs the
  scan reads the ~100 GB code table, never the 3 TB vectors.
- IVF composition (:func:`ivfpq_topk`): the cell probe of
  ``simsearch.ivf_candidates`` (the same assignment, ``top_cells``, and
  the same cell equi-join as ``ivf_topk``; only the id pairs are kept)
  prunes candidates to ``n_probe/n_cells`` of the corpus BEFORE any ADC
  scoring. Non-residual variant (codes quantize the raw vector, not the
  cell residual): FAISS's ``by_residual=False`` — chosen so the same code
  table serves every cell and the oracle stays integer-exact; documented
  deviation from the TPAMI default.

Exactness guarantee used by the tests: with ``n_probe=n_cells`` and
``rerank`` ≥ the candidate count, :func:`ivfpq_topk` degrades to the
exact rounded-cosine top-k (same device as ``ivf_full_probe``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from sparktax.simsearch import (
    _quantize,
    _slice_dots,
    _trainer_sample,
    ivf_candidates,
    rerank_cosine,
    top_k,
    train_ivf_centroids,
)

__all__ = [
    "train_pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
]


def _lloyd_l2(X: np.ndarray, n_codes: int, iters: int, seed: int) -> np.ndarray:
    """Plain (L2) k-means Lloyd iterations on a row-ORDERED sample matrix.

    PQ codebooks minimize Euclidean reconstruction error per subspace, so
    unlike the spherical ``simsearch._lloyd`` the centroids are NOT
    re-normalized. Factored out so the DuckDB oracle builder recomputes
    bit-identical codebooks from the same md5-rank-ordered sample (row
    order feeds the seeded init AND the mean-summation order). Ties in
    the assignment break toward the LOWER code index (np.argmin), the
    same rule the engine's integer encoder uses."""
    X = X.astype(float)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_codes, len(X)), replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def train_pq_codebooks(
    embeddings: DataFrame,
    m_sub: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rank_on: str = "xxhash64",
) -> np.ndarray:
    """Per-subspace PQ codebooks, trained driver-side on a seeded
    hash-ordered bounded sample (the IVF trainer's). Returns a
    ``(m_sub, n_codes, sub_dim)`` array — tiny by construction
    (m_sub·n_codes·sub_dim = dim·n_codes floats).

    Subspace ``m`` trains with ``seed + m`` so codebooks differ across
    subspaces even on degenerate data. ``rank_on="md5"`` orders the
    sample by the engine-portable md5 rank (hashlib-replicable), making
    the codebooks reproducible outside Spark — the oracle lane."""
    X = _trainer_sample(embeddings, sample, seed, id_col, vec_col, rank_on)
    dim = X.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub_dim = dim // m_sub
    return np.stack(
        [
            _lloyd_l2(X[:, m * sub_dim : (m + 1) * sub_dim], n_codes, iters, seed + m)
            for m in range(m_sub)
        ]
    )


def _encode_int(
    df: DataFrame, codebooks: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, codes array<int>) by ALL-INTEGER squared L2 distance: both
    the vector elements and the codebook entries quantize to
    ``round(·2²⁰)`` longs. Per (id, sub), ``Σ(q−w)² = Σq² + ‖w‖² − 2q·w``
    and ``Σq²`` is constant, so ranking ``‖w‖² − 2s`` over the shared
    :func:`~sparktax.simsearch._slice_dots` picks the same code —
    order-immune and bit-identical in any engine. Ties break toward the
    LOWER code index (matching ``_lloyd_l2``'s np.argmin and the DuckDB
    twin)."""
    Cq = _quantize(codebooks)
    n_codes = Cq.shape[1]
    norms = F.array(
        *[F.lit(int(v)).cast("long") for v in (Cq**2).sum(axis=2).ravel()]
    )
    dist = _slice_dots(df, Cq, id_col, vec_col).withColumn(
        "d",
        F.element_at(norms, F.col("sub") * n_codes + F.col("code") + 1)
        - 2 * F.col("s"),
    )
    w = Window.partitionBy("id", "sub").orderBy(F.asc("d"), F.asc("code"))
    best = dist.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return best.groupBy("id").agg(
        # native field projection (GetArrayStructFields) instead of an
        # interpreted per-element transform lambda
        F.array_sort(F.collect_list(F.struct("sub", "code")))
        .getField("code")
        .alias("codes")
    )


def _encode_float_udf(codebooks: np.ndarray):
    """Arrow-batched BLAS encoder: per subspace, argmin ‖x−c‖² =
    argmin(‖c‖² − 2x·c) — one matmul per subspace per batch. Ties break
    toward the lower code index (np.argmin), same as the integer lane."""
    C = codebooks.astype(np.float64)  # (m_sub, n_codes, sub_dim)
    m_sub, _, sub_dim = C.shape
    Cn = (C**2).sum(axis=2)  # (m_sub, n_codes)

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        out = np.empty((len(X), m_sub), dtype=np.int32)
        for m in range(m_sub):
            Xm = X[:, m * sub_dim : (m + 1) * sub_dim]
            out[:, m] = np.argmin(Cn[m] - 2.0 * (Xm @ C[m].T), axis=1)
        return pd.Series(list(out))

    return _codes


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "float",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to its ``m_sub``
    per-subspace nearest-codebook ids. One narrow pass over the corpus;
    the output is the ONLY thing the ADC scan ever reads.

    ``mode="float"``: vectorized BLAS argmin (production).
    ``mode="md5int"``: all-integer distances — with md5-rank-trained
    codebooks the codes are engine-reproducible (the oracle lane)."""
    if mode == "md5int":
        return _encode_int(embeddings, codebooks, id_col, vec_col)
    if mode != "float":
        raise ValueError(f"mode must be 'float' or 'md5int', got {mode!r}")
    codes = _encode_float_udf(codebooks)
    return embeddings.select(
        F.col(id_col).alias("id"), codes(F.col(vec_col)).alias("codes")
    )


def _adc_lut(
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
    mode: str,
) -> DataFrame:
    """(query_id, sub, code, w) — the per-query ADC lookup table:
    w = q_sub · c_{sub,code}. m_sub·n_codes rows per query — broadcast
    side by construction. Integer mode sums quantized products (exact in
    any engine); float mode the same join shape in doubles."""
    W = _quantize(codebooks) if mode == "md5int" else codebooks.astype(float)
    return _slice_dots(queries, W, id_col, vec_col).select(
        F.col("id").alias("query_id"), "sub", "code", F.col("s").alias("w")
    )


def _adc_score(codes: DataFrame, lut: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, score) — posexplode the code arrays
    (×m_sub) and sum LUT lookups. The broadcast LUT join + hash
    aggregate is whole-stage-codegen'd; partial aggregation runs
    map-side so the exchange carries one row per (query, doc)."""
    exploded = codes.select(
        F.col("id").alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    return (
        exploded.join(broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("w").alias("score"))
    )


def _top_k_reranked(
    approx: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-``k`` of the ADC scores. With ``rerank`` > 0: keep each
    query's top-``rerank`` ADC candidates, fetch ONLY their raw vectors
    (equi-join on id — at 10⁹ docs this touches ``rerank`` rows per
    query, not the corpus), and rank by exact rounded cosine instead."""
    if rerank > 0:
        shortlist = top_k(approx, rerank).select("query_id", "neighbor_id")
        approx = rerank_cosine(shortlist, embeddings, queries, id_col, vec_col)
    return top_k(approx, k)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
    codes: DataFrame | None = None,
    mode: str = "float",
    rerank: int = 0,
) -> DataFrame:
    """ADC top-k over the WHOLE compressed corpus — the brute-force-
    over-codes baseline (FAISS ``PQ`` index). Each query's score against
    a doc is ``m_sub`` lookup-table reads summed; the corpus scan reads
    only the code table (≈100 GB at 10⁹ docs vs 3 TB raw).

    ``rerank=R > 0`` re-ranks each query's top-R ADC candidates by exact
    cosine (raw vectors fetched for those R only). Without rerank the
    returned ``score`` is the ADC approximation (long in ``md5int``
    mode, double in ``float`` mode).

    Pass ``codes=`` (a ``pq_encode`` output, e.g. read back from
    parquet) to skip re-encoding — the incremental/production path."""
    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings,
            m_sub,
            n_codes,
            sample,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            rank_on="md5" if mode == "md5int" else "xxhash64",
        )
    if codes is None:
        codes = pq_encode(embeddings, codebooks, id_col, vec_col, mode)
    lut = _adc_lut(queries, codebooks, id_col, vec_col, mode)
    approx = _adc_score(codes, lut)
    return _top_k_reranked(approx, embeddings, queries, k, rerank, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    n_codes: int = 16,
    sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    mode: str = "float",
    rerank: int = 0,
) -> DataFrame:
    """IVF + PQ (the FAISS ``IVFx,PQy`` composition, non-residual): the
    coarse-cell equi-join prunes candidates to ``n_probe/n_cells`` of
    the corpus, then ADC scores ONLY those candidates, then (optionally)
    exact-rerank the top-``rerank``. The three-stage funnel is the
    canonical billion-vector shape: cell join touches (id, cell) pairs,
    ADC touches codes of the probed cells, exact cosine touches
    ``rerank`` raw vectors per query.

    Exactness anchor (tested): ``n_probe=n_cells`` + ``rerank`` ≥
    candidate count degrades to the exact rounded-cosine top-k."""
    rank_on = "md5" if mode == "md5int" else "xxhash64"
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_cells, sample, seed=seed,
            id_col=id_col, vec_col=vec_col, rank_on=rank_on,
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings, m_sub, n_codes, sample, seed=seed,
            id_col=id_col, vec_col=vec_col, rank_on=rank_on,
        )
    cand = ivf_candidates(
        embeddings, queries, centroids, n_probe, mode, id_col, vec_col
    ).select("query_id", "neighbor_id")
    codes = pq_encode(embeddings, codebooks, id_col, vec_col, mode)
    lut = _adc_lut(queries, codebooks, id_col, vec_col, mode)
    # ADC over candidates only: explode the candidate docs' codes (×m_sub)
    exploded = cand.join(
        codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    ).select("query_id", "neighbor_id", F.posexplode("codes").alias("sub", "code"))
    approx = (
        exploded.join(broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("w").alias("score"))
    )
    return _top_k_reranked(approx, embeddings, queries, k, rerank, id_col, vec_col)
