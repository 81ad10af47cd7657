"""Hierarchical agglomerative clustering in pure numpy.

The container has no sklearn/scipy, so the HAC kernel that the reference
gets from ``sklearn.cluster.AgglomerativeClustering``
(reference libs/cluster/_cluster.py:17-49) is reimplemented here:

* nearest-neighbor-chain algorithm — O(n²) time, O(n²) memory — valid for
  the reducible linkages (single, complete, average, ward);
* Lance-Williams distance updates;
* scipy-style relabeling: merges sorted by height, cluster ids assigned in
  that order (leaves 0..n-1, internal n..2n-2) so the output ``children``
  matches sklearn's ``children_`` contract exactly.

This runs ONLY inside grouped Arrow UDFs on sample-bounded inputs
(n ≤ a few thousand by design — the reference's own scalability lever,
libs/expressive/params.py:9); it is never distributed.
"""

from __future__ import annotations

import numpy as np

LINKAGES = ("ward", "average", "complete", "single")
METRICS = ("euclidean", "sqeuclidean", "cosine", "cityblock")


def pairwise_distance(X: np.ndarray, metric: str = "euclidean") -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    if metric in ("euclidean", "sqeuclidean"):
        sq = np.sum(X * X, axis=1)
        d2 = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
        np.maximum(d2, 0.0, out=d2)
        return d2 if metric == "sqeuclidean" else np.sqrt(d2)
    if metric == "cosine":
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Y = X / norms[:, None]
        return np.clip(1.0 - Y @ Y.T, 0.0, 2.0)
    if metric == "cityblock":
        return np.abs(X[:, None, :] - X[None, :, :]).sum(axis=2)
    raise ValueError(f"unknown metric {metric!r}")


def _lance_williams(
    d_xi: np.ndarray, d_yi: np.ndarray, d_xy: float, nx: int, ny: int, ni: np.ndarray, linkage: str
) -> np.ndarray:
    """Distance from merged cluster (x∪y) to every other cluster i."""
    if linkage == "single":
        return np.minimum(d_xi, d_yi)
    if linkage == "complete":
        return np.maximum(d_xi, d_yi)
    if linkage == "average":
        return (nx * d_xi + ny * d_yi) / (nx + ny)
    if linkage == "ward":
        # operates on SQUARED euclidean distances
        tot = nx + ny + ni
        return ((nx + ni) * d_xi + (ny + ni) * d_yi - ni * d_xy) / tot
    raise ValueError(f"unknown linkage {linkage!r}")


def hac_children(
    X: np.ndarray, linkage: str = "ward", metric: str = "euclidean"
) -> tuple[np.ndarray, np.ndarray]:
    """→ (children[n-1, 2], heights[n-1]).

    ``children[k]`` are the two cluster ids merged to form cluster ``n + k``
    (sklearn ``children_`` contract). Heights are the linkage distances
    (squared-euclidean scale for ward), nondecreasing.
    """
    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    if n < 2:
        return np.empty((0, 2), dtype=np.int64), np.empty(0)
    if linkage == "ward":
        if metric not in ("euclidean", "sqeuclidean"):
            raise ValueError("ward requires euclidean distances")
        D = pairwise_distance(X, "sqeuclidean")
    else:
        D = pairwise_distance(X, metric)
    np.fill_diagonal(D, np.inf)

    active = np.ones(n, dtype=bool)
    sizes = np.ones(n, dtype=np.int64)
    # representative leaf of the cluster living in each slot
    merges: list[tuple[int, int, float]] = []  # (slot_a_rep, slot_b_rep, height)
    rep = np.arange(n)

    chain: list[int] = []
    n_merges = 0
    while n_merges < n - 1:
        if not chain:
            chain.append(int(np.argmax(active)))
        x = chain[-1]
        row = np.where(active, D[x], np.inf)
        row[x] = np.inf
        y = int(np.argmin(row))
        if len(chain) > 1 and row[chain[-2]] <= row[y]:
            y = chain[-2]  # prefer reciprocal pair on ties
        if len(chain) > 1 and y == chain[-2]:
            # reciprocal nearest neighbors → merge x and y
            chain.pop()
            chain.pop()
            h = float(D[x, y])
            merges.append((rep[x], rep[y], h))
            # merged cluster lives in slot min(x,y)
            keep, drop = (x, y) if x < y else (y, x)
            ni = sizes[active]
            idx = np.where(active)[0]
            newd = _lance_williams(
                D[keep, idx], D[drop, idx], h, sizes[keep], sizes[drop], sizes[idx], linkage
            )
            D[keep, idx] = newd
            D[idx, keep] = newd
            D[keep, keep] = np.inf
            active[drop] = False
            sizes[keep] += sizes[drop]
            n_merges += 1
        else:
            chain.append(y)

    # scipy-style label step: sort merges by height (stable), assign ids
    heights = np.array([m[2] for m in merges])
    order = np.argsort(heights, kind="stable")
    uf = np.arange(2 * n - 1, dtype=np.int64)  # union-find over cluster ids

    def find(i: int) -> int:
        root = i
        while uf[root] != root:
            root = uf[root]
        while uf[i] != root:
            uf[i], i = root, uf[i]
        return root

    children = np.empty((n - 1, 2), dtype=np.int64)
    out_heights = np.empty(n - 1)
    for new_k, mi in enumerate(order):
        a_rep, b_rep, h = merges[mi]
        ca, cb = find(a_rep), find(b_rep)
        new_id = n + new_k
        children[new_k] = (min(ca, cb), max(ca, cb))
        out_heights[new_k] = h
        uf[ca] = new_id
        uf[cb] = new_id
    return children, out_heights


def leaf_closure(children: np.ndarray) -> list[tuple[int, int]]:
    """(ancestor_or_self, leaf) pairs for every leaf (the roll-up table,
    reference init_composition, libs/cluster/_cluster.py:88-111)."""
    n = len(children) + 1
    members: list[list[int]] = [[i] for i in range(n)]
    out: list[tuple[int, int]] = [(i, i) for i in range(n)]
    for k, (a, b) in enumerate(children):
        merged = members[a] + members[b]
        members.append(merged)
        node = n + k
        out.extend((node, leaf) for leaf in merged)
    return out
