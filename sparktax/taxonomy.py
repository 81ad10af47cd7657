"""Taxonomy edges: closure, reduction round-trip partner, evaluation.

Driver-side sets of (child, parent) tuples — taxonomies are ≤ hundreds of
edges (reference data/taxonomy/full.txt = 589).

Reference: libs/taxonomy/evaluation.py:4-55.
"""

from __future__ import annotations


# ------------------------------------------------------------------ driver
def transitive_closure(axioms: set[tuple]) -> set[tuple]:
    """Tree-semantics closure: each child has ONE parent; raises on cycles
    and on rootless (fully cyclic) inputs — matching the reference."""
    if not axioms:
        return set()
    children = {c for c, _ in axioms}
    parents = {p for _, p in axioms}
    if not (parents - children):
        raise ValueError("Taxonomy contains a cycle")
    up = {c: p for c, p in axioms}
    out = set(axioms)
    for c in up:
        seen = {c}
        node = c
        while node in up:
            node = up[node]
            if node in seen:
                raise ValueError(f"Taxonomy contains a cycle involving {node}")
            seen.add(node)
            out.add((c, node))
    return out


def evaluate(true_axioms: set[tuple], pred_axioms: set[tuple]) -> tuple[float, float, float]:
    """Direct precision / recall / F1 over edge sets."""
    tp = len(set(pred_axioms) & set(true_axioms))
    p = tp / len(pred_axioms) if pred_axioms else 0.0
    r = tp / len(true_axioms) if true_axioms else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f1


def evaluate_full(
    true_axioms: set[tuple], pred_axioms: set[tuple]
) -> tuple[tuple[float, float, float], tuple[float, float, float]]:
    """(direct, transitive) P/R/F1 — the reference's headline metric
    (README.md results table)."""
    direct = evaluate(true_axioms, pred_axioms)
    closed = evaluate(transitive_closure(set(true_axioms)), transitive_closure(set(pred_axioms)))
    return direct, closed
