"""Connected components as iterative DataFrame joins.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SOCC'14) — converges in O(log² n) rounds on any
graph and O(log n) in practice, vs O(diameter) for naive label propagation:
critical for canonicalization chains (a~b, b~c, c~d, …).

Each round shuffles once per star step (groupBy on one endpoint) and
``localCheckpoint``s to truncate lineage — Catalyst cannot plan loops, so
the iteration lives here (SURVEY.md §4 custom-work item 2). The convergence
signature is observed in each checkpoint job, and the node set comes from the
checkpointed base, so the caller's edges are read once and no job is extra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: connect all *larger* neighbors to min(Γ(u) ∪ {u}).

    (Round-6 A/B note: dropping this ``distinct`` — correct, since the
    small-star min-aggs are idempotent and its final distinct
    canonicalizes the round — was measured WORSE in alternating same-box
    bench pairs (2.36 s → 3.00 s): the duplicate (v, m) rows it would
    admit inflate the small-star join volume by more than the exchange
    costs. Kept.)"""
    und = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        und.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", "u").alias("m"))
    )
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point edges large→small; connect all smaller neighbors (and u) to
    the minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (
        moved.union(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """→ (node, component) where component = min node id in the component.

    Nodes appearing only as isolated (self-edge or absent) map to
    themselves. Convergence: the edge-set signature (count + bit_xor of
    xxhash64), observed in each round's checkpoint job, is stable across a
    large+small round. Raises ``RuntimeError`` if that fixpoint is not
    reached within ``max_iter`` rounds — a truncated loop would silently
    return split components.
    """
    # Spark 4.1: localCheckpoint of a plan carrying filter-derived
    # constraints breaks attribute dedup on the subsequent self-union
    # ("key not found: u#NNN"). Constraint propagation is a planner
    # micro-optimization we can live without inside the loop.
    spark = edges.sparkSession
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        return _cc_loop(edges, src, dst, max_iter)
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev)


def _checkpoint(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """``localCheckpoint`` + the live (u ≠ v, so no null endpoint) edges'
    signature; bit_xor: order-insensitive and overflow-free (ANSI-safe)."""
    obs = Observation()
    h = F.when(F.col("u") != F.col("v"), F.xxhash64("u", "v"))
    df = df.observe(
        obs, F.count(h).alias("n"), F.coalesce(F.bit_xor(h), F.lit(0)).alias("h")
    ).localCheckpoint()
    return df, (obs.get["n"], obs.get["h"])


def _cc_loop(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    # null endpoints and self-edges stay in the base: they name nodes
    base, sig = _checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    )
    e = base.filter(F.col("u") != F.col("v"))
    for _ in range(max_iter):
        e, new_sig = _checkpoint(_small_star(_large_star(e)))
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # at fixpoint every edge is (node → component-min)
    assignment = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    all_nodes = (
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(assignment, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
