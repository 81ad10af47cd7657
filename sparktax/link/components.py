"""Connected components as iterative DataFrame joins.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SOCC'14) — converges in O(log² n) rounds on any
graph and O(log n) in practice, vs O(diameter) for naive label propagation:
critical for canonicalization chains (a~b, b~c, c~d, …).

Each round shuffles once per star step (groupBy on one endpoint) and
``localCheckpoint``s to truncate lineage — Catalyst cannot plan loops, so
the iteration lives here (SURVEY.md §4 custom-work item 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    themselves. Convergence: the edge multiset signature
    (count + xxhash64 sum) is stable across a large+small round. Raises
    ``RuntimeError`` if that fixpoint is not reached within ``max_iter``
    rounds — a truncated loop would silently return split components.
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


def _cc_loop(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # consumed exactly once (the final left join) — checkpointing it would
    # add an eager materialization action for a plan that is one narrow
    # scan + union + distinct deep
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )

    def signature(df: DataFrame) -> tuple[int, int]:
        # bit_xor: order-insensitive and overflow-free (ANSI-safe)
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
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # at fixpoint every edge is (node → component-min)
    assignment = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    return (
        all_nodes.join(assignment, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
