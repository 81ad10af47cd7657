"""Canonicalization: merge duplicate entities, rewrite the graph.

north_rule: entity linking + canonicalization with broadcast candidate
dictionaries plus MinHash/LSH blocking and connected-components merging.

Match edges come from two sources:

* **exact**: identical normalized surface (same ``normalize_surface`` key)
  → zero-FP merges, one groupBy;
* **fuzzy**: MinHash/LSH candidates verified by exact n-gram Jaccard ≥ τ.

The union of match edges feeds :func:`connected_components`; each component
elects min(entity_id) as canonical. Triple rewrite is two broadcast joins
(the mapping only contains *changed* ids, which is tiny relative to
triples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from sparktax.link.components import connected_components
from sparktax.link.dictionary import normalize_surface
from sparktax.link.minhash import fuzzy_match_pairs


def canonical_entity_map(
    entities: DataFrame,
    jaccard_threshold: float = 0.75,
    fuzzy_max_digit_ratio: float | None = None,
) -> DataFrame:
    """→ (id, canonical_id) for every entity (identity rows included).

    ``entities``: (id, uri).

    ``fuzzy_max_digit_ratio``: when set, uris whose digit fraction exceeds
    it are EXCLUDED from the fuzzy lane (they still exact-merge). ID-like
    surfaces (``O4070532``…) are the scale hazard for character-shingle
    LSH: sequential ids share most of their n-grams, so every id collides
    with its edit-distance siblings and the candidate/verify join swells by
    orders of magnitude while the threshold rejects every pair anyway —
    the round-3 e2e probe at 3.5M such uris spent the entire
    canonicalization budget there. Merging ids by string similarity would
    also be semantically wrong, so skipping them loses nothing.
    """
    exact = (
        entities.select("id", normalize_surface(F.col("uri")).alias("_key"))
        .groupBy("_key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(F.slice("ids", 2, 0x7FFFFFF)).alias("src"),
            F.element_at("ids", 1).alias("dst"),
        )
    )
    fpool = entities
    if fuzzy_max_digit_ratio is not None:
        n_digits = F.length(F.regexp_replace(F.col("uri"), "[^0-9]", ""))
        fpool = entities.filter(n_digits <= fuzzy_max_digit_ratio * F.length("uri"))
    fz = fuzzy_match_pairs(fpool, "uri", "id", threshold=jaccard_threshold).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )

    comp = connected_components(exact.unionByName(fz))  # (node, component)
    merged = comp.select(
        F.col("node").alias("id"), F.col("component").alias("canonical_id")
    )
    return (
        entities.select("id")
        .join(merged, "id", "left")
        .select("id", F.coalesce("canonical_id", "id").alias("canonical_id"))
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite h and t through the canonical map; drop duplicate triples.

    Only non-identity rows of the mapping are joined (broadcast both —
    merges are a small fraction of entities).
    """
    delta = broadcast(
        mapping.filter(F.col("id") != F.col("canonical_id"))
    )
    return (
        triples.join(delta.withColumnRenamed("id", "h"), "h", "left")
        .withColumn("h", F.coalesce("canonical_id", "h"))
        .drop("canonical_id")
        .join(delta.withColumnRenamed("id", "t"), "t", "left")
        .withColumn("t", F.coalesce("canonical_id", "t"))
        .drop("canonical_id")
        .select("h", "r", "t")
        .distinct()
    )


def materialize_graph(
    triples: DataFrame,
    entities: DataFrame,
    out_dir: str,
    partitions: int | None = None,
    snapshots: bool = False,
) -> None:
    """Materialize nodes/edges tables (parquet; Iceberg on clusters with the
    runtime jar — the layout is identical).

    Edges are repartitioned by ``h`` so downstream out-neighborhood scans
    and self-joins co-locate; at cluster scale this becomes
    ``bucketBy(h)`` / Iceberg partition transform.

    ``snapshots=True``: commit through the versioned snapshot layer
    (:mod:`sparktax.catalog`) — each materialization is an atomic
    pointer-swap commit with history and time travel, the north-star
    "partitioned Iceberg snapshots" semantics on plain parquet.
    """
    e = triples
    if partitions:
        e = e.repartition(partitions, "h")
    if snapshots:
        from sparktax.catalog import write_snapshot

        write_snapshot(e, f"{out_dir}/edges", params={"partitions": partitions})
        write_snapshot(entities, f"{out_dir}/nodes")
        return
    e.write.mode("overwrite").parquet(f"{out_dir}/edges")
    entities.write.mode("overwrite").parquet(f"{out_dir}/nodes")
