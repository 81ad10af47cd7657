"""The north-star pipeline, end-to-end and resumable:

transcripts (parquet/Iceberg) → batched Arrow triple extraction →
dictionary encoding → entity linking (exact + MinHash/LSH) →
canonicalization (connected components) → materialized nodes/edges →
type-vectors → non-expressive + expressive taxonomy extraction.

Every stage checkpoints through :class:`sparktax.ckpt.StageCheckpointer`
(per-partition lineage + metrics; re-runs resume from the last finished
stage). Launchable via spark-submit:

    spark-submit --py-files sparktax.zip -m sparktax.pipeline \\
        --input /data/transcripts --workdir /ckpt/run1

(in-sandbox: ``python -m sparktax.pipeline --input ... --workdir ...``).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktax.ckpt import StageCheckpointer
from sparktax.extract import extract_triples
from sparktax.graph.kg import KnowledgeGraph, encode_triples
from sparktax.link import canonical_entity_map, rewrite_triples


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    isa_uri: str = "is_a",
    fuzzy_threshold: float = 0.85,
    taxonomy: bool = True,
    encode_method: str = "hash",
    expressive: bool = False,
    bucket_edges: int | None = None,
    dataset_per_class: int | None = 500,
) -> dict:
    """Run (or resume) the full KG-construction pipeline; returns the
    stage-manifest summary.

    ``encode_method`` defaults to "hash" — the zero-shuffle 10¹²-turn path
    (no global-sort id stage); pass "dense" only when exporting to formats
    that need contiguous ids (OpenKE). With ``taxonomy=True`` the run
    continues through seeded dataset creation and non-expressive taxonomy
    extraction; ``expressive=True`` additionally runs the frontier-wave
    expressive loop, whose state snapshots per wave (kill/resume-safe).

    ``dataset_per_class`` caps the typed-instance dataset per class
    (seeded stratified sample) — the O(n²)-memory HAC downstream must see
    a bounded sample, not every typed instance of a 100M-triple corpus.

    ``bucket_edges=N`` materializes the dual bucketed edge copies
    (``by_h``/``by_t``, N buckets each) after canonicalization and points
    every downstream 2-hop self-join at them — one extra write, zero
    shuffle on the hottest join for the rest of the run (and for every
    later query session over the same workdir)."""
    ck = StageCheckpointer(spark, workdir)

    raw = ck.stage(
        "10_raw_triples",
        lambda: extract_triples(transcripts),
        params={"grammar": "v1"},
    )

    # encode: three coupled lazy outputs → three stages over the same raw
    # upstream (nothing executes until each stage writes).
    # encode_method="hash" is the 10¹²-turn path (no global-sort id stage).
    t_df, e_df, r_df = encode_triples(raw, method=encode_method)
    enc = {"method": encode_method}
    triples = ck.stage("20_triples", t_df, params=enc, upstream=["10_raw_triples"])
    entities = ck.stage("21_entities", e_df, params=enc, upstream=["10_raw_triples"])
    relations = ck.stage("22_relations", r_df, params=enc, upstream=["10_raw_triples"])

    mapping = ck.stage(
        "30_canonical_map",
        lambda: canonical_entity_map(
            entities,
            jaccard_threshold=fuzzy_threshold,
            # ID-like (digit-heavy) uris skip the fuzzy lane: string
            # similarity between sequential ids is meaningless and its LSH
            # candidates explode (see canonical_entity_map docstring)
            fuzzy_max_digit_ratio=0.5,
        ),
        params={"jaccard": fuzzy_threshold, "max_digit_ratio": 0.5},
        upstream=["21_entities"],
    )
    # edges are laid out by (h, salt-of-t): co-located by head for downstream
    # pattern scans, but a hub head (one h with millions of edges) spreads
    # over 8 writer partitions instead of pinning a single straggler task
    # (north_rule: salting beyond AQE).
    edges = ck.stage(
        "40_edges",
        lambda: rewrite_triples(triples, mapping).repartition(
            F.col("h"),
            F.pmod(F.xxhash64("t"), F.lit(8)),
        ),
        upstream=["20_triples", "30_canonical_map"],
    )
    nodes = ck.stage(
        "41_nodes",
        lambda: entities.join(
            mapping.filter(F.col("id") == F.col("canonical_id")).select("id"),
            "id",
            "left_semi",
        ),
        upstream=["21_entities", "30_canonical_map"],
    )

    if taxonomy and relations.filter(F.col("uri") == isa_uri).limit(1).count() == 0:
        # no typing statements in the corpus → every taxonomy stage would
        # KeyError on the isa relation; skip the lane instead of crashing
        # (the KG stages above are still complete and resumable)
        print(
            f"pipeline: relation {isa_uri!r} absent from the extracted graph — "
            "skipping the taxonomy lane"
        )
        taxonomy = False
    if taxonomy:
        kg = KnowledgeGraph(edges, nodes, relations, isa_uri=isa_uri)
        if bucket_edges:
            from sparktax.catalog import materialize_edge_buckets

            by_h, by_t = materialize_edge_buckets(
                spark,
                edges,
                f"{workdir}/45_edge_buckets",
                n_buckets=bucket_edges,
                # reuse only while the edges lineage is unchanged — a
                # re-run with different input recomputes 40_edges and must
                # not serve stale bucket copies to the 2-hop consumers
                fingerprint=ck.fingerprint("40_edges"),
            )
            kg = kg.with_colocated(by_h, by_t)
        # transcript KGs carry no dbo: ontology, so the valid-class set is
        # every isa tail — without this the expressive loop's concept
        # atoms are all silently dropped (valid_type_ids() default);
        # after with_colocated so the derivation reads the t-keyed copy
        kg = kg.with_valid_types()
        from sparktax.typevec import type_vectors

        tv = ck.stage(
            "50_type_vectors",
            lambda: type_vectors(kg, k=32),
            params={"k": 32},
            upstream=["40_edges", "41_nodes"],
        )

        # seeded dataset creation (transcripts KGs have no dbo: ontology, so
        # the valid-type set is simply every isa tail). The expensive
        # type-choice pass materializes ONCE; the dataset and class map are
        # derived from the stored result instead of re-running creation.
        from sparktax.dataset import (
            choose_instance_types,
            classes_from_chosen,
            dataset_from_chosen,
        )

        def _chosen():
            isa = kg.isa
            typed = kg.triples.filter(F.col("r") == isa)
            instances = typed.select("h").distinct()
            vt = typed.select(F.col("t").alias("id")).distinct()
            return choose_instance_types(kg, instances, valid_types=vt, seed=42)

        chosen = ck.stage(
            "50_choice", _chosen, params={"seed": 42}, upstream=["40_edges"]
        )
        classes_full = ck.stage(
            "52_classes",
            lambda: classes_from_chosen(chosen, nodes),
            params={"seed": 42}, upstream=["50_choice", "41_nodes"],
        )
        ds = ck.stage(
            "51_dataset",
            lambda: dataset_from_chosen(
                chosen, classes_full, per_class=dataset_per_class
            ),
            params={"seed": 42, "per_class": dataset_per_class},
            upstream=["50_choice", "52_classes"],
        )
        classes = classes_full.select("class_id", "class_name")

        # non-expressive taxonomy (HAC + assignment over the golden pipeline)
        def _nonexpressive():
            from sparktax.extraction.pipeline import extract_taxonomy

            got = sorted(extract_taxonomy(ds, tv, classes))
            return spark.createDataFrame(got, "child string, parent string")

        ck.stage(
            "60_taxonomy",
            _nonexpressive,
            upstream=["50_type_vectors", "51_dataset", "52_classes"],
        )

        if expressive:
            # frontier-wave expressive loop; per-wave state snapshots via
            # ck.save_state make a killed run resume mid-extraction
            def _expressive():
                from sparktax.expressive import ExpressiveExtractor

                ex = ExpressiveExtractor(kg, tv)
                edges_list = ex.run(ckpt=ck, state_name="61_expressive")
                return spark.createDataFrame(
                    sorted(edges_list), "child string, parent string"
                )

            ck.stage(
                "61_expressive",
                _expressive,
                upstream=["50_type_vectors", "40_edges"],
            )
    return ck.summary()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--workdir", required=True, help="checkpoint directory")
    ap.add_argument("--isa-uri", default="is_a")
    ap.add_argument("--no-taxonomy", action="store_true")
    ap.add_argument("--expressive", action="store_true")
    ap.add_argument("--encode-method", default="hash", choices=["hash", "dense"])
    ap.add_argument(
        "--bucket-edges", type=int, default=None,
        help="materialize dual bucketed edge copies (N buckets) and use "
        "them for the 2-hop joins",
    )
    ap.add_argument(
        "--dataset-per-class", type=int, default=500,
        help="per-class cap on the typed-instance dataset (the downstream "
        "HAC is O(n²) memory in the dataset size); 0 = uncapped",
    )
    args = ap.parse_args()
    from sparktax.session import get_spark

    spark = get_spark(app="sparktax-pipeline")
    transcripts = spark.read.parquet(args.input)
    summary = run_pipeline(
        spark,
        transcripts,
        args.workdir,
        isa_uri=args.isa_uri,
        taxonomy=not args.no_taxonomy,
        encode_method=args.encode_method,
        expressive=args.expressive,
        bucket_edges=args.bucket_edges,
        dataset_per_class=args.dataset_per_class or None,
    )
    print(json.dumps(summary, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
