"""End-to-end 100M-raw-triple pipeline probe INCLUDING the expressive
frontier-wave loop (round-3's e2e probe stopped at non-expressive
taxonomy; the round-3 verdict asked for wave-level evidence at scale).

Builds a 14.4M-turn transcript corpus (lineitem × replicas, 7 planted
statements per turn = ~100.8M raw triples, incl. ``is_a`` typing into a
planted 3-level taxonomy), runs the full resumable pipeline
(hash-encode → link → edges + dual bucketed copies → type vectors →
dataset → taxonomy), then runs ``ExpressiveExtractor`` with
``instrument=True`` over the materialized graph and prints per-wave
stats (frontier size, sample rows, atom-join rows, wall) plus the
recovered taxonomy.

Usage:
    python scripts/e2e_pipeline_scale.py [replicas=24] [sf_dir=/root/testdata/sf0.1] [base=/dev/shm/sparktax-e2e] [cores=32] [wave_size=16]

With ``SPARKTAX_E2E_KEEP=1`` the corpus + pipeline workdir persist, so a
second invocation at a different ``cores`` reuses every stage and times
ONLY the expressive pass — the two-parallelism (N vs 4N) scaling
measurement for the frontier-wave loop (the wave workload is
seed-deterministic, so both runs do identical work).

Writes nothing outside ``base`` (default tmpfs: the sandbox's virtual
disk throttles to ~20 MB/s under sustained multi-GB writes; see
CLAUDE.md). ~25 GB of tmpfs at the default scale. Results go to stdout
as JSON lines — paste the table into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from sparktax.session import get_spark  # noqa: E402

# planted taxonomy (meta-conversation statements): leaves type the
# instances, mids group the leaves, one root
META_STATEMENTS = (
    [f"K{j} is_a KM." for j in range(8)]       # part classes
    + [f"T{j} is_a TM." for j in range(4)]     # supplier classes
    + [f"W{j} is_a WM." for j in range(6)]     # order classes
    + ["KM is_a THING.", "TM is_a THING.", "WM is_a THING."]
)


def build_corpus(spark, sf_dir: str, replicas: int, out: str) -> int:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_quantity", "l_shipdate",
    )
    # repartition BEFORE the 24× explode: the sf parquet is one fat row
    # group, so without this a single task row-group-bound to the whole
    # file does all 14.4M rows of explode+md5 alone (observed straggler)
    rep = li.repartition(256).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    )
    subj = F.concat(F.lit("S"), F.col("l_suppkey"))
    part = F.concat(F.lit("P"), F.col("l_partkey"))
    # orderkey*replicas+rep keeps O entities unique per replica: plain
    # "+rep" collides across replicas, collapsing 3.6M orders into 150k
    # hub entities with ~100 supplier edges each (and individual-atom
    # frequencies high enough to drown the planted type atoms)
    order = F.concat(F.lit("O"), F.col("l_orderkey") * replicas + F.col("rep"))
    # hash-derived filler gives realistic entropy (template-only corpora
    # dictionary-compress to nothing and the probe goes bandwidth-bound)
    ent = lambda salt: F.md5(  # noqa: E731
        F.concat(F.col("l_orderkey").cast("string"), F.lit(salt),
                 F.col("rep").cast("string"))
    )
    text = F.concat_ws(
        " ",
        F.lit("ok so looking at the result of the tool call we see that"),
        subj, F.lit("supplies_part"), part, F.lit("."), ent("a"),
        F.lit("then checked the next row and found note value"),
        part, F.lit("belongs_to"), order, F.lit("."), ent("b"),
        F.lit("the quantity field reads"), F.col("l_quantity").cast("string"),
        F.lit("which is fine so then"),
        order, F.lit("handled_by"), subj, F.lit("."), ent("c"),
        F.lit("also maybe worth noting before the type statements that"),
        subj, F.lit("reports_to"), F.concat(F.lit("S"), F.col("l_suppkey") + 1),
        F.lit("."), ent("d"),
        # planted typing → the expressive loop has real classes to find
        part, F.lit("is_a"), F.concat(F.lit("K"), F.pmod("l_partkey", F.lit(8))),
        F.lit("."),
        subj, F.lit("is_a"), F.concat(F.lit("T"), F.pmod("l_suppkey", F.lit(4))),
        F.lit("."),
        order, F.lit("is_a"),
        F.concat(F.lit("W"),
                 F.pmod(F.col("l_orderkey") * replicas + F.col("rep"), F.lit(6))),
        F.lit("."), ent("e"),
    )
    t = rep.select(
        F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("rep").cast("string")).alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        text.alias("text"),
        F.lit("").alias("tool"),
        F.col("l_shipdate").alias("ts"),
    )
    meta = spark.createDataFrame(
        [("meta-0", i, "assistant", s, "", None)
         for i, s in enumerate(META_STATEMENTS)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts date",
    )
    # already 256 partitions from the pre-explode repartition — a second
    # repartition here would re-shuffle all ~6 GB for nothing
    t.unionByName(meta).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    base = sys.argv[3] if len(sys.argv) > 3 else "/dev/shm/sparktax-e2e"
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    wave_size = int(sys.argv[5]) if len(sys.argv) > 5 else 16
    corpus = os.path.join(base, "corpus")
    workdir = os.path.join(base, "work")
    os.makedirs(base, exist_ok=True)

    spark = get_spark(app="e2e-scale", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        n = build_corpus(spark, sf_dir, replicas, corpus)
        print(json.dumps({"stage": "corpus", "turns": n,
                          "wall_sec": round(time.perf_counter() - t0, 1)}))

    from sparktax.pipeline import run_pipeline

    t0 = time.perf_counter()
    transcripts = spark.read.parquet(corpus)
    summary = run_pipeline(
        spark, transcripts, workdir, taxonomy=True, bucket_edges=32
    )
    print(json.dumps({"stage": "pipeline",
                      "wall_sec": round(time.perf_counter() - t0, 1),
                      "stages": {k: {"rows": v["rows"],
                                     "wall_sec": v["wall_sec"]}
                                 for k, v in summary.items()}}))

    # ---- expressive frontier-wave pass over the materialized graph ----
    from sparktax.catalog import materialize_edge_buckets
    from sparktax.expressive import ExpressiveExtractor, ExpressiveParams
    from sparktax.graph.kg import KnowledgeGraph

    edges = spark.read.parquet(f"{workdir}/40_edges/data")
    nodes = spark.read.parquet(f"{workdir}/41_nodes/data")
    relations = spark.read.parquet(f"{workdir}/22_relations/data")
    kg = KnowledgeGraph(edges, nodes, relations, isa_uri="is_a")
    by_h, by_t = materialize_edge_buckets(
        spark, edges, f"{workdir}/45_edge_buckets", n_buckets=32
    )
    kg = kg.with_colocated(by_h, by_t)
    kg = kg.with_valid_types()  # transcript KG: classes = isa tails
    tv = spark.read.parquet(f"{workdir}/50_type_vectors/data")

    ex = ExpressiveExtractor(
        kg,
        tv,
        ExpressiveParams(max_waves=8, threshold_min=0.6, wave_size=wave_size),
    )
    ex.instrument = True
    t0 = time.perf_counter()
    taxo = ex.run()
    wall = time.perf_counter() - t0
    n_tasks = sum(w["frontier"] for w in ex.wave_log)
    print(json.dumps({"stage": "expressive", "cores": cores,
                      "wave_size": wave_size,
                      "wall_sec": round(wall, 1), "tasks": n_tasks,
                      "tasks_per_sec": round(n_tasks / wall, 3),
                      "waves": ex.wave_log, "edges": len(taxo)}))
    named = ex.named_taxonomy(taxo)
    for c, p in named:
        print(f"  {c} -> {p}")
    print("| wave | frontier | sample rows | atom-join rows | found | wall |")
    print("|---|---|---|---|---|---|")
    for w in ex.wave_log:
        print(f"| {w['wave']} | {w['frontier']} | {w['sample_rows']:,} | "
              f"{w.get('atom_rows', '-'):,} | {w['found']} | "
              f"{w['wall_sec']} s |")
    spark.stop()
    if os.environ.get("SPARKTAX_E2E_KEEP") != "1":
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
