"""Physical-plan shape of the query lanes: each case is one predicate over
``executedPlan().toString()`` — filter pushdown reaching the parquet scan,
whole-stage codegen on the hot expressions, broadcast where a side is
small, no Exchange on the no-shuffle paths, map-side top-k, bucket
pruning, never a cartesian product — so a query that still returns
correct rows but lost its pushdown or picked up an extra Exchange fails
here first.

The gram-lane test additionally checks the shingling and token-stream
queries (and BPE's word table): no round-robin repartition ahead of the
gram explode, no interpreted higher-order lambda and no row-at-a-time
Python stage anywhere in the plan.

Every ``bench.HEADLINE`` query, as the bench runs it (``bench.OVERRIDES``
applied), has its FileScan / shuffle Exchange / SortMergeJoin counts
pinned: a second scan of one source means a subtree is computed twice,
and a new Exchange or SortMergeJoin is a new shuffle.

Plans are built lazily (``agg_pricing`` alone executes: its codegen
check reads the final adaptive plan), so the module executes almost
nothing. Inputs are the checked-in sf0.001 tables (a single-file
parquet source per table); every predicate holds at that scale.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from pathlib import Path

import pytest

import __spark_entry__ as E
from bench import HEADLINE, OVERRIDES

SF = str(Path(__file__).resolve().parents[1] / "perfbench/data/sf0.001")

QUERIES = {
    "minhash_neardup": OVERRIDES["minhash_neardup"],
    "ngram_jaccard": E.queries()["ngram_jaccard"],
    "decontaminate": E.queries()["decontaminate"],
    "chunk_documents": E.queries()["chunk_documents"],
    "repetition": E.queries()["repetition"],
}

FORBIDDEN = ["RoundRobinPartitioning", "lambdafunction", "BatchEvalPython"]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_gram_plan_shape(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    for node in FORBIDDEN:
        assert node not in plan, f"{name}: {node} in plan\n{plan}"


def test_bpe_word_counts_plan_has_no_lambda(spark):
    from sparktax.bpe import word_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = word_counts(docs)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "lambdafunction" not in plan, plan


# query -> list of (description, predicate over the executed-plan string)
CHECKS: dict[str, list[tuple[str, Callable[[str], bool]]]] = {
    "extract_triples": [
        ("no shuffle Exchange (zero-copy Arrow map over the scan)",
         lambda p: "Exchange hashpartitioning" not in p),
        ("Arrow-batched Python stage (mapInArrow), not row-at-a-time",
         lambda p: "ArrowEvalPython" in p or "MapInArrow" in p or "PythonMapInArrow" in p),
    ],
    "kg_class_sizes": [
        # the triples table is a 4-way union with literal r per branch;
        # the isa filter constant-folds, so Catalyst ELIMINATES the non-isa
        # branches — stronger than pushdown: orders/nation are never read
        ("non-isa union branches pruned by constant folding (2 of 4 "
         "branches scanned)",
         lambda p: p.count("FileScan parquet") == 2
         and "orders.parquet" not in p and "nation.parquet" not in p),
        ("partial aggregation before the exchange (map-side combine)",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "kg_existential": [
        ("filters pushed to the parquet scan",
         lambda p: "PushedFilters: [" in p and "IsNotNull" in p),
        ("column-pruned scans (2 columns per table, never the full row)",
         lambda p: all(m.count(":") <= 2
                       for m in re.findall(r"ReadSchema: (\S+)", p))),
    ],
    "join_dims": [
        ("small dims broadcast (no shuffle join)",
         lambda p: "BroadcastHashJoin" in p
         and "Exchange hashpartitioning" not in p),
        ("acctbal predicate pushed down",
         lambda p: "GreaterThan(c_acctbal" in p),
    ],
    "agg_pricing": [
        # codegen happens per AQE query stage at execution time, so this
        # query is EXECUTED (6 result rows) and its final adaptive plan
        # audited: `*(n)` marks each whole-stage-codegen subtree
        ("whole-stage codegen on the aggregation (final AQE plan)",
         lambda p: "isFinalPlan=true" in p and p.count("*(") >= 2),
        # the executed AdaptiveSparkPlan string repeats the plan (final +
        # initial sections); ShuffleQueryStage counts actual shuffle stages
        ("partial+final aggregate (exactly one shuffle stage of 6 group "
         "rows)",
         lambda p: p.count("HashAggregate") >= 2
         and p.count("ShuffleQueryStage") == 1),
    ],
    "cosine_topk": [
        ("queries broadcast against the corpus scan",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ("codegen'd hash aggregate for the dot product (no interpreted "
         "higher-order lambda)",
         lambda p: "HashAggregate" in p and "zip_with" not in p),
        ("per-query rank<=k compiles to Partial+Final WindowGroupLimit "
         "(map-side top-k before the query_id exchange)",
         lambda p: p.count("WindowGroupLimit") >= 2 and "Partial" in p),
    ],
    "lsh_topk": [
        ("integer signature pipeline runs as codegen hash aggregates "
         "(posexplode + broadcast weight join), no cartesian product",
         lambda p: p.count("HashAggregate") >= 2
         and "CartesianProduct" not in p),
        ("banded candidate + rerank joins are hash joins",
         lambda p: "BroadcastHashJoin" in p or "SortMergeJoin" in p),
    ],
    "ivf_topk": [
        ("quantized assignment aggregates map-side; candidates from a "
         "cell equi-join, never a cross join",
         lambda p: p.count("HashAggregate") >= 2
         and "CartesianProduct" not in p),
    ],
    "ivf_topk_indexed": [
        ("probe scans ONLY the probed buckets of the persisted inverted "
         "lists (bucket pruning: SelectedBucketsCount m < n)",
         lambda p: (lambda m: bool(m) and int(m.group(1)) < int(m.group(2)))(
             re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p))),
        ("probed-cell map broadcast against the bucket-pruned scan",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "pq_topk": [
        ("per-query ADC LUT broadcast against the exploded code table "
         "(the corpus side carries only (id, code) pairs)",
         lambda p: "BroadcastHashJoin" in p),
        ("ADC sums partial-aggregate map-side; no cartesian product",
         lambda p: p.count("HashAggregate") >= 2
         and "CartesianProduct" not in p),
        ("rank<=k compiles to Partial+Final WindowGroupLimit (map-side "
         "per-partition top-k: only <=k rows per (query, partition) cross "
         "the exchange — per-query sort is over k*partitions rows, never "
         "the corpus, so parallelism is not capped by n_queries)",
         lambda p: p.count("WindowGroupLimit") >= 2 and "Partial" in p),
    ],
    "ivfpq_topk": [
        ("cell pruning + ADC + rerank all equi-joins, never a cartesian "
         "product",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("probed-cell map and ADC LUT broadcast; partial aggregation "
         "before every exchange",
         lambda p: "BroadcastHashJoin" in p and p.count("HashAggregate") >= 2),
    ],
    "repetition": [
        ("partial aggregation before each doc-keyed exchange (map-side "
         "combine on (doc, gram) counts)",
         lambda p: p.count("HashAggregate") >= 4),
        ("no cartesian product; doc-keyed joins only",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "minhash_neardup": [
        ("one pre-aggregated signature row per doc through the exchange",
         lambda p: p.count("HashAggregate") >= 2),
        ("banded equi-join (shuffle or broadcast hash join, never a "
         "cartesian product)",
         lambda p: "CartesianProduct" not in p),
    ],
    "events_lag": [
        ("single shuffle for the per-conversation window",
         lambda p: p.count("Exchange hashpartitioning") == 1),
        ("window runs codegen-adjacent (one sort per partition)",
         lambda p: "Window" in p),
    ],
    "decontaminate": [
        ("probe shingles broadcast; corpus never shuffled by content",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "topk_window": [
        ("rank<=k compiles to Partial+Final WindowGroupLimit (map-side "
         "top-k before the group exchange)",
         lambda p: p.count("WindowGroupLimit") >= 2 and "Partial" in p),
    ],
    "chunk_documents": [
        ("narrow map + generator only: NO Exchange of any kind",
         lambda p: "Exchange" not in p),
        ("window starts expand via codegen'd Generate (posexplode), "
         "not a Python stage",
         lambda p: "Generate" in p and "Python" not in p),
    ],
    "mix_corpora": [
        ("weight table broadcast; the corpus is never shuffled",
         lambda p: "BroadcastHashJoin" in p
         and "Exchange hashpartitioning" not in p),
        ("copy expansion is a codegen'd Generate (explode), no Python",
         lambda p: "Generate" in p and "Python" not in p),
    ],
    "split_corpus": [
        ("pure narrow map: one codegen'd CASE over the scan, zero "
         "Exchange, zero joins",
         lambda p: "Exchange" not in p and "Join" not in p),
    ],
    "training_order": [
        ("exactly ONE corpus shuffle (hashpartitioning on shard_id); "
         "per-shard window sort, never a global-order SinglePartition",
         lambda p: p.count("Exchange hashpartitioning") == 1
         and "Exchange SinglePartition" not in p),
        ("mix weights broadcast; copy expansion codegen'd (no Python)",
         lambda p: "BroadcastHashJoin" in p and "Python" not in p),
    ],
    "semantic_dedup": [
        ("within-cell pairs come from a cell equi-join, never a global "
         "cross join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("quantized assignment + pair cosine partial-aggregate map-side",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    # the float top_cells lanes: the BLAS cell UDF runs once per top_cells
    # call; a nullable top-1 cell would make the cell join infer an
    # isnotnull(cell) filter below the projection, a second UDF pass
    "semantic_dedup_bench": [
        ("one ArrowEvalPython per side of the cell self-join, none under "
         "an inferred isnotnull(cell) filter",
         lambda p: p.count("ArrowEvalPython") == 2),
    ],
    "ivf_full_probe": [
        ("one ArrowEvalPython per top_cells call (corpus top-1, query "
         "probes), none under an inferred isnotnull(cell) filter",
         lambda p: p.count("ArrowEvalPython") == 2),
        # top_cells carries each vector next to its cells: the corpus and
        # the queries are each scanned once, no vector is joined back
        ("one scan per side of the cell probe, no shuffle join",
         lambda p: p.count("FileScan ") == 2 and "SortMergeJoin" not in p),
    ],
    "dsir_weights": [
        ("8k-row weight table broadcast against the exploded grams (the "
         "corpus side never shuffles by gram)",
         lambda p: "BroadcastHashJoin" in p),
        ("per-doc integer sums partial-aggregate before the doc exchange",
         lambda p: p.count("HashAggregate") >= 2 and "CartesianProduct" not in p),
    ],
    # the production lane the headline times (xxhash64 buckets, 8k-row
    # table), next to its md5 gate twin above
    "dsir_weights_bench": [
        ("xxhash64 bucketing; weight table broadcast against the "
         "exploded grams",
         lambda p: "xxhash64" in p and "md5" not in p
         and "BroadcastHashJoin" in p),
        ("per-doc integer sums partial-aggregate before the doc exchange",
         lambda p: p.count("HashAggregate") >= 2 and "CartesianProduct" not in p),
    ],
    "perplexity": [
        ("log-prob bucket table broadcast against the exploded grams",
         lambda p: "BroadcastHashJoin" in p),
        ("per-doc integer sums partial-aggregate before the doc exchange; "
         "no cartesian product",
         lambda p: p.count("HashAggregate") >= 2 and "CartesianProduct" not in p),
    ],
    "doc_clusters": [
        ("quantized centroid table broadcast against the per-doc bucket "
         "counts",
         lambda p: "BroadcastHashJoin" in p),
        ("(doc, bucket) counts and (doc, cluster) dots both "
         "partial-aggregate map-side; no cartesian product",
         lambda p: p.count("HashAggregate") >= 4 and "CartesianProduct" not in p),
    ],
    "dedup_spans": [
        ("duplicate detection is a map-side-combined aggregate on the "
         "window hash (one row per distinct window through the exchange)",
         lambda p: p.count("HashAggregate") >= 2),
        ("marked spans rejoin on the hash (equi-join), interval merge is "
         "a per-doc window — no cartesian product anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p and "Window" in p),
    ],
    "quality_classifier": [
        ("weight table broadcast against the exploded grams; integer "
         "sums partial-aggregate map-side",
         lambda p: "BroadcastHashJoin" in p and p.count("HashAggregate") >= 2),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
    ],
    "bpe_encode": [
        ("distinct-word encode is an Arrow-batched Python stage (cost "
         "∝ vocabulary), never row-at-a-time",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
        ("vocabulary joins back by equi-join; no cartesian product",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "pack_sequences": [
        ("distributed prefix sum: per-range window, never a global-order "
         "single-partition sort",
         lambda p: "Exchange SinglePartition" not in p and "Window" in p),
        ("range prefixes broadcast back (tiny table), corpus side not "
         "re-shuffled for the join",
         lambda p: "BroadcastHashJoin" in p),
    ],
}

# tiny result; executed so the final adaptive plan (with codegen) is read
EXECUTE = {"agg_pricing"}
# checked lanes that are not gate queries
LANES = {
    "dsir_weights_bench": OVERRIDES["dsir_weights"],
    "semantic_dedup_bench": OVERRIDES["semantic_dedup"],
}
CASES = [(q, i) for q, checks in CHECKS.items() for i in range(len(checks))]


@pytest.fixture(scope="module")
def plan_of(spark):
    cache: dict[str, str] = {}

    def build(name: str) -> str:
        if name not in cache:
            df = (LANES.get(name) or E.queries()[name])(spark, SF)
            if name in EXECUTE:
                df.collect()
            cache[name] = df._jdf.queryExecution().executedPlan().toString()
        return cache[name]

    return build


@pytest.mark.parametrize("name,i", CASES, ids=[f"{q}-{i}" for q, i in CASES])
def test_plan_check(plan_of, name, i):
    desc, pred = CHECKS[name][i]
    plan = plan_of(name)
    assert pred(plan), f"{name}: {desc}\n{plan}"


# headline query -> (FileScan, shuffle Exchange, SortMergeJoin) in the
# initial executed plan on the sf0.001 tables; components and
# taxonomy_blobs read checkpointed/driver-built frames, so they scan no file
HEADLINE_NODES = {
    "extract_triples": (1, 0, 0),
    "kg_class_sizes": (2, 1, 0),
    "kg_existential": (3, 2, 0),
    "components": (0, 2, 0),
    "link_mentions": (2, 1, 0),
    "dedup_groups": (1, 1, 0),
    "minhash_neardup": (6, 4, 0),
    "simhash": (1, 1, 0),
    "cosine_topk": (2, 2, 0),
    "agg_pricing": (1, 1, 0),
    "topk_window": (1, 1, 0),
    "events_lag": (1, 1, 0),
    "taxonomy_blobs": (0, 0, 0),
    "dedup_spans": (3, 6, 0),
    "dsir_weights": (2, 5, 1),
    "semantic_dedup": (3, 6, 1),
}
# BroadcastExchange / ReusedExchange are not shuffles: \b skips them
NODE_PATTERNS = (r"FileScan ", r"\bExchange\b", r"SortMergeJoin")


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_plan_nodes(spark, name):
    df = OVERRIDES.get(name, E.queries()[name])(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = tuple(len(re.findall(p, plan)) for p in NODE_PATTERNS)
    assert got == HEADLINE_NODES[name], f"{name}: (FileScan, Exchange, SMJ) = {got}\n{plan}"


def test_dump_plans_normalize_lambda_variables():
    """Two plans that differ only in the JVM-wide lambda counter
    normalize to the same text (and keep their lambda structure)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts/dump_plans.py"
    )
    dump_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dump_plans)
    plan = (
        "transform(a#1, lambdafunction((lambda x_{n}#5L + 1), lambda x_{n}#5L, "
        "false)) AS b#2, lambdafunction(lambda id#10L, lambda id#10L, false)"
    )
    a, b = (dump_plans.normalize(plan.format(n=n)) for n in (5, 9))
    assert a == b
    assert "lambda x_N#NL + 1" in a and "lambda id#NL" in a
