"""Physical-plan shape of the shingling queries (the executable twin of
``scripts/plan_audit.py`` for the gram lanes): no round-robin repartition
ahead of the gram explode, no interpreted higher-order lambda and no
row-at-a-time Python stage anywhere in the plan.

Plans are built lazily from the checked-in sf0.001 tables, so the test
executes almost nothing. The input is a single-file parquet source (one
scan split), the case a repartition helper would have fired on.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as E
from bench import OVERRIDES

SF = str(Path(__file__).resolve().parents[1] / "perfbench/data/sf0.001")

QUERIES = {
    "minhash_neardup": OVERRIDES["minhash_neardup"],
    "ngram_jaccard": E.queries()["ngram_jaccard"],
    "decontaminate": E.queries()["decontaminate"],
}

FORBIDDEN = ["RoundRobinPartitioning", "lambdafunction", "BatchEvalPython"]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_gram_plan_shape(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    for node in FORBIDDEN:
        assert node not in plan, f"{name}: {node} in plan\n{plan}"
