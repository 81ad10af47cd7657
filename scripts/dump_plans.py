"""Dump .explain("formatted") for headline queries to plans/<query>_<suffix>.txt.

Usage: python scripts/dump_plans.py <suffix> [query ...]

With no query names, dumps every bench HEADLINE query (using the bench
OVERRIDES so the captured plan is the plan the bench actually times).
Expression ids (``#<id>``), ``plan_id=<n>`` tags, RDD ids
(``RDD[<n>]``) and the numbered lambda variables (``lambda x_<n>``, a
JVM-wide counter) are always replaced by fixed text, so ``diff -r`` of the
``plans/`` dirs of two checkouts dumped with the same suffix is the
plan-identity check between them. Mostly planning: a few query functions
run jobs of their own (centroid training, ``dedup_incremental``'s
snapshot commits), and their dumps also hold temp paths that differ
between runs. The dumps are for ad-hoc before/after diffs and are not
committed; ``tests/test_plan_shape.py`` holds the asserted plan shapes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as E  # noqa: E402
from sparktax.session import get_spark  # noqa: E402


def normalize(plan: str) -> str:
    """``plan`` with its per-session ids replaced: ``#123L`` -> ``#NL``,
    ``plan_id=45`` -> ``plan_id=N``, ``RDD[289]`` -> ``RDD[N]``, and the
    lambda variables ``lambda x_5`` -> ``lambda x_N``."""
    for pat, rep in (
        (r"#\d+", "#N"), (r"plan_id=\d+", "plan_id=N"), (r"RDD\[\d+\]", "RDD[N]"),
        (r"(lambda [a-z]+)_\d+\b", r"\1_N"),
    ):
        plan = re.sub(pat, rep, plan)
    return plan


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app="sparktax-plans", cores=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    for name in names:
        fn = bench.OVERRIDES.get(name, qs.get(name))
        if fn is None:
            print(f"SKIP {name}: unknown query")
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize(buf.getvalue()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
