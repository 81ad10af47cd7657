"""Dump .explain("formatted") for headline queries to plans/<query>_<suffix>.txt.

Usage: python scripts/dump_plans.py <suffix> [query ...]

With no query names, dumps every bench HEADLINE query (using the bench
OVERRIDES so the captured plan is the plan the bench actually times).
Planning only — nothing is executed, so this is safe to run while other
work is in flight. The dumps are for ad-hoc before/after diffs and are not
committed; ``tests/test_plan_shape.py`` holds the asserted plan shapes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as E  # noqa: E402
from sparktax.session import get_spark  # noqa: E402


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
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
