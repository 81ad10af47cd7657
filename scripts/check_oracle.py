"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark AND its DuckDB oracle, compare row count +
column names + order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from sparktax.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NULL"
        return f"{val:.6f}".rstrip("0").rstrip(".") or "0"
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def frame_sig(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(canon(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    return cols, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import os

    # oracles that recompute constants from the gate data (ivf_topk's
    # centroids) read this instead of assuming the driver's sf0.01
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(app="oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (rows-only check)")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        scols, srows = frame_sig(spdf)
        ocols, orows = frame_sig(opdf)
        if scols != ocols:
            print(f"FAIL  {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            failures += 1
            continue
        if srows != orows:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diff}")
            failures += 1
            continue
        print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
