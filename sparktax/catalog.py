"""Iceberg-or-parquet storage shim (SURVEY §7: "sandbox has no Iceberg
runtime jar; cluster deployments flip one config").

The engine's table layout is identical either way; what changes is the
writer API:

* **Iceberg** (``spark.sql.catalog.<name>`` configured, e.g.
  ``org.apache.iceberg.spark.SparkCatalog``): ``df.writeTo(ident)
  .partitionedBy(...).createOrReplace()`` — snapshot-isolated, gives the
  checkpoint stages time-travel for free.
* **parquet fallback** (this sandbox): ``df.write.parquet(path)`` with the
  same partitioning.

``table_identifier`` values look like ``catalog.db.table``; anything
containing a ``/`` is treated as a filesystem path → parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from sparktax.ckpt import _write_json_atomic, task_rows


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:  # unset key raises in Spark 4.1 classic
        return False
    return impl is not None and "iceberg" in (impl or "").lower()


def write_table(
    df: DataFrame,
    target: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to an Iceberg table identifier or a parquet path."""
    spark = df.sparkSession
    is_path = "/" in target
    if not is_path and iceberg_available(spark, target.split(".")[0]):
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    """Read an Iceberg table identifier or a parquet path."""
    if "/" in target:
        return spark.read.parquet(target)
    return spark.read.table(target)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_by: tuple[str, ...] | str,
    n_buckets: int = 32,
    sort_by: tuple[str, ...] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed external table: rows are hash-partitioned on ``bucket_by``
    AT WRITE TIME, so equi-joins and aggregations on the bucket key read
    back with ZERO shuffle (both sides of a join pre-partitioned
    identically — the batch analog of Iceberg's ``bucket(n, col)``
    partition transform; Spark only honors bucketing through the table
    catalog, hence ``name`` + external ``path``).

    The KG layout trick for self-joins on different columns (e.g. the
    2-hop pattern ``edges.t == edges.h``): store two bucketed copies,
    ``edges_by_h`` and ``edges_by_t`` — each join side then reads its
    co-located copy and the join plans with no Exchange.
    """
    bucket_cols = (bucket_by,) if isinstance(bucket_by, str) else tuple(bucket_by)
    w = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_by:
        sort_cols = (sort_by,) if isinstance(sort_by, str) else tuple(sort_by)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table — bucket metadata only survives through the
    catalog (``spark.read.parquet(path)`` would forget it)."""
    return spark.table(name)


def materialize_edge_buckets(
    spark: SparkSession,
    edges: DataFrame,
    dirpath: str,
    n_buckets: int = 32,
    fingerprint: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The dual-copy KG layout: write ``edges(h, r, t)`` twice, bucketed
    (and sorted) on ``h`` and on ``t``, under ``dirpath`` — each join side
    of the 2-hop pattern then reads its co-located copy and the join plans
    with no Exchange (the batch analog of the reference's ``_h``/``_t``
    in-memory indexes, libs/graph/knowledge_graph.py:17,42-51).

    Returns ``(by_h, by_t)`` read through the catalog (bucket metadata
    only survives there). Table names are suffixed with a digest of
    ``dirpath`` so concurrent pipelines in one session don't collide.
    Idempotent: a copy whose table and ``_SUCCESS`` marker both exist is
    reused, so a resumed pipeline run skips the write. Pass
    ``fingerprint`` (the upstream edges stage's checkpoint fingerprint —
    ``StageCheckpointer.fingerprint("40_edges")`` in the pipeline) to tie
    reuse to the edges lineage: if the stored ``_sparktax_fp.json``
    differs, the copies are rewritten instead of silently serving stale
    buckets to every downstream 2-hop join."""
    tag = hashlib.md5(dirpath.encode("utf8")).hexdigest()[:10]
    fp_path = os.path.join(dirpath, "_sparktax_fp.json")
    fp_ok = True
    if fingerprint is not None:
        try:
            with open(fp_path) as f:
                fp_ok = json.load(f).get("fingerprint") == fingerprint
        except (OSError, ValueError):
            fp_ok = False
    out = []
    wrote = False
    for key in ("h", "t"):
        name = f"sparktax_edges_by_{key}_{tag}"
        path = os.path.join(dirpath, f"by_{key}")
        done = os.path.exists(os.path.join(path, "_SUCCESS"))
        if not (fp_ok and done and spark.catalog.tableExists(name)):
            write_bucketed(
                edges, name, path, key, n_buckets=n_buckets, sort_by=key
            )
            wrote = True
        out.append(read_bucketed(spark, name))
    if fingerprint is not None and (wrote or not fp_ok):
        os.makedirs(dirpath, exist_ok=True)
        with open(fp_path, "w") as f:
            json.dump({"fingerprint": fingerprint}, f)
    return out[0], out[1]


# ---------------------------------------------------------------------------
# snapshot layer — Iceberg commit semantics on the parquet fallback
# ---------------------------------------------------------------------------
# Layout of a snapshot table directory:
#   <dir>/v00001/…          immutable partitioned parquet per version
#   <dir>/_snapshots.jsonl  append-only commit log (version, parent, rows,
#                           bytes, partition_by, params, written_at)
#   <dir>/_current          pointer file holding the live version number;
#                           commit = one atomic os.replace, so readers see
#                           either the old or the new snapshot, never a
#                           half-written table (what Iceberg's metadata
#                           pointer swap gives you).


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version:05d}")


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    partition_by: tuple[str, ...] = (),
    params: dict | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir``; returns the new
    version. Old versions stay readable (time travel) until vacuumed. The
    logged ``rows`` come from the parquet footers, so a commit costs only
    its write job."""
    os.makedirs(table_dir, exist_ok=True)
    existing = [
        int(d[1:])
        for d in os.listdir(table_dir)
        if d.startswith("v") and d[1:].isdigit()
    ]
    version = max(existing, default=0) + 1
    vdir = _version_dir(table_dir, version)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(vdir)

    rows = sum(task_rows(vdir).values())
    nbytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dirs, fs in os.walk(vdir)
        for f in fs
    )
    entry = {
        "version": version,
        "parent": current_version(table_dir),
        "rows": int(rows),
        "bytes": int(nbytes),
        "partition_by": list(partition_by),
        "params": params or {},
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(table_dir, "_snapshots.jsonl"), "a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")
    _set_current(table_dir, version)
    return version


def _set_current(table_dir: str, version: int) -> None:
    _write_json_atomic(os.path.join(table_dir, "_current"), version)  # atomic commit


def current_version(table_dir: str) -> int | None:
    try:
        with open(os.path.join(table_dir, "_current")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current (or a time-travel ``version``) snapshot."""
    v = version if version is not None else current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    vdir = _version_dir(table_dir, v)
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"{table_dir} has no snapshot v{v}")
    return spark.read.parquet(vdir)


def snapshot_history(table_dir: str) -> list[dict]:
    """The commit log, oldest first (rollbacks appear as 'rollback' ops)."""
    path = os.path.join(table_dir, "_snapshots.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _read_set(table_dir: str, version: int) -> list[int]:
    """Versions an append-log read of ``version`` includes: walk the
    commit log's PARENT chain from ``version`` down, stopping
    (inclusively) at the first compaction commit — its snapshot already
    holds everything older. Chain lineage, not a version-number range,
    defines visibility: an increment committed, rolled back, and then
    superseded by a fresh append is on a dead branch and never read
    again (a ``range(1, v+1)`` read would resurrect it as soon as a new
    version number passed it)."""
    entries = {
        e["version"]: e for e in snapshot_history(table_dir) if e.get("op") is None
    }
    out: list[int] = []
    v: int | None = version
    while v is not None and v not in out:
        out.append(v)
        e = entries.get(v)
        if e is None or e.get("params", {}).get("compact"):
            break
        v = e.get("parent")
    return sorted(out)


def read_snapshot_union(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame | None:
    """Read a snapshot dir as an APPEND LOG: the union of the current (or
    ``version``) pointer's commit CHAIN, back to the latest compaction
    (see :func:`compact_snapshots`). With one :func:`write_snapshot` per
    ingested batch this gives Iceberg-append semantics on the parquet
    fallback — each commit stores ONLY its increment (O(batch), not
    O(table), per commit), the pointer swap is atomic, and rollback to
    version v makes later appends invisible without touching their files
    (they fall off the chain; a later append branches from v). Returns
    None for an empty/uncommitted table (so first-batch callers can skip
    their anti-joins entirely)."""
    v = version if version is not None else current_version(table_dir)
    if v is None:
        return None
    paths = [
        _version_dir(table_dir, i)
        for i in _read_set(table_dir, v)
        if os.path.isdir(_version_dir(table_dir, i))
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def compact_snapshots(
    spark: SparkSession,
    table_dir: str,
    partition_by: tuple[str, ...] = (),
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Fold the append log into ONE snapshot: commit the current union as
    the next version, flagged ``compact`` — subsequent
    :func:`read_snapshot_union` reads start there instead of unioning
    every historical increment. At one commit per streaming micro-batch
    the log otherwise grows one tiny parquet dir per batch forever; after
    thousands of batches the union's scan is all file-listing overhead.
    Run this as periodic maintenance (single writer, like every other
    mutation here).

    Crash-safe by construction: the compacted snapshot is a REGULAR
    commit (parquet dir → log append → atomic pointer swap). A crash at
    any point leaves the pointer on a version whose union still reads
    correctly from the old increments — the new base only takes effect
    once the pointer reaches it. Old versions stay readable (time travel,
    rollback) until :func:`vacuum_snapshots`.

    The union is coalesced toward ``target_bytes`` per output file
    (sized from the log's recorded byte counts), fixing the small-files
    problem in the same pass. Returns the new version; raises if there is
    nothing to compact."""
    union = read_snapshot_union(spark, table_dir)
    if union is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    v = current_version(table_dir)
    reads = set(_read_set(table_dir, v))
    nbytes = sum(
        e.get("bytes", 0)
        for e in snapshot_history(table_dir)
        if e.get("op") is None and e["version"] in reads
    )
    n_files = max(1, -(-nbytes // target_bytes))
    union = (
        union.repartition(n_files, *partition_by)
        if partition_by
        else union.repartition(n_files)
    )
    return write_snapshot(
        union,
        table_dir,
        partition_by=partition_by,
        params={"compact": True, "covers": sorted(reads)},
    )


def vacuum_snapshots(table_dir: str) -> list[int]:
    """Delete every version dir OUTSIDE the current pointer's read set —
    increments folded into a compaction (their rows live on in the
    compacted snapshot) and dead branches left by rollbacks. Current
    reads never touch them; what is given up is time travel / rollback to
    those versions (the trade Iceberg's ``expire_snapshots`` makes).
    Returns the versions removed."""
    v = current_version(table_dir)
    if v is None:
        return []
    keep = set(_read_set(table_dir, v))
    existing = sorted(
        int(d[1:])
        for d in os.listdir(table_dir)
        if d.startswith("v") and d[1:].isdigit()
    )
    removed = []
    for i in existing:
        if i in keep:
            continue
        vdir = _version_dir(table_dir, i)
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)
            removed.append(i)
    if removed:
        with open(os.path.join(table_dir, "_snapshots.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "op": "vacuum",
                        "removed": removed,
                        "written_at": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                    },
                    sort_keys=True,
                )
                + "\n"
            )
    return removed


def rollback_snapshot(table_dir: str, version: int) -> None:
    """Point the table back at an earlier version (the data never moved)."""
    if not os.path.isdir(_version_dir(table_dir, version)):
        raise FileNotFoundError(f"{table_dir} has no snapshot v{version}")
    with open(os.path.join(table_dir, "_snapshots.jsonl"), "a") as f:
        f.write(
            json.dumps(
                {
                    "op": "rollback",
                    "version": version,
                    "written_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
                sort_keys=True,
            )
            + "\n"
        )
    _set_current(table_dir, version)
