"""Append-log snapshot maintenance (catalog.py): compaction folds the
per-batch increments into one commit, vacuum reclaims folded/dead
versions, and union reads follow COMMIT LINEAGE (the parent chain), not
a version-number range — the property that keeps a rolled-back increment
invisible even after later appends pass its version number."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparktax.catalog import (
    compact_snapshots,
    current_version,
    read_snapshot_union,
    rollback_snapshot,
    snapshot_history,
    vacuum_snapshots,
    write_snapshot,
)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 10).alias("val"))


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_commit_runs_one_job_and_logs_footer_rows(spark, tmp_path, kind):
    """A commit costs only its write job: the logged ``rows`` comes from
    the parquet footers (partition subdirectories included), not from a
    re-read with schema inference plus a count."""
    df = spark.range(1000, numPartitions=4).select("id", (F.col("id") % 3).alias("k"))
    if kind == "empty":
        df = df.filter(F.col("id") < 0)
    idx = str(tmp_path / "t")
    group = f"snapshot-cost-{kind}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        write_snapshot(df, idx, partition_by=("k",) if kind == "partitioned" else ())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert snapshot_history(idx)[-1]["rows"] == df.count()


def test_compact_preserves_union_and_shortcuts_reads(spark, tmp_path):
    idx = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_snapshot(_batch(spark, lo, lo + 10), idx)
    before = _ids(read_snapshot_union(spark, idx))
    v = compact_snapshots(spark, idx)
    assert v == 4 and current_version(idx) == 4
    after = read_snapshot_union(spark, idx)
    assert _ids(after) == before == list(range(30))
    # the union now reads ONLY the compacted commit, not the increments
    assert {os.path.basename(os.path.dirname(f)) for f in after.inputFiles()} == {
        "v00004"
    }
    entry = [e for e in snapshot_history(idx) if e.get("version") == 4][0]
    assert entry["params"]["compact"] and entry["params"]["covers"] == [1, 2, 3]


def test_append_after_compact_joins_the_chain(spark, tmp_path):
    idx = str(tmp_path / "t")
    for lo in (0, 10):
        write_snapshot(_batch(spark, lo, lo + 10), idx)
    compact_snapshots(spark, idx)
    write_snapshot(_batch(spark, 50, 55), idx)
    u = read_snapshot_union(spark, idx)
    assert _ids(u) == list(range(20)) + list(range(50, 55))
    dirs = {os.path.basename(os.path.dirname(f)) for f in u.inputFiles()}
    assert dirs == {"v00003", "v00004"}


def test_vacuum_reclaims_folded_versions(spark, tmp_path):
    idx = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_snapshot(_batch(spark, lo, lo + 10), idx)
    compact_snapshots(spark, idx)
    write_snapshot(_batch(spark, 90, 95), idx)
    removed = vacuum_snapshots(idx)
    assert removed == [1, 2, 3]
    assert not any(os.path.isdir(f"{idx}/v0000{i}") for i in (1, 2, 3))
    assert _ids(read_snapshot_union(spark, idx)) == list(range(30)) + list(
        range(90, 95)
    )
    # time travel to a vacuumed version is gone — rollback refuses
    with pytest.raises(FileNotFoundError):
        rollback_snapshot(idx, 2)
    # vacuum is logged
    assert snapshot_history(idx)[-1]["op"] == "vacuum"


def test_rollback_then_append_does_not_resurrect(spark, tmp_path):
    """The lineage property: v2 is committed, rolled back, and a fresh
    append becomes v3 with parent v1 — v2's rows must NOT reappear even
    though its dir still exists and 2 < 3 (a range(1, v+1) read would
    include it)."""
    idx = str(tmp_path / "t")
    write_snapshot(_batch(spark, 0, 10), idx)
    write_snapshot(_batch(spark, 100, 110), idx)
    rollback_snapshot(idx, 1)
    write_snapshot(_batch(spark, 200, 205), idx)
    assert current_version(idx) == 3
    u = read_snapshot_union(spark, idx)
    assert _ids(u) == list(range(10)) + list(range(200, 205))
    # the dead branch is reclaimable
    assert vacuum_snapshots(idx) == [2]
    assert _ids(read_snapshot_union(spark, idx)) == list(range(10)) + list(
        range(200, 205)
    )


def test_time_travel_reads_old_chain_until_vacuum(spark, tmp_path):
    idx = str(tmp_path / "t")
    write_snapshot(_batch(spark, 0, 10), idx)
    write_snapshot(_batch(spark, 10, 20), idx)
    compact_snapshots(spark, idx)
    # pre-compaction read set still resolves from the surviving dirs
    assert _ids(read_snapshot_union(spark, idx, version=1)) == list(range(10))
    assert _ids(read_snapshot_union(spark, idx, version=2)) == list(range(20))


def test_compact_coalesces_small_files(spark, tmp_path):
    idx = str(tmp_path / "t")
    for lo in range(0, 50, 10):  # 5 commits, each a multi-file tiny dir
        write_snapshot(_batch(spark, lo, lo + 10).repartition(4), idx)
    v = compact_snapshots(spark, idx)  # 5 commits ≪ 128 MB → ONE file
    files = [
        f
        for f in os.listdir(f"{idx}/v{v:05d}")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1


def test_incremental_dedup_survives_compaction(spark, tmp_path):
    """Maintenance mid-stream is invisible to the operator: compacting
    (and vacuuming) the index between batches leaves batch-by-batch
    results identical to the uncompacted run."""
    from sparktax import textops

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 150))
        for lo in (0, 150, 300)
    ]
    params = dict(threshold=0.7, n=4, k=64, bands=16)
    plain, compacted = str(tmp_path / "a"), str(tmp_path / "b")
    got_plain, got_comp = [], []
    for i, b in enumerate(batches):
        got_plain.extend(
            r.doc_id
            for r in textops.dedup_incremental(b, plain, **params).collect()
        )
        got_comp.extend(
            r.doc_id
            for r in textops.dedup_incremental(b, compacted, **params).collect()
        )
        if i < 2:
            compact_snapshots(spark, compacted)
            vacuum_snapshots(compacted)
    assert sorted(got_plain) == sorted(got_comp)
