"""Checkpointing: manifests, lineage, resume-after-kill, full pipeline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparktax import synth
from sparktax.ckpt import StageCheckpointer
from sparktax.pipeline import run_pipeline


def test_stage_manifest_and_resume(spark, tmp_path):
    base = str(tmp_path / "ck")
    ck = StageCheckpointer(spark, base)
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(100).withColumn("x", F.col("id") * 2)

    df1 = ck.stage("s1", make, params={"v": 1})
    assert calls["n"] == 1
    assert df1.count() == 100
    man = ck.manifest("s1")
    assert man["rows"] == 100
    assert man["n_partitions"] >= 1
    assert sum(man["partitions"].values()) == 100
    assert man["bytes"] > 0

    # resume: second checkpointer (fresh process simulation) skips compute
    ck2 = StageCheckpointer(spark, base)
    df2 = ck2.stage("s1", make, params={"v": 1})
    assert calls["n"] == 1  # not recomputed
    assert df2.count() == 100

    # changed params → fingerprint mismatch → recompute
    ck3 = StageCheckpointer(spark, base)
    ck3.stage("s1", make, params={"v": 2})
    assert calls["n"] == 2


def test_failed_rewrite_invalidates_manifest(spark, tmp_path):
    """A recompute that dies mid-write must not leave the old manifest
    beside the overwritten data dir: the next run recomputes instead of
    resuming from an empty (or truncated) stage."""
    base = str(tmp_path / "ck")
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(100)

    StageCheckpointer(spark, base).stage("s", make, params={"v": 1})
    boom = spark.range(100).select(
        F.when(F.col("id") == 50, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        StageCheckpointer(spark, base).stage("s", boom, params={"v": 2})
    df = StageCheckpointer(spark, base).stage("s", make, params={"v": 1})
    assert calls["n"] == 2
    assert df.count() == 100


def test_stage_bookkeeping_runs_no_job(spark, tmp_path):
    """A stage costs only its write job: counts come from the parquet
    footers and the re-read skips schema inference. ``partitions`` is keyed
    by write task."""
    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-cost", "ckpt-cost")
    try:
        ck.stage("r", spark.range(1000, numPartitions=4))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-cost")) == 1
    man = ck.manifest("r")
    assert {int(k): v for k, v in man["partitions"].items()} == {
        0: 250, 1: 250, 2: 250, 3: 250,
    }
    assert man["rows"] == 1000 and man["n_partitions"] == 4

    # an empty stage still writes a (row-less) part file; it is not counted
    ck.stage("empty", spark.range(0))
    man = ck.manifest("empty")
    assert man["rows"] == 0 and man["n_partitions"] == 0
    assert man["partitions"] == {}


def test_stage_returns_written_schema(spark, tmp_path):
    """The schema-given re-read equals what inference over the written
    files gives (nullability, timestamps, nested and decimal types)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("ts", T.TimestampType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
            T.StructField("counts", T.MapType(T.StringType(), T.LongType())),
            T.StructField("price", T.DecimalType(12, 3)),
        ]
    )
    import datetime as dt

    rows = [
        (1, dt.datetime(2026, 1, 2, 3, 4, 5), [0.5, 1.5], {"a": 1}, Decimal("1.250")),
        (2, None, None, None, None),
    ]
    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    df = spark.createDataFrame(rows, schema).withColumn("n", F.col("id") + 1)
    got = ck.stage("typed", df)
    data_dir = str(tmp_path / "ck" / "typed" / "data")
    assert got.schema == spark.read.parquet(data_dir).schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(data_dir).collect())
    )


def test_fingerprint_invalidates_downstream(spark, tmp_path):
    base = str(tmp_path / "ck2")
    ck = StageCheckpointer(spark, base)
    ck.stage("a", spark.range(10), params={"p": 1})
    ck.stage("b", spark.range(5), upstream=["a"])
    # new run with changed upstream params: b's fingerprint changes too
    ck2 = StageCheckpointer(spark, base)
    calls = {"b": 0}

    def make_b():
        calls["b"] += 1
        return spark.range(5)

    ck2.stage("a", spark.range(10), params={"p": 2})
    ck2.stage("b", make_b, upstream=["a"])
    assert calls["b"] == 1


def test_state_roundtrip(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path / "ck3"))
    ck.save_state("loop", {"queue": ["T"], "threshold": 0.85})
    assert ck.load_state("loop") == {"queue": ["T"], "threshold": 0.85}
    assert ck.load_state("missing", default=42) == 42


def test_full_pipeline_and_resume(spark, tmp_path, monkeypatch):
    pdf, gold = synth.gen_transcripts_pdf(n_convs=60, seed=9)
    tdf = synth.transcripts_to_spark(spark, pdf)
    workdir = str(tmp_path / "run")

    # the expensive type-choice pass must run exactly once per cold run
    # (round 2 ran dataset creation twice, once per derived stage)
    import sparktax.dataset as dsmod

    calls = {"n": 0}
    real_choose = dsmod.choose_instance_types

    def counting_choose(*a, **kw):
        calls["n"] += 1
        return real_choose(*a, **kw)

    monkeypatch.setattr(dsmod, "choose_instance_types", counting_choose)
    summary = run_pipeline(spark, tdf, workdir, taxonomy=True)
    assert calls["n"] == 1
    assert set(summary) >= {
        "10_raw_triples",
        "20_triples",
        "21_entities",
        "22_relations",
        "30_canonical_map",
        "40_edges",
        "41_nodes",
        "50_type_vectors",
        "50_choice",
        "51_dataset",
        "52_classes",
        "60_taxonomy",
    }
    assert summary["10_raw_triples"]["rows"] > 0
    assert summary["40_edges"]["rows"] > 0
    assert summary["51_dataset"]["rows"] > 0

    # resume: a second run must reuse every stage (wall time ~0 writes)
    import time

    t0 = time.perf_counter()
    summary2 = run_pipeline(spark, tdf, workdir, taxonomy=True)
    resume_time = time.perf_counter() - t0
    assert summary2 == summary
    assert resume_time < 20  # resumed runs only read manifests + parquet

    # edges partitioned by h: manifest records per-partition lineage
    man = json.load(open(os.path.join(workdir, "40_edges", "_manifest.json")))
    assert sum(man["partitions"].values()) == man["rows"]


def test_pipeline_skips_taxonomy_without_isa(spark, tmp_path):
    """A corpus with no typing statements must complete the KG stages and
    SKIP the taxonomy lane (round-3 e2e run found a KeyError crash here)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["assistant"] * 3,
            "text": [
                "ok so S1 supplies_part P1 .",
                "then P1 belongs_to O1 .",
                "and O1 handled_by S1 .",
            ],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    tdf = synth.transcripts_to_spark(spark, pdf)
    summary = run_pipeline(spark, tdf, str(tmp_path / "noisa"), taxonomy=True)
    assert "40_edges" in summary and summary["40_edges"]["rows"] == 3
    assert "60_taxonomy" not in summary  # lane skipped, not crashed
