"""The seeded hash lanes (sparktax/hashing.py): the md5 lane matches its
hashlib twin, and an unknown hasher raises instead of falling through to
xxhash64."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sparktax.hashing import md5_32, md5_60, md5_rank_expr, seeded_hash
from sparktax.link.minhash import band_buckets, minhash_signatures

STRINGS = ["", "a", "hello world", "Ünïcödé", "日本語テキスト", "emoji 🦉 ok", "42:7"]


def _twin(s: str, n_hex: int) -> int:
    return int(hashlib.md5(s.encode("utf8")).hexdigest()[:n_hex], 16)


def test_md5_lane_matches_hashlib(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], "s string")
    got = df.select(
        "s",
        md5_60(F.col("s")).alias("h60"),
        md5_32(F.col("s")).alias("h32"),
        md5_rank_expr(F.col("s"), 7).alias("rk"),
        seeded_hash(F.col("s"), "md5").alias("lane"),
        seeded_hash(F.col("s"), "md5", 7).alias("lane_seeded"),
    ).collect()
    assert len(got) == len(STRINGS)
    for r in got:
        assert r.h60 == _twin(r.s, 15) < 1 << 60
        assert r.h32 == _twin(r.s, 8) < 1 << 32
        assert r.rk == _twin(f"{r.s}:7", 15)
        assert r.lane == r.h60 and r.lane_seeded == r.rk


def test_xxhash64_lane_is_the_plain_intrinsic(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], "s string")
    r = df.select(
        F.sum(
            (seeded_hash(F.col("s"), "xxhash64") != F.xxhash64("s")).cast("int")
        ),
        F.sum(
            (
                seeded_hash(F.col("s"), "xxhash64", 7)
                != F.xxhash64("s", F.lit(7))
            ).cast("int")
        ),
    ).first()
    assert tuple(r) == (0, 0)


def test_unknown_hasher_raises(spark):
    sh = spark.createDataFrame([(1, "ab"), (1, "bc")], "id long, shingle string")
    with pytest.raises(ValueError, match="hasher"):
        minhash_signatures(sh, k=4, hasher="MD5")
    sigs = minhash_signatures(sh, k=4)
    with pytest.raises(ValueError, match="hasher"):
        band_buckets(sigs, bands=2, hasher="MD5")
    with pytest.raises(ValueError, match="rank_on"):
        seeded_hash(F.col("id"), "md5 ", 1, name="rank_on")
