"""MinHash + LSH blocking, entirely JVM-side (no Python in the hot path).

Pipeline (the SparkER / MinHashLSH pattern):

1. ``shingle``     — character n-grams via one lookahead-regex pass
                     (``regexp_extract_all``, codegen'd) + ``explode``; one
                     narrow stage, no Python, no exchange.
2. ``minhash_signatures`` — k permutations hᵢ(x) = (aᵢ·x + bᵢ) mod p over
                     ``xxhash64(shingle)``; one ``groupBy(id)`` computing k
                     ``min`` aggregates in a single shuffle (map-side
                     partial aggregation keeps it cheap).
3. ``lsh_candidate_pairs`` — ``band_buckets`` splits the signature into b
                     bands of r rows and hashes each into a (band, bucket)
                     key; ``bucket_pairs``, the one bucket-mate self-join,
                     pairs ids sharing a key (an equi-join Catalyst can
                     shuffle-hash; AQE splits skewed buckets).
4. ``exact_jaccard`` — verify candidates with the exact n-gram Jaccard via
                     a shingle join (no false positives leave the stage).

Used for fuzzy entity linking (canonicalization) *and* by every
near-duplicate operator: n-gram Jaccard blocks on the shingle itself;
SimHash and sign-LSH embeddings cut packed-bit signatures into bands with
``sig_bands`` (:mod:`sparktax.textops`, :mod:`sparktax.simsearch`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktax.hashing import check_hasher, seeded_hash

# 2^31-1: keeps aᵢ·x + bᵢ < 2^62 — no int64 overflow (Spark 4 ANSI mode
# errors on overflow, so the hash arithmetic must provably fit).
_MERSENNE = (1 << 31) - 1


def char_grams(norm, n: int):
    """array<string> of the character ``n``-grams of ``norm``, one per
    start position in order, via ONE codegen'd regex pass: a zero-width
    lookahead captures ``n`` chars at every position without consuming
    input (a ``transform(sequence, substr)`` form ran an interpreted
    Catalyst lambda per position). DOTALL keeps ``.`` matching newlines,
    exactly like ``substr``. Texts shorter than ``n`` give ``[]``."""
    return F.regexp_extract_all(norm, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)


def shingle(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct character n-grams (:func:`char_grams`) per
    row, lowercased; a text shorter than ``n`` is its own single shingle
    (the old ``sequence(1, greatest(len-n+1, 1))`` truncation)."""
    norm = F.lower(F.col(text_col))
    grams = F.array_distinct(
        F.when(F.length(norm) >= n, char_grams(norm, n)).otherwise(F.array(norm))
    )
    return (
        df.select(F.col(id_col).alias("id"), grams.alias("_grams"))
        .select("id", F.explode("_grams").alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def _hash_params(k: int, seed: int) -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _base_hash(col, hasher: str):
    """Non-negative base hash of a shingle, mod p.

    ``xxhash64`` (default) is the scale path — one JVM intrinsic per
    shingle. ``md5`` is the oracle path (:func:`sparktax.hashing.md5_60`):
    signatures become bit-identical across engines; everything downstream
    (permutations, banding, verify) is plain arithmetic. Any other value
    raises."""
    return F.pmod(seeded_hash(col, hasher), F.lit(_MERSENNE))


def minhash_signatures(
    shingles: DataFrame, k: int = 64, seed: int = 42, hasher: str = "xxhash64"
) -> DataFrame:
    """(id, sig: array<long>) — k-permutation MinHash in ONE groupBy.

    The base hash is signed 64-bit; each permutation is (a·x + b) mod p
    with p = 2³¹−1 (keeps a·x inside a signed long under Spark 4 ANSI),
    computed on the non-negative residue. ``hasher`` picks the base hash
    (see :func:`_base_hash`).
    """
    x = _base_hash(F.col("shingle"), hasher)
    aggs = [
        F.min(F.pmod(x * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"_h{i}")
        for i, (a, b) in enumerate(_hash_params(k, seed))
    ]
    wide = shingles.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(k)]).alias("sig")
    )


def band_buckets(
    sigs: DataFrame, bands: int = 16, hasher: str = "xxhash64"
) -> DataFrame:
    """(id, band, bucket) — the LSH blocking projection of a signature
    table. Bucket keys are xxhash64 of the band slice (8-byte shuffle
    keys) by default; ``hasher="md5"`` uses the raw comma-joined slice
    string — bigger keys, but engine-portable (the oracle path); any
    other ``hasher`` raises. Shared by :func:`lsh_candidate_pairs` and the
    incremental-dedup index (new-batch buckets equi-join STORED
    buckets)."""
    check_hasher(hasher)
    r_expr = (F.size("sig") / F.lit(bands)).cast("int")

    def _bucket(bidx):
        sl = F.slice(F.col("sig"), bidx * r_expr + 1, r_expr)
        if hasher == "md5":
            return F.array_join(
                F.transform(sl, lambda v: v.cast("string")), ","
            ).alias("bucket")
        return F.xxhash64(bidx, sl).alias("bucket")

    # ``bands`` is a plain int, so the per-band structs unroll into one
    # codegen'd F.array literal — the previous transform(sequence(...))
    # ran an interpreted lambda per band per row (the round-5 verdict's
    # anti-pattern class). Same band indices, same bucket values.
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bidx).alias("band"), _bucket(F.lit(bidx)))
                    for bidx in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def sig_bands(sigs: DataFrame, n_bits: int, n_bands: int) -> DataFrame:
    """(id, band, key) — the packed-bit band cut: each ``n_bits``-bit
    signature ``sig`` (a long) is cut into ``n_bands`` slices of
    ``n_bits // n_bands`` bits. Two signatures within ``n_bands − 1``
    differing bits share at least one slice (pigeonhole), so blocking on
    (band, key) finds every such pair."""
    bits = n_bits // n_bands
    mask = (1 << bits) - 1
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sig", bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def bucket_pairs(keys: DataFrame, on: list[str]) -> DataFrame:
    """(a, b), a < b, distinct — every pair of ``id``s that share a
    blocking key ``on`` (the bucket-mate self-join of every blocking
    lane: (band, bucket), a shingle, or a (band, key) bit slice)."""
    return (
        keys.alias("x")
        .join(keys.alias("y"), on)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16, hasher: str = "xxhash64") -> DataFrame:
    """(a, b) candidate pairs, a < b, deduplicated across bands.

    Rows-per-band r = k / bands; similarity threshold ≈ (1/b)^(1/r).
    """
    return bucket_pairs(
        band_buckets(sigs, bands=bands, hasher=hasher), ["band", "bucket"]
    )


def exact_jaccard(
    shingles: DataFrame, pairs: DataFrame, include_zero: bool = True
) -> DataFrame:
    """(a, b, jaccard) — exact n-gram Jaccard for each candidate pair.

    |A∩B| via a join on shingle restricted to candidate pairs; |A|,|B| from
    a per-id size aggregate (computed once, broadcast — it's one row per id).

    ``include_zero=False`` drops pairs with an EMPTY intersection instead
    of reporting them with jaccard 0 — those pairs then never re-join the
    candidate table, removing one full join of the pair set from the plan.
    Callers that filter ``jaccard >= t`` with ``t > 0`` get identical rows
    either way (:func:`fuzzy_match_pairs` picks the mode from its
    threshold).
    """
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
    sa = shingles.select(F.col("id").alias("a"), "shingle")
    sb = shingles.select(F.col("id").alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    if include_zero:
        scored = pairs.join(inter, ["a", "b"], "left").fillna(
            0, subset=["n_inter"]
        )
    else:
        scored = inter
    return (
        scored
        .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """End-to-end: shingle → minhash → LSH block → exact-Jaccard verify.

    Returns (a, b, jaccard) with jaccard ≥ threshold, a < b.
    """
    sh = shingle(df, text_col, id_col, n=n)
    sigs = minhash_signatures(sh, k=k, seed=seed, hasher=hasher)
    cand = lsh_candidate_pairs(sigs, bands=bands, hasher=hasher)
    # a positive threshold drops zero-intersection pairs anyway — skip the
    # left-join that would only exist to report them as jaccard 0
    return exact_jaccard(sh, cand, include_zero=(threshold <= 0)).filter(
        F.col("jaccard") >= threshold
    )
