"""Text / training-data pipeline operators over a ``documents`` table
(doc_id, text, ...): deduplication family, language ID, quality scoring,
token counting, fingerprinting.

All hot paths are Catalyst expressions (JVM, whole-stage codegen) — including
SimHash, whose per-bit majority vote is 64 conditional sums over exploded
token hashes. Each operator is designed to scale: dedup families avoid the
O(n²) self-join via hash grouping (exact) or shingle/LSH blocking (near-dup).

Every operator reads text through one token stream: :func:`tokens` (the
whitespace tokens of a string, never an empty one), :func:`word_ngrams`
(overlapping word windows) and
:func:`~sparktax.link.minhash.char_grams` (overlapping char windows),
each one codegen'd regex pass with no interpreted Catalyst lambda.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparktax.hashing import md5_32, md5_60, md5_rank_expr, seeded_hash
from sparktax.link.minhash import (
    bucket_pairs,
    char_grams,
    exact_jaccard,
    fuzzy_match_pairs,
    shingle,
    sig_bands,
)

# --------------------------------------------------------------------------
# normalization + fingerprints
# --------------------------------------------------------------------------


def normalized_text(col):
    """Casefold, strip non-word chars, collapse whitespace — the dedup key."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\w\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


_TOKEN = r"\S+"


def tokens(col):
    """array<string> of the whitespace tokens of ``col`` in order — split,
    then drop empties, as one codegen'd ``regexp_extract_all``: never an
    empty token, so empty or whitespace-only text gives ``[]`` (and null
    gives null). Pass :func:`normalized_text` for the normalized stream."""
    return F.regexp_extract_all(col, F.lit(_TOKEN), 0)


def word_ngrams(norm, n: int):
    """array<string> of the overlapping ``n``-token windows of the
    single-spaced string ``norm``, in start order: a zero-width lookahead
    anchored at token starts captures ``n`` space-joined tokens per match,
    so text with fewer than ``n`` tokens gives ``[]``."""
    pat = r"(?<!\S)(?=((?:\S+ ){%d}\S+))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — md5 of the normalized text (content-defined exact
    fingerprint; stable across engines)."""
    return documents.select(
        "doc_id", F.md5(normalized_text(F.col(text_col))).alias("fp")
    )


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp, canonical_doc_id, n_copies) for every duplicate group with >1
    member. Exact dedup = one hash groupBy — no self-join, no shuffle of
    text bytes (only the 32-char fp)."""
    fp = fingerprint(documents, text_col)
    return (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _exact_survivors(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The exact lane: the rows of ``documents`` plus their ``fp`` (md5 of
    the normalized text, as :func:`fingerprint`), one row per ``fp`` —
    the min ``id_col``. A projection plus one window; no join."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        documents.withColumn("fp", F.md5(normalized_text(F.col(text_col))))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def dedup_exact(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per identical normalized text."""
    return _exact_survivors(documents, text_col, "doc_id").drop("fp")


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, jaccard) — EXACT n-gram Jaccard ≥ threshold for all pairs.

    Exactness without the O(n²) cross join: two docs with jaccard > 0 share
    ≥1 shingle, so the shingle equi-join enumerates every candidate pair;
    hot shingles are bounded by ``n``-gram entropy (and AQE splits skewed
    buckets). This is the oracle-checkable near-dup path; the MinHash/LSH
    path below is the probabilistic scale path.
    """
    sh = shingle(documents.select(F.col(id_col).alias("id"), text_col), text_col, "id", n=n)
    pairs = bucket_pairs(sh, ["shingle"])
    # every candidate shares >=1 shingle by construction, so the
    # zero-intersection left-join lane of exact_jaccard can never fire —
    # the inner form is identical and one pair-set join cheaper
    return exact_jaccard(sh, pairs, include_zero=False).filter(
        F.col("jaccard") >= threshold
    )


def minhash_near_duplicates(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """(a, b, jaccard) — MinHash/LSH-blocked near-dup pairs, exact-verified.

    The 100 TB path: signature cost is linear, candidate generation is an
    equi-join on (band, bucket), and only candidates pay the exact-Jaccard
    verify. Recall is probabilistic (≈1−(1−t^r)^b). ``hasher="md5"`` swaps
    the xxhash64 base hash for an md5-derived one that DuckDB reproduces
    bit-for-bit (the oracle path — slower per shingle, same algorithm)."""
    return fuzzy_match_pairs(
        documents.select(F.col(id_col).alias("_id"), text_col),
        text_col,
        "_id",
        threshold=threshold,
        n=n,
        k=k,
        bands=bands,
        hasher=hasher,
    )


def dedup_near(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Whole-corpus exact + near dedup: exact lane first (min id per
    normalized fingerprint), then drop every exact-survivor that
    near-duplicates (Jaccard ≥ threshold) ANY smaller-id exact-survivor —
    kept or dropped. This "suppressed by any earlier doc" rule (rather
    than connected components) is what makes the operation INCREMENTAL:
    a doc's fate depends only on docs before it, never on later arrivals,
    so :func:`dedup_incremental` reproduces it batch by batch."""
    ex = _exact_survivors(documents, text_col, id_col).drop("fp")
    pairs = minhash_near_duplicates(
        ex, threshold=threshold, n=n, k=k, bands=bands,
        text_col=text_col, id_col=id_col, hasher=hasher,
    )
    dropped = pairs.select(F.col("b").alias(id_col)).distinct()
    return ex.join(dropped, id_col, "left_anti")


def dedup_incremental(
    new_batch: DataFrame,
    index_dir: str,
    threshold: float = 0.8,
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
    near: bool = True,
) -> DataFrame:
    """Dedup ``new_batch`` against a PERSISTED index and append to it —
    the shape a real training pipeline needs (batches arrive over time;
    recomputing the whole corpus per batch is O(total²) wall over a
    run). Returns the surviving rows of ``new_batch``.

    Index: ONE snapshot-versioned table (``catalog.write_snapshot`` per
    batch = an atomic append commit; ``read_snapshot_union`` reads the
    log) holding (doc_id, fp, sig array<long>, sh array<long>) for every
    exact-survivor ever ingested — near-DROPPED docs included, because
    under the "suppressed by any earlier doc" rule they still suppress
    future arrivals. No text is stored: exact suppression anti-joins the
    32-char fp, candidate blocking equi-joins band buckets recomputed
    from stored signatures, and the verify is exact Jaccard over stored
    shingle-hash arrays.

    Equivalence contract (pytest-proven): if id-ordered batches partition
    a corpus, the union of per-batch survivors equals
    :func:`dedup_near` (``near=True``) / :func:`dedup_exact`
    (``near=False``) of the whole corpus.

    Scale shape: per batch, every join is O(batch) on one side — fp
    anti-join, bucket equi-join (never all-pairs), verify on candidates
    only. The index side streams from parquet; at 10⁹ stored docs the
    bucket join shuffles only (band, bucket) matches of the NEW batch's
    buckets. The shingle→signature pipeline — by far the dominant stage —
    runs exactly ONCE per batch: the snapshot commit (which must be
    written anyway) doubles as its materialization, and every downstream
    join (within-batch candidates, cross buckets, verify) reads the
    committed parquet instead of recomputing the lineage (measured 10k
    docs × ~1k shingles × k=128: recompute-per-action was ~3× the wall).

    Maintenance: at one commit per micro-batch the index log grows one
    small parquet dir per batch — periodically fold it with
    :func:`sparktax.catalog.compact_snapshots` +
    :func:`~sparktax.catalog.vacuum_snapshots` (pytest-proven invisible
    to batch results, tests/test_catalog_snapshots.py).
    """
    from sparktax.catalog import _version_dir, read_snapshot_union, write_snapshot
    from sparktax.link.minhash import (
        band_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    spark = new_batch.sparkSession
    index = read_snapshot_union(spark, index_dir)

    # The batch is keyed by id_col: redelivered rows (same id, same
    # content — an at-least-once source replaying inside ONE batch)
    # collapse here, so the returned semi-joins below yield exactly one
    # row per surviving doc. Without this, a within-batch replay slips
    # through the id-level semi-join and extracts twice (caught by the
    # streaming two-batch ≡ one-batch pytest).
    new_batch = new_batch.dropDuplicates([id_col])

    # ---- exact lane: min id per fp within the batch, then fp anti-join
    ex = _exact_survivors(new_batch, text_col, id_col)
    if index is not None:
        ex = ex.join(index.select("fp").distinct(), "fp", "left_anti")

    if not near:
        store = ex.select(
            F.col(id_col).alias("doc_id"),
            "fp",
            F.lit(None).cast("array<long>").alias("sig"),
            F.lit(None).cast("array<long>").alias("sh"),
        )
        v = write_snapshot(store, index_dir, params={"near": False})
        kept = spark.read.schema(store.schema).parquet(_version_dir(index_dir, v))
        return new_batch.join(
            kept.select(F.col("doc_id").alias(id_col)), id_col, "semi"
        )

    # ---- near lane: signatures + shingle-hash arrays for the survivors.
    # ONE gram-extraction pass feeds both: the exploded shingle table
    # drives the k-permutation groupBy, and the stored sh sets are the
    # same rows re-aggregated as sorted hash arrays (array_sort at the
    # aggregation boundary — collect_set order is task-arrival-dependent)
    sh = shingle(ex.select(F.col(id_col).alias("id"), text_col), text_col, "id", n=n)
    sigs = minhash_signatures(sh, k=k, hasher=hasher)
    sh_sets = sh.groupBy("id").agg(
        F.array_sort(F.collect_set(F.xxhash64("shingle"))).alias("sh")
    )
    enriched = ex.join(
        sigs.join(sh_sets, "id").withColumnRenamed("id", id_col), id_col
    )

    # ---- commit the batch's exact-survivors (kept AND near-dropped),
    # then read the committed parquet back with the written schema (no
    # inference job): ONE materialization of the signature stage feeds
    # every join below
    store = enriched.select(F.col(id_col).alias("doc_id"), "fp", "sig", "sh")
    v = write_snapshot(store, index_dir, params={"near": True, "threshold": threshold})
    stored = spark.read.schema(store.schema).parquet(_version_dir(index_dir, v))

    def _verify(cand: DataFrame, a: str, b: str, sh_b: DataFrame) -> DataFrame:
        """Exact Jaccard over stored shingle-hash arrays for candidate
        pairs; keeps pairs at/above the threshold."""
        return (
            cand.join(
                stored.select(F.col("doc_id").alias(a), F.col("sh").alias("sh_a")), a
            )
            .join(sh_b, b)
            .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # within-batch suppression: any verified pair (a < b) drops b
    cand_in = lsh_candidate_pairs(
        stored.select(F.col("doc_id").alias("id"), "sig"), bands=bands, hasher=hasher
    )
    drops = _verify(
        cand_in.select(F.col("b").alias("new_id"), F.col("a").alias("other")),
        "new_id",
        "other",
        stored.select(F.col("doc_id").alias("other"), F.col("sh").alias("sh_b")),
    ).select("new_id")
    # cross suppression: new buckets ⋈ stored buckets, verify on sh arrays
    if index is not None:
        old = index.filter(F.col("sig").isNotNull())
        old_b = band_buckets(
            old.select(F.col("doc_id").alias("id"), "sig"), bands=bands, hasher=hasher
        ).select(F.col("id").alias("old_id"), "band", "bucket")
        new_b = band_buckets(
            stored.select(F.col("doc_id").alias("id"), "sig"),
            bands=bands,
            hasher=hasher,
        ).select(F.col("id").alias("new_id"), "band", "bucket")
        cand = (
            new_b.join(old_b, ["band", "bucket"]).select("new_id", "old_id").distinct()
        )
        drops = drops.unionByName(
            _verify(
                cand, "new_id", "old_id",
                old.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b")),
            ).select("new_id")
        )

    keep = stored.select(F.col("doc_id").alias(id_col)).join(
        drops.select(F.col("new_id").alias(id_col)).distinct(), id_col, "left_anti"
    )
    return new_batch.join(keep, id_col, "semi")


def simhash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — token-level 64-bit SimHash, entirely JVM-side.

    Token hash = first 16 hex chars of md5, read as two 32-bit halves so no
    intermediate exceeds a signed long (Spark 4 ANSI-safe) and the DuckDB
    oracle can reproduce it bit-for-bit. Per-bit majority = 64 conditional
    sums after an explode; tokens of one doc stay in one input partition,
    so map-side partial aggregation collapses each doc to a single 64-long
    row before the shuffle. Empty/whitespace-only docs hash to 0.

    Bit 63 is packed via a −2⁶³ offset (never summing past long range);
    near-dups differ in few bits — :func:`simhash_near_duplicates` pairs
    them with the shared band cut and bucket-mate self-join.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # a doc with no token keeps one null-token row under explode_outer:
    # md5(null) is null, count("lo") skips it and the vote sums coalesce
    # it to 0, so that doc hashes to 0
    md5h = F.md5(F.col("tok"))
    tok = documents.select(
        "doc_id", F.explode_outer(tokens(F.lower(txt))).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    votes = [
        F.sum(
            F.coalesce(
                F.shiftright(F.col("lo" if i < 32 else "hi"), i % 32).bitwiseAND(
                    F.lit(1)
                ),
                F.lit(0),
            )
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(F.count("lo").alias("n"), *votes)
    sim = F.when(F.col("v63") * 2 > F.col("n"), F.lit(-(2**63))).otherwise(
        F.lit(0).cast("long")
    )
    for i in range(63):
        sim = sim + F.when(
            F.col(f"v{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_near_duplicates(
    documents: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """(a, b, hamming) — pairs within ``max_hamming`` bits. Blocking cuts
    each SimHash into 4 16-bit bands (:func:`~sparktax.link.minhash.sig_bands`)
    and pairs bucket-mates (:func:`~sparktax.link.minhash.bucket_pairs`);
    the two hashes then join back for ``bit_count(a xor b)``. Exact for
    ``max_hamming`` ≤ 3 (pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 bands
    identical); above that, pairs differing in every band are missed."""
    sh = simhash(documents, text_col).select(
        F.col("doc_id").alias("id"), F.col("simhash").alias("sig")
    )
    cand = bucket_pairs(sig_bands(sh, 64, 4), ["band", "key"])
    ha = sh.select(F.col("id").alias("a"), F.col("sig").alias("_ha"))
    hb = sh.select(F.col("id").alias("b"), F.col("sig").alias("_hb"))
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fp) — MOSS-style winnowing fingerprints (Schleimer et al.,
    SIGMOD'03): hash every character ``k``-gram, keep the minimum hash of
    each sliding window of ``w`` consecutive k-gram hashes, distinct.

    Guarantees: any match of length ≥ w+k−1 between two documents shares
    ≥1 fingerprint, while only ~2/(w+1) of positions are retained — the
    local-similarity fingerprint for plagiarism/provenance detection.

    All Catalyst: k-grams via posexplode of :func:`char_grams`, the
    rolling window via a per-document sliding ``min`` (sort-spills on hot
    docs, never resident in Python). The gram hash is an md5 prefix so the
    DuckDB oracle reproduces it bit-for-bit.
    """
    norm = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    # match order == position order, so the posexplode index is the gram's
    # start; docs shorter than k have no gram
    pos_gram = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(char_grams(norm, k)).alias("i", "gram"),
    )
    h = md5_32(F.col("gram"))
    hashed = pos_gram.select("doc_id", "i", h.alias("h"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        hashed.withColumn("_m", F.min("h").over(win))
        .filter(F.col("i") >= w - 1)  # full windows only (i is 0-based)
        .select("doc_id", F.col("_m").alias("fp"))
        .distinct()
    )


def word_shingles(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, shingle) — distinct word n-grams (:func:`word_ngrams`) of the
    normalized text, fully codegen. A doc with fewer than ``n`` tokens has
    no shingle."""
    grams = F.array_distinct(word_ngrams(normalized_text(F.col(text_col)), n))
    return (
        df.select(F.col(id_col).alias("id"), grams.alias("_g"))
        .select("id", F.explode("_g").alias("shingle"))
    )


def decontaminate(
    documents: DataFrame,
    probes: DataFrame,
    n: int = 8,
    min_matches: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """(doc_id, probe_id, n_matches) — documents sharing ≥ ``min_matches``
    distinct word ``n``-grams with any probe (benchmark/eval) text: the
    standard training-data decontamination primitive.

    Scale shape: the probe set is small by definition (benchmarks), so its
    shingles broadcast; the corpus-side shingling is a narrow explode and
    the match is a broadcast equi-join — the 100 TB corpus is touched once,
    no shuffle of corpus bytes. Use :func:`decontaminated` to keep only
    the clean documents.
    """
    doc_sh = word_shingles(documents, n, text_col, id_col).withColumnRenamed(
        "id", "doc_id"
    )
    probe_sh = (
        word_shingles(probes, n, probe_text_col, probe_id_col)
        .withColumnRenamed("id", "probe_id")
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "shingle")
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_matches"))
        .filter(F.col("n_matches") >= min_matches)
    )


def decontaminated(
    documents: DataFrame,
    probes: DataFrame,
    n: int = 8,
    min_matches: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Documents with NO contaminating probe overlap (broadcast anti-join
    on the hit set)."""
    hits = decontaminate(
        documents, probes, n, min_matches, text_col, id_col, probe_text_col
    ).select("doc_id").distinct()
    return documents.join(
        hits.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


# --------------------------------------------------------------------------
# language ID / quality / tokens
# --------------------------------------------------------------------------

# tiny marker lexicons (n-gram/stopword heuristic). Deterministic and
# SQL-expressible so the DuckDB oracle can replicate them.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "fr": ["le", "la", "les", "et", "de", "est", "que", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "para"],
}


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, lang_hits) — argmax of marker-word hits;
    'und' (undetermined) when no marker matches. Ties: lexicographic lang
    order, deterministic."""
    toks = tokens(normalized_text(F.col(text_col)))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias(lang)
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    scored = documents.select("doc_id", *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(lang) for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(lang) == best, F.lit(lang))
    return scored.select(
        "doc_id", pred.alias("lang_pred"), best.cast("int").alias("lang_hits")
    )


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, quality) — cheap quality heuristics entirely in SQL.

    quality ∈ [0,1]: penalizes too-short docs, extreme punctuation, and
    stopword-free (likely non-linguistic) text."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(txt)
    # token + stopword counts via codegen'd regexp_count over the
    # single-spaced normalized string instead of interpreted per-token
    # array-filter lambdas: each stopword token is matched exactly once
    # (the leading separator is consumed, the trailing one only
    # looked-ahead, so adjacent stopwords all count). Value-identical to
    # the filter forms — pinned by the differential test and the
    # quality_score oracle.
    norm = normalized_text(txt)
    toks = tokens(norm)
    n_tokens = F.regexp_count(norm, F.lit(_TOKEN))
    punct = F.length(txt) - F.length(F.regexp_replace(txt, r"[^\w\s]", ""))
    all_stop = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    stop_re = r"(?:^| )(?:" + "|".join(all_stop) + r")(?= |$)"
    stop_hits = F.regexp_count(norm, F.lit(stop_re))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(0.0)
    avg_tok = F.when(n_tokens > 0, (F.length(F.array_join(toks, ""))) / n_tokens).otherwise(0.0)
    quality = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens) — whitespace tokens and a
    BPE-ish regex count (letter runs, single digits, punctuation marks —
    a cheap proxy for subword token cost)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.regexp_count(txt, F.lit(_TOKEN))
    bpe = F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_RE), 0))
    return documents.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


# sentences = the [.!?]-separated pieces trimmed of spaces (Spark's trim
# rule: spaces only), empties dropped: one match per piece, from its first
# to its last non-space char
_SENTENCE = r"[^.!? ](?:[^.!?]*[^.!? ])?"


def repetition_signals(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, top_token_frac, top_bigram_frac,
    dup_sentence_frac) — Gopher-style repetition filters (Rae et al. 2021,
    "Scaling Language Models", table A1): the share of all tokens taken by
    the single most frequent token / word 2-gram, and the fraction of
    duplicated sentences. High values flag boilerplate and templated docs
    for removal before LM training.

    Scale shape: one posexplode, then hash groupBys keyed on
    (doc_id, gram) with map-side partial aggregation — one row per doc
    through the final exchange; the sentence signal is pure array
    expressions on the unexploded table (no second explode)."""
    txt = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = documents.select(
        "doc_id", F.posexplode(tokens(txt)).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull()
    )

    def top_frac(grams: DataFrame, gram_cols: list[str], out: str) -> DataFrame:
        per_gram = grams.groupBy("doc_id", *gram_cols).agg(
            F.count("*").alias("c")
        )
        return per_gram.groupBy("doc_id").agg(
            F.round(F.max("c") / F.sum("c"), 6).alias(out),
            F.sum("c").alias(f"_n_{out}"),
        )

    tok_stats = top_frac(toks, ["tok"], "top_token_frac")
    big_stats = top_frac(bigrams, ["tok", "nxt"], "top_bigram_frac")

    sents = F.regexp_extract_all(txt, F.lit(_SENTENCE), 0)
    dup_sent = F.when(
        F.size(sents) > 0,
        F.round(
            1.0 - F.size(F.array_distinct(sents)) / F.size(sents), 6
        ),
    ).otherwise(0.0)

    base = documents.select("doc_id", dup_sent.alias("dup_sentence_frac"))
    return (
        base.join(tok_stats, "doc_id", "left")
        .join(big_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n_top_token_frac"), F.lit(0)).alias("n_tokens"),
            F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            "dup_sentence_frac",
        )
    )

# ---------------------------------------------------------------------------
# PII scrubbing (pre-training hygiene: Subramani et al. 2023 "Detecting
# PII in scale"-style regex lane; the standard first pass every public
# LM corpus pipeline runs before training)

# Patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \b —
# so the DuckDB oracle replays the redaction bit-for-bit. Order matters:
# ssn before phone (both digit-dash shapes), email before ip (a host
# part could contain a dotted quad).
PII_PATTERNS: "tuple[tuple[str, str], ...]" = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def redact_pii(
    documents: DataFrame,
    text_col: str = "text",
    kinds: "tuple[str, ...] | None" = None,
    with_counts: bool = True,
) -> DataFrame:
    """Replace PII spans in ``text_col`` with ``<KIND>`` sentinels;
    ``with_counts`` adds one ``n_<kind>`` column per pattern (how many
    spans each doc shed — the audit trail a compliance pass needs).

    Pure Catalyst (``regexp_replace``/``regexp_count``): a narrow
    JVM-side map with no shuffle, so it composes into any scan at 100 TB
    for free. Patterns applied in :data:`PII_PATTERNS` order on the
    progressively-redacted text (ssn before phone, email before ip —
    later patterns never see spans an earlier one consumed, in either
    engine)."""
    active = [
        (k, p) for k, p in PII_PATTERNS if kinds is None or k in kinds
    ]
    txt = F.coalesce(F.col(text_col), F.lit(""))
    red, counts = txt, []
    for k, p in active:
        # count on the progressively-redacted text: a span an earlier
        # pattern consumed (dotted-quad host inside an email) is not
        # double-counted by a later one
        counts.append(F.regexp_count(red, F.lit(p)).cast("long").alias(f"n_{k}"))
        red = F.regexp_replace(red, p, f"<{k.upper()}>")
    others = [c for c in documents.columns if c != text_col]
    return documents.select(
        *others,
        red.alias(text_col),
        *(counts if with_counts else []),
    )


# ---------------------------------------------------------------------------
# sequence packing (pack-then-chunk: concatenate docs in a deterministic
# order and split at token-budget boundaries — the GPT-style pretraining
# batch layout; a doc may straddle two sequences)


def pack_sequences(
    documents: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_ranges: int | None = None,
    carry_cols: "list[str] | None" = None,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, seq_id, seq_offset, end_seq_id) — assign each
    document its position in the packed token stream: docs concatenate
    in ``id_col`` order, sequence ``seq_id`` holds stream positions
    ``[seq_id·budget, (seq_id+1)·budget)``; ``seq_offset`` is the doc's
    start within its first sequence and ``end_seq_id`` the sequence its
    last token lands in (> seq_id ⟺ the doc straddles a boundary).

    Scale shape — a distributed prefix sum, NOT a global window: a
    ``Window.orderBy`` with no partition key collapses to ONE partition
    (a single-task sort of the whole corpus). Instead: (1) split the id
    domain into ``n_ranges`` deterministic ranges (from one min/max
    agg), (2) cumsum WITHIN each range (per-range window — parallel),
    (3) cumsum the ``n_ranges`` per-range totals (tiny driver-side
    list) and broadcast each range's prefix offset back as a literal
    CASE. Integer arithmetic end-to-end, so the two-level sum is
    bit-equal to the global cumsum any other engine computes directly.

    Token count = whitespace tokens by default; pass ``n_tokens_col``
    to budget on a REAL tokenizer count instead (e.g. ``n_bpe_tokens``
    from :func:`sparktax.bpe.encode_bpe` — see
    :func:`prepare_training_corpus`'s ``bpe_merges``).

    The operator needs THREE passes over ``(id, n_tokens)`` — min/max of
    the id domain, per-range totals, and the final read under the window.
    Everything derives from that tiny two-long projection, so it is
    ``localCheckpoint``-ed eagerly and the (possibly expensive — a
    mix→shuffle chain, a tokenizer) upstream plan executes exactly ONCE
    instead of three times.

    ``carry_cols``: extra input columns passed through to the output
    unchanged (rides the materialized base — NO re-execution of the
    upstream plan and no join-back, which would run it again)."""
    carry = carry_cols or []
    if n_tokens_col is not None:
        n = F.col(n_tokens_col).cast("long")
    else:
        txt = F.coalesce(F.col(text_col), F.lit(""))
        n = F.regexp_count(txt, F.lit(_TOKEN)).cast("long")
    base = documents.select(F.col(id_col), *carry, n.alias("n_tokens"))
    base = base.localCheckpoint(eager=True)
    lo, hi = base.agg(
        F.min(id_col).cast("long"), F.max(id_col).cast("long")
    ).first()
    if lo is None:
        return base.select(
            id_col,
            *carry,
            "n_tokens",
            F.lit(None).cast("long").alias("seq_id"),
            F.lit(None).cast("long").alias("seq_offset"),
            F.lit(None).cast("long").alias("end_seq_id"),
        )
    n_ranges = n_ranges or int(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    width = max(1, -(-(hi - lo + 1) // n_ranges))
    rng = ((F.col(id_col).cast("long") - F.lit(lo)) / width).cast("long")
    ranged = base.withColumn("_rng", rng)
    w = (
        Window.partitionBy("_rng")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ranged.withColumn("_cum_in", F.sum("n_tokens").over(w))
    totals = {
        r["_rng"]: r["t"]
        for r in ranged.groupBy("_rng")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    prefix, acc = [], 0
    for r in sorted(totals):
        prefix.append((r, acc))
        acc += totals[r]
    pdf = documents.sparkSession.createDataFrame(
        prefix, "_rng long, _prefix long"
    )
    cum_before = (
        F.col("_prefix") + F.col("_cum_in") - F.col("n_tokens")
    ).alias("_start")
    out = within.join(F.broadcast(pdf), "_rng").select(
        id_col, *carry, "n_tokens", cum_before
    )
    return out.select(
        id_col,
        *carry,
        "n_tokens",
        (F.col("_start") / budget).cast("long").alias("seq_id"),
        (F.col("_start") % budget).alias("seq_offset"),
        F.when(
            F.col("n_tokens") > 0,
            ((F.col("_start") + F.col("n_tokens") - 1) / budget).cast("long"),
        )
        .otherwise((F.col("_start") / budget).cast("long"))
        .alias("end_seq_id"),
    )


# ---------------------------------------------------------------------------
# document chunking (token windows with stride — RAG / long-doc pretraining
# layout: each doc becomes ceil(n_tokens / stride) overlapping windows)


def chunk_documents(
    documents: DataFrame,
    chunk_size: int,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_start, n_chunk_tokens, chunk_text) —
    split each document's whitespace-token stream into windows of
    ``chunk_size`` tokens starting every ``stride`` tokens (default:
    non-overlapping, ``stride = chunk_size``). The last window may be
    short; zero-token documents emit no chunks.

    Scale shape: one narrow map + generator (``posexplode`` over a
    per-row ``sequence``) — zero shuffles, whole-stage codegen
    end-to-end, filter/pruning pushes through to the scan. Output
    volume is the only cost: overlap multiplies the corpus by
    ``chunk_size / stride``; pick stride accordingly at 100 TB."""
    if chunk_size <= 0 or (stride is not None and stride <= 0):
        raise ValueError("chunk_size and stride must be positive")
    stride = stride or chunk_size
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(txt)
    t = documents.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    ).where(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    ex = t.select(
        id_col,
        "_toks",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    sl = F.slice(F.col("_toks"), F.col("chunk_start") + 1, F.lit(chunk_size))
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", sl).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# corpus mixing (deterministic domain-weighted up/down-sampling — the
# training-mix layout: weight 0.25 keeps a quarter of a domain, weight 2.5
# repeats every doc twice and half of them a third time)


def mix_weight_params(weight: float) -> tuple[int, int]:
    """(base_copies, extra_threshold) for a mix weight: every doc gets
    ``floor(w)`` copies plus one more iff its 60-bit md5 uniform draw is
    below ``floor(frac(w)·2⁶⁰)``. Shared by the Spark operator and any
    oracle replica so both compare against the identical integer."""
    if weight < 0:
        raise ValueError(f"mix weight must be >= 0, got {weight}")
    base = int(weight)
    return base, int((weight - base) * (16**15))


def mix_corpora(
    documents: DataFrame,
    weights: dict[str, float],
    seed: int = 0,
    domain_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 0.0,
) -> DataFrame:
    """Domain-weighted training mixture: emit each document
    ``floor(w)`` times plus one extra copy with probability ``frac(w)``
    where ``w = weights[domain]`` (domains absent from ``weights`` get
    ``default_weight``; weight 0 drops the domain). Output = the input
    columns plus ``copy_idx`` (1..n_copies — the "epoch" a copy belongs
    to, so downstream shuffles can interleave repeats).

    Determinism: the Bernoulli draw is the exact 60-bit integer
    ``conv(substr(md5(id || ':' || seed), 1, 15), 16, 10)`` compared
    against ``floor(frac(w)·2⁶⁰)`` (:func:`mix_weight_params`) —
    all-integer, so any engine replays it bit-identically (the same
    md5-uniform device as ``KnowledgeGraph.sample_instances``).

    Scale shape: the weight table is a broadcast join (≤ thousands of
    domains); the corpus is never shuffled — one narrow map decides
    n_copies, a generator emits the copies. Upsampling multiplies bytes
    by Σw·share, which is the intended output size of a mix job."""
    spark = documents.sparkSession
    rows = [(d, *mix_weight_params(w)) for d, w in sorted(weights.items())]
    wdf = spark.createDataFrame(rows, "_dom string, _base long, _thresh long")
    dbase, dthresh = mix_weight_params(default_weight)
    u = md5_rank_expr(F.col(id_col), str(seed))
    joined = documents.join(
        F.broadcast(wdf), documents[domain_col] == wdf["_dom"], "left"
    )
    n_copies = F.coalesce(F.col("_base"), F.lit(dbase)) + F.when(
        u < F.coalesce(F.col("_thresh"), F.lit(dthresh)), 1
    ).otherwise(0)
    return (
        joined.withColumn("_n_copies", n_copies)
        .where(F.col("_n_copies") > 0)
        .select(
            *documents.columns,
            F.explode(F.sequence(F.lit(1), F.col("_n_copies"))).alias(
                "copy_idx"
            ),
        )
    )


# ---------------------------------------------------------------------------
# training order (deterministic seeded global shuffle into shards — the step
# between mixing and packing: a training run reads shard s sequentially, so
# the (shard_id, pos) assignment IS the epoch's example order)


def training_order(
    documents: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    extra_key_cols: "list[str] | None" = None,
) -> DataFrame:
    """Input columns + (shard_id, pos) — a deterministic pseudorandom
    permutation of the corpus laid out as ``n_shards`` shards read
    sequentially: shard = u mod n_shards, pos = rank of u within the
    shard, where u is the exact 60-bit md5-uniform integer of
    ``(id [, extra keys], seed)``. Pass ``extra_key_cols=["copy_idx"]``
    on :func:`mix_corpora` output so repeated copies of a doc land in
    independent positions.

    Scale shape: ONE shuffle (hashpartitioning on shard_id) followed by
    a per-shard window sort — parallelism = n_shards, so size shards to
    the cluster (thousands at 100 TB), never 1. No global-order window,
    no driver collect; all-integer keys make the order bit-reproducible
    across engines and runs."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    keys = [id_col, *(extra_key_cols or [])]
    u = md5_60(
        F.concat_ws(
            ":", *[F.col(k).cast("string") for k in keys], F.lit(str(seed))
        )
    )
    tagged = documents.withColumn("_u", u).withColumn(
        "_shard", (F.col("_u") % n_shards).cast("long")
    )
    w = Window.partitionBy("_shard").orderBy(
        "_u", *[F.col(k) for k in keys]
    )
    return tagged.select(
        *documents.columns,
        F.col("_shard").alias("shard_id"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# corpus splitting (deterministic train/val/test assignment — disjoint and
# exhaustive by construction: one uniform draw bucketed by cumulative
# fraction thresholds)


def split_corpus(
    documents: DataFrame,
    fractions: dict[str, float],
    seed: int = 0,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Input columns + ``split_col`` — assign every row to exactly one
    named split with probability ≈ its fraction (fractions must sum to
    1 within 1e-9). The draw is the exact 60-bit md5-uniform integer of
    ``(id, seed)`` bucketed by cumulative integer thresholds
    ``floor(Σf·2⁶⁰)``, so the assignment is a pure narrow map —
    content-stable, bit-replayable in any engine, and consistent for a
    given id across reruns and engines (new rows never reshuffle old
    assignments, the property that keeps eval sets uncontaminated as
    the corpus grows).

    Scale shape: zero shuffles, zero joins — one codegen'd CASE over
    the scan; split names are ordered lexicographically so the
    threshold layout is deterministic regardless of dict order."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if any(f < 0 for f in fractions.values()):
        raise ValueError("fractions must be >= 0")
    u = md5_rank_expr(F.col(id_col), str(seed))
    *cuts, (last, _) = split_thresholds(fractions)
    expr = None
    for name, thresh in cuts:
        cond = u < F.lit(thresh)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return documents.select(*documents.columns, expr.alias(split_col))


def prepare_training_corpus(
    documents: DataFrame,
    weights: dict[str, float],
    n_shards: int,
    budget: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    default_weight: float = 0.0,
    bpe_merges: DataFrame | None = None,
) -> DataFrame:
    """One-call training-prep chain: :func:`mix_corpora` (domain-weighted
    up/down-sampling, seed) → :func:`training_order` (seed+1; copies get
    independent slots) → :func:`pack_sequences` over the shard-ordered
    stream (global position = shard·2⁴⁰ + pos, so sequences fill shard
    by shard in read order). Returns one row per (doc, copy):
    (doc_id, copy_idx, shard_id, pos, n_tokens, seq_id, seq_offset,
    end_seq_id).

    Every stage is deterministic (md5-uniform integer devices), so the
    whole layout is bit-reproducible for a given (corpus, weights,
    n_shards, budget, seed). Scale: one corpus shuffle (the shard
    exchange) + per-shard sorts + the two-level pack prefix sum; the
    shard key is hash-uniform by construction, so domain skew in the
    input CANNOT skew the shuffle.

    ``bpe_merges``: a trained merge table (:func:`sparktax.bpe.train_bpe`)
    switches the pack budget from whitespace tokens to REAL BPE token
    counts — each distinct doc is tokenized once
    (:func:`sparktax.bpe.encode_bpe` on the pre-mix corpus, cost ∝
    vocabulary) and copies inherit the count through a broadcast-friendly
    join, so sequences hold exactly ``budget`` model tokens."""
    mixed = mix_corpora(
        documents,
        weights,
        seed=seed,
        domain_col=domain_col,
        id_col=id_col,
        default_weight=default_weight,
    )
    ordered = training_order(
        mixed,
        n_shards=n_shards,
        seed=seed + 1,
        id_col=id_col,
        extra_key_cols=["copy_idx"],
    )
    gid = (F.col("shard_id") * F.lit(1 << 40) + F.col("pos")).alias("_gid")
    stream = ordered.select(
        gid, id_col, "copy_idx", "shard_id", "pos", text_col
    )
    n_tokens_col = None
    if bpe_merges is not None:
        from sparktax.bpe import encode_bpe

        counts = encode_bpe(
            documents, bpe_merges, text_col=text_col, id_col=id_col
        ).select(id_col, F.col("n_bpe_tokens").alias("_n_bpe"))
        stream = stream.join(counts, id_col)
        n_tokens_col = "_n_bpe"
    packed = pack_sequences(
        stream,
        budget=budget,
        text_col=text_col,
        id_col="_gid",
        carry_cols=[id_col, "copy_idx", "shard_id", "pos"],
        n_tokens_col=n_tokens_col,
    )
    return packed.select(
        id_col,
        "copy_idx",
        "shard_id",
        "pos",
        "n_tokens",
        "seq_id",
        "seq_offset",
        "end_seq_id",
    )


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(name, cumulative 60-bit threshold) pairs in the exact layout
    :func:`split_corpus` compiles — exported so oracle replicas compare
    against the identical integers."""
    acc, out = 0.0, []
    for name in sorted(fractions):
        acc += fractions[name]
        out.append((name, int(acc * (16**15))))
    return out


def _word_grams(text_col: str):
    """array<string> of word unigrams + bigrams over the normalized text
    (the DSIR feature space: hashed 1–2-grams, Xie et al. 2023 §3):
    :func:`tokens` then :func:`word_ngrams` with ``n = 2``, so no
    interpreted higher-order lambda runs (a ``transform(sequence, ...)``
    bigram form measured ~50× slower: 14.5 s vs 0.3 s on 20k docs)."""
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    return F.concat(tokens(norm), word_ngrams(norm, 2))


# the gram-bucket device: every DSIR / perplexity / quality-classifier /
# doc-cluster step reads hashed word 1–2-grams through these four helpers
_SAMPLE = 4096  # docs per hash-rank training sample (driver-safe bound)
_KMEANS_ITERS = 10
_LOGREG_EPOCHS = 200


def _bucketed_grams(
    df: DataFrame, text_col: str, buckets: int, hasher: str,
    id_col: str | None = None, outer: bool = False,
) -> DataFrame:
    """One ``(doc_id, bucket)`` row per word 1–2-gram of ``text_col``
    (just ``bucket`` without ``id_col``), hashed into ``buckets`` with the
    md5-60 or xxhash64 lane. ``outer`` keeps a doc with no grams as one
    null-bucket row in either lane: ``explode`` drops an empty array, and
    a training sample must keep that doc's zero row."""
    keys = ["doc_id"] if id_col else []
    explode = F.explode_outer if outer else F.explode
    h = seeded_hash(F.col("_g"), hasher)
    # md5_60 is non-negative, so plain ``%`` already is the residue
    bucket = h % buckets if hasher == "md5" else F.pmod(h, F.lit(buckets))
    if outer:  # xxhash64(null) is its seed, not null: null the bucket itself
        bucket = F.when(F.col("_g").isNotNull(), bucket)
    return df.select(
        *(F.col(id_col).alias(k) for k in keys),
        explode(_word_grams(text_col)).alias("_g"),
    ).select(*keys, bucket.alias("bucket"))


def _bucket_counts(df: DataFrame, text_col: str, buckets: int, hasher: str):
    """Corpus-wide int64 gram count per bucket: one map-side partial
    aggregate whose exchange and driver collect carry ≤ ``buckets`` rows."""
    import numpy as np

    rows = (
        _bucketed_grams(df, text_col, buckets, hasher)
        .groupBy("bucket")
        .count()
        .collect()
    )
    c = np.zeros(buckets, dtype=np.int64)
    for r in rows:
        c[int(r["bucket"])] = int(r["count"])
    return c


def _score_buckets(
    documents: DataFrame, table, name: str, text_col: str, id_col: str,
    hasher: str,
) -> DataFrame:
    """``(doc_id, n_grams, _s)`` for EVERY doc, ``_s`` = Σ ``table[bucket]``
    over its grams: a narrow explode → broadcast join against the
    ``len(table)``-row int64 table (column ``name``) → map-side partial
    sums, one row per doc through the exchange, left-joined back so a
    gramless doc comes out with null ``n_grams``/``_s``."""
    wdf = documents.sparkSession.createDataFrame(
        [(i, int(v)) for i, v in enumerate(table)], f"bucket long, {name} long"
    )
    scored = (
        _bucketed_grams(documents, text_col, len(table), hasher, id_col)
        .join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum(name).alias("_s"))
    )
    return documents.select(F.col(id_col).alias("doc_id")).join(
        scored, "doc_id", "left"
    )


def _sample_matrix(
    df: DataFrame, text_col: str, id_col: str, buckets: int, hasher: str,
    seed: int,
):
    """Dense bucket-count matrix of a BOUNDED hash-rank sample of
    ``_SAMPLE`` docs (driver-safe at any corpus size), one row per sampled
    doc in id order, zero rows included. The sample is featurized
    DISTRIBUTED with the same gram/bucket expressions scoring uses, so
    train and score buckets agree for either hasher."""
    import numpy as np

    ids = (
        df.select(F.col(id_col).alias("_id"))
        .withColumn("_rk", seeded_hash(F.col("_id").cast("string"), hasher, seed))
        .orderBy("_rk", "_id")
        .limit(_SAMPLE)
        .select("_id")
    )
    sampled = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).join(ids, "_id", "left_semi")
    rows = (
        _bucketed_grams(sampled, "_t", buckets, hasher, "_id", outer=True)
        .groupBy("doc_id", "bucket")
        .count()
        .collect()
    )
    row_of = {d: i for i, d in enumerate(sorted({r["doc_id"] for r in rows}))}
    X = np.zeros((len(row_of), buckets))
    for r in rows:
        if r["bucket"] is not None:
            X[row_of[r["doc_id"]], int(r["bucket"])] = r["count"]
    return X


def dsir_bucket_weights(ct, cr):
    """Quantized DSIR bucket log-ratios, shared by the Spark lane and the
    DuckDB oracle builder: w_b = log((ct_b+1)/(T+B)) − log((cr_b+1)/(R+B))
    (add-1-smoothed hashed-ngram unigram models), quantized to
    ``round(w·2²⁰)`` int64 so per-doc sums are summation-order-free and
    engine-exact (the sign-LSH/IVF integer device)."""
    import numpy as np

    from sparktax.simsearch import _quantize

    ct = np.asarray(ct, dtype=np.float64)
    cr = np.asarray(cr, dtype=np.float64)
    B = len(ct)
    w = (np.log(ct + 1.0) - np.log(ct.sum() + B)) - (
        np.log(cr + 1.0) - np.log(cr.sum() + B)
    )
    return _quantize(w)


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    hasher: str = "xxhash64",
) -> DataFrame:
    """DSIR data-selection scores (Xie et al. 2023, arXiv:2302.03169):
    per-document importance weight log p_target(doc) − log p_raw(doc)
    under bag-of-hashed-ngram models (word 1–2-grams hashed into
    ``buckets``). Returns ``(doc_id, n_grams, logratio)`` for every raw
    doc; select the top fraction by ``logratio`` (or Gumbel-perturb it)
    to resample toward the target distribution.

    The 100 TB shape: the two bucket-count aggregations are map-side
    partial hash aggs whose exchanges carry ≤ ``buckets`` rows each; the
    collected count vectors are bounded by ``buckets`` (driver-safe at any
    corpus size, like IVF centroid training); scoring is a narrow explode
    → broadcast join against the 8k-row weight table → partial agg back
    to one row per doc. No shuffle ever carries gram-level rows across
    stages. ``hasher="md5"`` swaps xxhash64 bucketing for the md5-prefix
    device DuckDB replays bit-for-bit (the oracle lane)."""
    # the two count jobs are independent — overlap them (guide §2.6) so the
    # second backfills executors freed by the first's tail; the session's
    # FAIR scheduler keeps neither starving the other. Exact counts, so
    # concurrency cannot change any value.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        ct_f, cr_f = [
            pool.submit(_bucket_counts, df, text_col, buckets, hasher)
            for df in (target, raw)
        ]
        wq = dsir_bucket_weights(ct_f.result(), cr_f.result())
    return _score_buckets(raw, wq, "wq", text_col, id_col, hasher).select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.round(
            F.coalesce(F.col("_s"), F.lit(0)) / F.lit(float(1 << 20)), 6
        ).alias("logratio"),
    )


def dedup_spans(
    documents: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): remove every duplicated token span of length ≥ ``w``
    from all but its first occurrence, keeping the rest of each document.
    Returns ``(doc_id, n_tokens, n_removed, clean_text)`` over the
    normalized token stream (the repo's dedup key).

    Mechanism: every ``w``-token window is hashed; a window whose hash
    occurs more than once corpus-wide is a duplicate, and every
    occurrence except the global first (min ``doc_id·2²⁰+pos``) marks its
    ``[pos, pos+w)`` span for removal. Overlapping marked spans merge
    (gaps-and-islands), so a repeated region of length L ≥ w — whose
    L−w+1 windows are all duplicated — is removed as ONE maximal span:
    the fixed-window union recovers exactly the maximal repeated regions
    the reference suffix-array method finds, at ≥ w granularity, without
    building a distributed suffix array.

    The 100 TB shape: window hashing is a narrow per-doc regex pass
    (:func:`word_ngrams`, no shuffle); duplicate detection is ONE content shuffle — a
    map-side-combined count/min aggregate on the 8-byte window hash, so
    the exchange carries one row per distinct window, never one per
    occurrence; marked spans join back on the hash (AQE skew-join splits
    boilerplate-hot hashes); interval merge + text rebuild are per-doc
    window functions and array ops. Bounds: ≤ 2²⁰ tokens/doc and
    ``doc_id`` < 2⁴³ (the composite first-occurrence key) — chunk longer
    docs first (:func:`chunk_documents`). ``hasher="md5"`` uses the
    md5-prefix hash DuckDB replays bit-for-bit."""
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    base = documents.select(F.col(id_col).alias("doc_id"), tokens(norm).alias("_t"))
    n = F.size("_t")
    # the posexplode index of a window IS its token position: every token
    # start except the last w−1 opens one window
    wins = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngrams(norm, w)).alias("pos", "_wt"),
    ).select("doc_id", "pos", seeded_hash(F.col("_wt"), hasher).alias("whash"))
    key = F.col("doc_id") * (1 << 20) + F.col("pos")
    firsts = (
        wins.groupBy("whash")
        .agg(F.count("*").alias("_n"), F.min(key).alias("_first"))
        .filter(F.col("_n") > 1)
        .select("whash", "_first")
    )
    marked = (
        wins.join(firsts, "whash")
        .filter(key != F.col("_first"))
        .select("doc_id", "pos", (F.col("pos") + w).alias("end"))
    )
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        marked.withColumn("_pmax", F.max("end").over(prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("pos") > F.col("_pmax")), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(cum))
        .groupBy("doc_id", "_isl")
        .agg(F.min("pos").alias("_s"), F.max("end").alias("_e"))
    )
    # spans encode as one long (s·2²⁰+e): lambda-friendly in both engines
    spans = islands.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.col("_s") * (1 << 20) + F.col("_e"))
        ).alias("_spans")
    )
    out = base.join(spans, "doc_id", "left").withColumn(
        "_spans", F.coalesce("_spans", F.array().cast("array<long>"))
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda z: (i >= F.shiftright(z, 20))
        & (i < z.bitwiseAND(F.lit((1 << 20) - 1))),
    )
    kept = F.when(
        n > 0,
        F.filter(F.sequence(F.lit(0), n - 1), lambda i: ~covered(i)),
    ).otherwise(F.array().cast("array<int>"))
    return out.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("_t", i + 1)), " "
        ).alias("clean_text"),
    )


def logreg_weights(
    X, y, epochs: int = _LOGREG_EPOCHS, lr: float = 0.5, l2: float = 1e-3
):
    """Plain-numpy logistic regression on l1-normalized bucket counts —
    the deterministic training core shared by the Spark lane and the
    DuckDB oracle builder (the `_lloyd` pattern: same floats in, same
    floats out, wherever it runs). Returns (w, b)."""
    import numpy as np

    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(epochs):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g / n + l2 * w)
        b -= lr * float(g.mean())
    return w, b


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    seed: int = 42,
    hasher: str = "xxhash64",
):
    """fastText-style linear quality classifier (Joulin et al. 2016,
    arXiv:1607.01759 — the CCNet/LLaMA-pipeline quality-filter shape):
    bag of hashed word 1–2-grams → logistic regression. Returns
    ``(w_q, b_q)``: int64 bucket weights and bias, both quantized to
    ``round(·2²⁰)`` so :func:`classify_quality` scores with all-integer
    sums (order-free, engine-exact).

    The 100 TB shape (the IVF-centroid pattern): training reads a BOUNDED
    hash-rank sample per class (:func:`_sample_matrix`), featurized
    distributed with the scoring expressions. ``hasher="md5"`` makes
    sampling, bucketing and scoring DuckDB-replayable bit-for-bit."""
    import numpy as np

    from sparktax.simsearch import _quantize

    Xp, Xn = (
        _sample_matrix(df, text_col, id_col, buckets, hasher, seed)
        for df in (pos, neg)
    )
    X = np.concatenate([Xp, Xn])
    X /= np.maximum(X.sum(axis=1, keepdims=True), 1.0)  # l1; zero rows stay 0
    y = np.concatenate([np.ones(len(Xp)), np.zeros(len(Xn))])
    # standardize for conditioning (l1-normalized counts are ~1/doc_len —
    # far too small for a fixed lr), then FOLD the affine transform back
    # into the weights so scoring stays a plain integer dot product:
    # w·((x−μ)/σ) + b  ≡  (w/σ)·x + (b − Σ wμ/σ)
    mu, sd = X.mean(axis=0), X.std(axis=0) + 1e-9
    w, b = logreg_weights((X - mu) / sd, y)
    w_eff = w / sd
    b_eff = b - float((w * (mu / sd)).sum())
    return _quantize(w_eff), int(_quantize(b_eff))


def classify_quality(
    documents: DataFrame,
    w_q,
    b_q: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Score every document with a trained quality classifier. Returns
    ``(doc_id, n_grams, logit_q, keep)`` where ``logit_q = Σ w_q[bucket] +
    b_q·n_grams`` (the n-scaled quantized logit: same sign as the float
    logit, all-integer so any engine reproduces it exactly) and
    ``keep = logit_q > 0``.

    Scale shape: identical to :func:`importance_weights` — narrow explode,
    broadcast weight join, map-side partial sums, one row per doc through
    the exchange."""
    logit = F.coalesce(F.col("_s"), F.lit(0)) + F.lit(int(b_q)) * F.coalesce(
        "n_grams", F.lit(0)
    )
    return _score_buckets(documents, w_q, "wq", text_col, id_col, hasher).select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        logit.alias("logit_q"),
        (logit > 0).alias("keep"),
    )


def lm_bucket_logprobs(counts):
    """Quantized add-1-smoothed unigram-LM log-probs per hash bucket —
    the deterministic core shared by the Spark lane and the DuckDB oracle
    builder: logp_b = log((c_b+1)/(T+B)), quantized to ``round(·2²⁰)``
    int64 (negative) so per-doc totals are summation-order-free."""
    import numpy as np

    from sparktax.simsearch import _quantize

    c = np.asarray(counts, dtype=np.float64)
    logp = np.log(c + 1.0) - np.log(c.sum() + len(c))
    return _quantize(logp)


def perplexity_score(
    documents: DataFrame,
    model_corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    hasher: str = "xxhash64",
) -> DataFrame:
    """CCNet-style LM filtering signal (Wenzek et al. 2019,
    arXiv:1911.00359): per-document cross-entropy under a
    bag-of-hashed-ngram unigram model of ``model_corpus`` (the stand-in
    for CCNet's KenLM — same filtering contract, hash-bucket features
    instead of a 5-gram LM). Returns ``(doc_id, n_grams, total_nll)``
    where ``total_nll`` is the document's total negative log-likelihood
    in nats (exact: an integer sum of quantized bucket log-probs divided
    by the 2²⁰ constant); divide by ``n_grams`` and threshold for the
    classic head/middle/tail split.

    Scale shape = :func:`importance_weights`: one bounded bucket-count
    aggregate over the model corpus (exchange carries ≤ ``buckets``
    rows), a broadcast log-prob table, map-side partial integer sums."""
    lp = lm_bucket_logprobs(_bucket_counts(model_corpus, text_col, buckets, hasher))
    return _score_buckets(documents, lp, "lq", text_col, id_col, hasher).select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.round(
            -F.coalesce(F.col("_s"), F.lit(0)) / F.lit(float(1 << 20)), 6
        ).alias("total_nll"),
    )


def cluster_documents(
    documents: DataFrame,
    k: int = 16,
    buckets: int = 8192,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Unsupervised domain/topic clustering over hashed-tf vectors — the
    domain-discovery step cluster-based mixture reweighting builds on
    (DoReMi, Xie et al. 2023 arXiv:2305.10429, uses provenance domains;
    k-means over features is the standard stand-in when provenance is
    missing). Spherical k-means on l2-normalized hashed 1–2-gram term
    frequencies; returns ``(doc_id, cluster)``.

    The 100 TB shape (the IVF pattern transplanted to text): centroids
    train on a BOUNDED hash-rank sample featurized DISTRIBUTED
    (:func:`_sample_matrix`); assignment is a narrow
    explode → broadcast (bucket, cluster, w) join → per-doc argmax — raw
    integer counts dot quantized centroids, which equals the cosine
    argmax because each doc's norm is constant across clusters. In
    ``hasher="md5"`` mode sampling, bucketing and the all-integer
    assignment replay bit-for-bit in DuckDB."""
    import numpy as np

    from sparktax.simsearch import _lloyd, _quantize

    X = _sample_matrix(documents, text_col, id_col, buckets, hasher, seed)
    Cq = _quantize(_lloyd(X, k, _KMEANS_ITERS, seed))
    wrows = [
        (b, j, int(Cq[j, b]))
        for j in range(Cq.shape[0])
        for b in range(Cq.shape[1])
        if Cq[j, b] != 0
    ]
    wdf = documents.sparkSession.createDataFrame(
        wrows, "bucket long, cluster int, w long"
    )
    counts = (
        _bucketed_grams(documents, text_col, buckets, hasher, id_col)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    dots = (
        counts.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id", "cluster")
        .agg(F.sum(F.col("c") * F.col("w")).alias("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.desc("cluster"))
    assigned = (
        dots.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "cluster")
    )
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(assigned, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster", F.lit(-1)).alias("cluster")
        )
    )


def importance_select(
    raw: DataFrame,
    target: DataFrame,
    keep_frac: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    hasher: str = "xxhash64",
) -> DataFrame:
    """DSIR selection: keep the ``keep_frac`` of raw docs with the
    highest importance weights — EXACTLY and parallelism-independently.

    ``approxQuantile`` thresholds drift with partition count (its
    distributed sketch merges in partition order: the 2M-doc chain probe
    kept 1,609,509 docs at 8 cores vs 1,609,717 at 32). This instead
    aggregates doc counts onto the quantized integer score grid
    (``logratio_q = logratio·2²⁰``, already exact), takes the threshold
    from a cumulative window over that bounded table (≤ distinct scores
    rows — no driver collect), and keeps docs strictly above it plus
    enough tie-band docs (smallest ``doc_id`` first) to hit the exact
    count — a pure function of the input multiset at ANY parallelism.

    Returns the kept ``(doc_id, logratio)`` rows."""
    # localCheckpoint: the threshold logic below runs several actions
    # (count, grid agg, tie limit, final union) — without materializing,
    # each re-executes the WHOLE scoring plan over the corpus (measured
    # +48% on the 2M-doc chain; the pack_sequences 3-pass lesson). The
    # checkpointed table is one narrow row per doc.
    scored = importance_weights(
        raw, target, text_col=text_col, id_col=id_col,
        buckets=buckets, hasher=hasher,
    ).withColumn(
        "_q", F.round(F.col("logratio") * (1 << 20)).cast("long")
    ).localCheckpoint()
    n = scored.count()
    n_keep = int(n * keep_frac)
    if n_keep <= 0:
        return scored.filter(F.lit(False)).select("doc_id", "logratio")
    grid = scored.groupBy("_q").agg(F.count("*").alias("c"))
    wdesc = (
        Window.orderBy(F.desc("_q"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cum", F.sum("c").over(wdesc))
    thr_row = (
        cum.filter(F.col("cum") >= n_keep).orderBy(F.desc("_q")).first()
    )
    thr = thr_row["_q"]
    above = scored.filter(F.col("_q") > thr)
    n_above = above.count()
    ties = (
        scored.filter(F.col("_q") == thr)
        .orderBy(F.asc("doc_id"))
        .limit(n_keep - n_above)
    )
    return above.unionByName(ties).select("doc_id", "logratio")
