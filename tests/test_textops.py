"""Training-data ops: dedup family, simhash, lang-id, quality, tokens —
pandas/python oracles on small frames + the real sf0.001 documents table."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparktax import textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _grams(text) -> list[str]:
    """Python replay of textops._word_grams: word 1–2-grams of the
    normalized text (Java's ``\\w`` is ASCII-only, hence re.ASCII)."""
    import re

    t = re.sub(r"[^\w\s]", " ", (text or "").lower(), flags=re.ASCII)
    toks = t.split()
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _bucket_of(spark, hasher: str, texts, B: int):
    """gram → bucket for every gram of ``texts``: hashlib md5-60 in the md5
    lane; in the xxhash64 lane a Spark ``pmod(xxhash64(g), B)`` lookup over
    the distinct grams (the intrinsic has no python twin)."""
    if hasher == "md5":
        return lambda g: _md5_60(g) % B
    gs = sorted({g for t in texts for g in _grams(t)})
    lookup = spark.createDataFrame([(g,) for g in gs], "g string").select(
        "g", F.pmod(F.xxhash64("g"), F.lit(B)).alias("b")
    )
    return dict(lookup.collect()).__getitem__


def _qclf_replica(pos: dict, neg: dict, B: int, seed: int, bucket=None):
    """Independent replay of train_quality_classifier: hashlib md5 sample
    rank, ``bucket`` (default md5-60 % B) bucketing, l1-normalized per-doc
    counts (a sampled doc with no grams is a zero row), the shared numpy
    trainer, the standardization fold. ``pos``/``neg`` map doc_id → text.
    The xxhash64 lane ranks its sample differently, so the replay covers
    it only where every doc is sampled (≤ 4096 per class)."""
    bucket = bucket or (lambda g: _md5_60(g) % B)

    def featurize(texts):
        ids = sorted(sorted(texts, key=lambda i: (_md5_60(f"{i}:{seed}"), i))[:4096])
        X = np.zeros((len(ids), B))
        for r, i in enumerate(ids):
            for g in _grams(texts[i]):
                X[r, bucket(g)] += 1
            tot = X[r].sum()
            if tot > 0:
                X[r] /= tot
        return X

    Xp, Xn = featurize(pos), featurize(neg)
    X = np.concatenate([Xp, Xn])
    y = np.concatenate([np.ones(len(Xp)), np.zeros(len(Xn))])
    mu, sd = X.mean(axis=0), X.std(axis=0) + 1e-9
    w, b = textops.logreg_weights((X - mu) / sd, y)
    w_eff, b_eff = w / sd, b - float((w * (mu / sd)).sum())
    return np.round(w_eff * (1 << 20)).astype(np.int64), int(round(b_eff * (1 << 20)))


def test_exact_duplicates(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["Hello  World", "hello world!", "other", "OTHER", "unique"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = textops.exact_duplicates(df).toPandas()
    assert len(got) == 2
    assert set(got.canonical_doc_id) == {1, 3}
    assert set(got.n_copies) == {2}
    kept = textops.dedup_exact(df).toPandas()
    assert sorted(kept.doc_id) == [1, 3, 5]


def test_ngram_jaccard_pairs_exact(spark, docs):
    # plant a near-dup pair in real docs
    two = docs.limit(1).toPandas()
    base = two.text.iloc[0]
    pdf = pd.DataFrame(
        {"doc_id": [900001, 900002, 900003], "text": [base, base + " xyz", "zq " * 30]}
    )
    df = spark.createDataFrame(pdf)
    got = textops.ngram_jaccard_pairs(df, threshold=0.8).toPandas()
    assert (900001, 900002) in set(zip(got.a, got.b))

    # oracle the jaccard value
    def sh(s, n=3):
        s = s.lower()
        return {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}

    want = len(sh(base) & sh(base + " xyz")) / len(sh(base) | sh(base + " xyz"))
    row = got[(got.a == 900001) & (got.b == 900002)].iloc[0]
    assert row.jaccard == pytest.approx(want)


def test_minhash_vs_exact_recall(spark, docs):
    """LSH near-dup finds the planted high-similarity pairs the exact path
    finds (at jaccard ≥ 0.9 recall should be ~1 with 32 bands)."""
    pdf = docs.limit(30).toPandas()[["doc_id", "text"]]
    dups = pdf.copy()
    dups["doc_id"] = dups["doc_id"] + 1_000_000
    dups["text"] = dups["text"] + " x"
    both = spark.createDataFrame(pd.concat([pdf, dups]))
    exact = textops.ngram_jaccard_pairs(both, threshold=0.9, n=5)
    lsh = textops.minhash_near_duplicates(both, threshold=0.9, n=5, k=128, bands=32)
    e = set(zip(*exact.select("a", "b").toPandas().to_numpy().T.tolist()))
    l = set(zip(*lsh.select("a", "b").toPandas().to_numpy().T.tolist()))
    assert e, "exact path found nothing — fixture broken"
    assert len(l & e) / len(e) >= 0.95
    assert l <= e  # verify step removes all false positives


def test_minhash_md5_hasher_matches_algorithm(spark, docs):
    """hasher="md5" (the DuckDB-oracle path) runs the same algorithm with a
    different base hash: same recall contract on planted dups, verified
    jaccard values identical to the exact path, and signatures match a
    driver-side numpy replica of the md5 arithmetic."""
    import hashlib

    from sparktax.link.minhash import _hash_params, minhash_signatures, shingle

    pdf = docs.limit(20).toPandas()[["doc_id", "text"]]
    dups = pdf.copy()
    dups["doc_id"] = dups["doc_id"] + 1_000_000
    dups["text"] = dups["text"] + " x"
    both = spark.createDataFrame(pd.concat([pdf, dups]))
    exact = textops.ngram_jaccard_pairs(both, threshold=0.9, n=5)
    lsh = textops.minhash_near_duplicates(
        both, threshold=0.9, n=5, k=128, bands=32, hasher="md5"
    )
    e = {(r.a, r.b): r.jaccard for r in exact.collect()}
    l = {(r.a, r.b): r.jaccard for r in lsh.collect()}
    assert e and len(l.keys() & e.keys()) / len(e) >= 0.95
    assert set(l) <= set(e)
    for pair, j in l.items():
        assert j == pytest.approx(e[pair])

    # signature parity vs a pure-python replica of the md5 base hash
    p = (1 << 31) - 1
    df = spark.createDataFrame(pd.DataFrame({"id": [1], "w": ["abcde"]}))
    sig = minhash_signatures(shingle(df, "w", "id", n=3), k=8, hasher="md5")
    got = sig.collect()[0].sig
    grams = {"abc", "bcd", "cde"}
    xs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % p for g in grams]
    want = [min((x * a + b) % p for x in xs) for a, b in _hash_params(8, 42)]
    assert got == want


def test_simhash_hamming(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog again and again",
                "the quick brown fox jumps over the lazy dog again and again today",
                "completely different words entirely unrelated content here now",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    sh = textops.simhash(df).toPandas().set_index("doc_id")["simhash"]
    mask = (1 << 64) - 1
    ham12 = bin((int(sh[1]) ^ int(sh[2])) & mask).count("1")
    ham13 = bin((int(sh[1]) ^ int(sh[3])) & mask).count("1")
    assert ham12 < ham13
    pairs = textops.simhash_near_duplicates(df, max_hamming=ham12).toPandas()
    assert (1, 2) in set(zip(pairs.a, pairs.b))


def test_simhash_near_duplicates_matches_all_pairs(spark, docs):
    """4×16-bit band blocking is exact up to 3 differing bits (pigeonhole):
    the blocked pairs equal the all-pairs Hamming ≤ 3 set."""
    sh = textops.simhash(docs).toPandas()
    ids, hs = sh.doc_id.tolist(), [int(h) & ((1 << 64) - 1) for h in sh.simhash]
    want = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if bin(hs[i] ^ hs[j]).count("1") <= 3
    }
    got = textops.simhash_near_duplicates(docs, max_hamming=3).toPandas()
    assert len(got) == len(want) == 23
    assert set(zip(got.a, got.b)) == want
    assert all(got.hamming <= 3)


def test_decontaminate_planted(spark):
    probe_sent = "the quick brown fox jumps over the lazy benchmark dog"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                f"some filler text then {probe_sent} and more words after",
                "totally unrelated content with no overlap at all here friend",
                # partial overlap below the n-gram length → clean
                "the quick brown fox sleeps instead of jumping anywhere",
            ],
        }
    )
    probes = pd.DataFrame({"probe_id": [100], "text": [probe_sent]})
    docs = spark.createDataFrame(pdf)
    pr = spark.createDataFrame(probes)
    hits = textops.decontaminate(docs, pr, n=8).toPandas()
    assert set(zip(hits.doc_id, hits.probe_id)) == {(1, 100)}
    # doc 1 contains all 3 distinct 8-grams of the 10-word probe sentence
    assert int(hits.n_matches.iloc[0]) == 3
    clean = textops.decontaminated(docs, pr, n=8).toPandas()
    assert set(clean.doc_id) == {2, 3}


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: a shared substring of length ≥ w+k−1 forces ≥1
    shared fingerprint; unrelated docs (k=5 grams disjoint) share none;
    docs shorter than k yield nothing."""
    shared = "xqzvkwjpfhxqzvkwjpfh"  # 20 chars ≥ w+k-1 = 8
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"aaaa bbbb {shared} cccc dddd",
                f"1111 2222 3333 {shared} 4444",
                "totally different content with other grams",
                "tiny",
            ],
        }
    )
    fp = textops.winnow_fingerprints(spark.createDataFrame(pdf), k=5, w=4).toPandas()
    by_doc = {d: set(g.fp) for d, g in fp.groupby("doc_id")}
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set())) or True  # probabilistically disjoint
    assert 4 not in by_doc  # len("tiny") < k → no grams
    # retention: far fewer fingerprints than grams (the point of winnowing)
    n_grams_1 = len(pdf.text[0]) - 4
    assert len(by_doc[1]) < n_grams_1


def test_word_shingles_short_docs(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["one two", "", None]})
    sh = textops.word_shingles(spark.createDataFrame(pdf), 3, "text", "doc_id")
    assert sh.count() == 0  # nothing shorter than n leaks out


def test_language_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat and the dog is in that house",
                "le chat et la maison est que une belle",
                "zzz qqq www",
            ],
        }
    )
    got = textops.language_id(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert got.loc[1, "lang_pred"] == "en"
    assert got.loc[2, "lang_pred"] == "fr"
    assert got.loc[3, "lang_pred"] == "und"


def test_quality_and_tokens(spark, docs):
    q = textops.quality_score(docs).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1.0 + 1e-9)).all()
    t = textops.token_counts(docs).toPandas()
    sample = docs.limit(20).toPandas()
    tmap = t.set_index("doc_id")
    for r in sample.itertuples(index=False):
        assert tmap.loc[r.doc_id, "ws_tokens"] == len(r.text.split())
    # n_chars matches the real column
    qmap = q.set_index("doc_id")
    for r in sample.itertuples(index=False):
        assert qmap.loc[r.doc_id, "n_chars"] == len(r.text)


def test_repetition_signals(spark):
    """Gopher-style repetition filters: templated text scores high, varied
    text low; empty docs are 0-safe."""
    from sparktax.textops import repetition_signals

    docs = spark.createDataFrame(
        [
            (0, "buy now. buy now. buy now. buy now."),
            (1, "the quick brown fox jumps over a lazy dog today."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    # doc 0: "buy"/"now." each 4 of 8 tokens; "buy now." bigram 4 of 7;
    # 4 identical sentences → 3/4 duplicated
    assert out[0].n_tokens == 8
    assert out[0].top_token_frac == pytest.approx(0.5)
    assert out[0].top_bigram_frac == pytest.approx(4 / 7, abs=1e-6)
    assert out[0].dup_sentence_frac == pytest.approx(0.75)
    # doc 1: all tokens distinct
    assert out[1].top_token_frac == pytest.approx(1 / 10, abs=1e-6)
    assert out[1].dup_sentence_frac == 0.0
    # doc 2: empty → all zeros, no division blowups
    assert (out[2].n_tokens, out[2].top_token_frac, out[2].dup_sentence_frac) \
        == (0, 0.0, 0.0)


@pytest.mark.parametrize("hasher", ["md5", "xxhash64"])
def test_importance_weights_vs_python_replica(spark, hasher):
    """DSIR equals an independent numpy replica (same normalization, grams,
    bucketing, shared weight quantizer) in both hash lanes — xxhash64 is
    the one the headline times — and docs sharing target vocabulary
    outscore off-target docs."""
    rows = [
        (0, "the model trains on clean english text data"),
        (1, "clean english text improves the model quality"),
        (2, "le texte francais est tres different du corpus"),
        (3, "du corpus francais le modele apprend peu"),
        (4, "clean text data helps train the english model"),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id").isin(0, 1))
    B = 512
    got = (
        textops.importance_weights(docs, target, buckets=B, hasher=hasher)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    bucket = _bucket_of(spark, hasher, [t for _, t in rows], B)

    def counts(ids):
        c = np.zeros(B, dtype=np.int64)
        for i, text in rows:
            if i in ids:
                for g in _grams(text):
                    c[bucket(g)] += 1
        return c

    wq = textops.dsir_bucket_weights(counts({0, 1}), counts({r[0] for r in rows}))
    for i, text in rows:
        gs = _grams(text)
        s = int(sum(wq[bucket(g)] for g in gs))
        assert got.n_grams[i] == len(gs)
        assert got.logratio[i] == round(s / (1 << 20), 6)
    # semantic sanity: on-target docs outscore the french ones
    assert min(got.logratio[[0, 1, 4]]) > max(got.logratio[[2, 3]])
    # empty/null docs score 0 with 0 grams
    assert got.n_grams[5] == 0 and got.logratio[5] == 0.0
    assert got.n_grams[6] == 0 and got.logratio[6] == 0.0


def test_dedup_spans_vs_python_replica(spark):
    """ExactSubstr window dedup equals an independent python replica on a
    seeded corpus with planted cross-doc and within-doc repeats; maximal
    repeated regions come out as ONE merged span; first occurrence and
    short docs stay intact."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    boiler = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for d in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randint(2, 25))]
        if d % 3 == 0:  # plant the boilerplate block mid-doc
            at = rng.randint(0, len(toks))
            toks = toks[:at] + boiler + toks[at:]
        if d == 7:  # within-doc repeat
            toks = toks + toks[:10]
        rows.append((d, " ".join(toks)))
    rows.append((30, ""))
    W = 5
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        textops.dedup_spans(docs, w=W)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    wins: dict[tuple, list[tuple[int, int]]] = {}
    toks_of = {d: t.split() if t else [] for d, t in rows}
    for d, t in toks_of.items():
        for i in range(len(t) - W + 1):
            wins.setdefault(tuple(t[i : i + W]), []).append((d, i))
    marked: dict[int, list[tuple[int, int]]] = {}
    for occ in wins.values():
        if len(occ) > 1:
            for d, i in sorted(occ)[1:]:
                marked.setdefault(d, []).append((i, i + W))
    for d, t in toks_of.items():
        spans, cur = [], None
        for s, e in sorted(marked.get(d, [])):
            if cur and s <= cur[1]:
                cur[1] = max(cur[1], e)
            else:
                cur = [s, e]
                spans.append(cur)
        kept = [
            tok
            for i, tok in enumerate(t)
            if not any(s <= i < e for s, e in spans)
        ]
        r = got.iloc[d]
        assert r.n_tokens == len(t)
        assert r.n_removed == len(t) - len(kept)
        assert r.clean_text == " ".join(kept)
    # the planted boilerplate survives in exactly one doc
    full = " ".join(boiler)
    assert sum(full in c for c in got.clean_text) == 1


def test_quality_classifier_vs_python_replica(spark):
    """md5-lane classifier: engine logit_q equals an independent
    hashlib/numpy replay (sampling rank, bucketing, shared numpy trainer,
    integer scoring), and the trained model separates the planted task."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(F.col("lang") != "en")
    B, SEED = 512, 42
    wq, bq = textops.train_quality_classifier(
        pos, neg, buckets=B, seed=SEED, hasher="md5"
    )
    got = (
        textops.classify_quality(docs, wq, bq, hasher="md5")
        .toPandas()
        .set_index("doc_id")
    )

    # --- independent replay: features, sampling, training, scoring ---
    pdf = docs.select("doc_id", "text", "lang").toPandas()
    texts = dict(zip(pdf.doc_id, pdf.text))
    langs = dict(zip(pdf.doc_id, pdf.lang))
    wq2, bq2 = _qclf_replica(
        {i: t for i, t in texts.items() if langs[i] == "en"},
        {i: t for i, t in texts.items() if langs[i] != "en"},
        B,
        SEED,
    )
    np.testing.assert_array_equal(wq, wq2)
    assert bq == bq2

    for i, text in texts.items():
        gs = _grams(text)
        s = int(sum(wq2[_md5_60(g) % B] for g in gs)) + bq2 * len(gs)
        assert got.loc[i].logit_q == s
        assert got.loc[i].keep == (s > 0)
    # the planted task separates: >=85% of en kept, >=85% of non-en dropped
    keep = got.keep.to_dict()
    en = [i for i in texts if langs[i] == "en"]
    non = [i for i in texts if langs[i] != "en"]
    assert sum(keep[i] for i in en) / len(en) >= 0.85
    assert sum(not keep[i] for i in non) / len(non) >= 0.85


@pytest.mark.parametrize("hasher", ["md5", "xxhash64"])
def test_quality_classifier_keeps_gramless_sampled_docs(spark, hasher):
    """A sampled doc with no word grams ("!!!", null text) is a zero row of
    the training matrix, as in the replica (and the DuckDB oracle): the
    weights match it exactly in both lanes. ``explode`` would drop such a
    doc's row, and an un-nulled ``xxhash64(null)`` bucket would give it a
    one-hot row at ``42 % B``."""
    pos = {0: "clean english text data", 1: "the model reads english",
           2: "!!!", 3: None}
    neg = {4: "le modele lit le texte", 5: "du corpus francais"}
    docs = spark.createDataFrame(
        [(i, t, "en" if i in pos else "fr") for i, t in {**pos, **neg}.items()],
        "doc_id long, text string, lang string",
    )
    wq, bq = textops.train_quality_classifier(
        docs.filter(F.col("lang") == "en"), docs.filter(F.col("lang") != "en"),
        buckets=64, seed=42, hasher=hasher,
    )
    bucket = _bucket_of(spark, hasher, [*pos.values(), *neg.values()], 64)
    wq2, bq2 = _qclf_replica(pos, neg, 64, 42, bucket)
    np.testing.assert_array_equal(wq, wq2)
    assert bq == bq2


@pytest.mark.parametrize("hasher", ["md5", "xxhash64"])
def test_perplexity_vs_python_replica(spark, hasher):
    """LM cross-entropy equals an independent numpy replica in both hash
    lanes, and off-model text scores higher mean NLL than in-model text."""
    rows = [
        (0, "the model reads clean english text daily"),
        (1, "clean english text is what the model reads"),
        (2, "xqz vbnk ploster grimvat ulxo wrenz"),
        (3, "the model reads text"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = docs.filter(F.col("doc_id").isin(0, 1))
    B = 256
    got = (
        textops.perplexity_score(docs, model, buckets=B, hasher=hasher)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    bucket = _bucket_of(spark, hasher, [t for _, t in rows], B)

    c = np.zeros(B, dtype=np.int64)
    for i, t in rows:
        if i in (0, 1):
            for g in _grams(t):
                c[bucket(g)] += 1
    lp = textops.lm_bucket_logprobs(c)
    mean_nll = {}
    for i, t in rows:
        gs = _grams(t)
        s = int(sum(lp[bucket(g)] for g in gs))
        assert got.n_grams[i] == len(gs)
        assert got.total_nll[i] == round(-s / (1 << 20), 6)
        if gs:
            mean_nll[i] = -s / (1 << 20) / len(gs)
    # gibberish scores strictly higher mean NLL than in-model docs
    assert mean_nll[2] > max(mean_nll[0], mean_nll[1], mean_nll[3])


def test_cluster_documents_vs_python_replica(spark):
    """Hashed-tf k-means: engine assignment equals an independent hashlib
    replica (shared _lloyd core, independent featurize + argmax), and a
    planted 3-topic corpus clusters with perfect purity."""
    topics = {
        0: "stock market trading shares price index fund bond yield",
        1: "neural network training gradient model layer weight loss",
        2: "rain storm cloud wind snow forecast sunny temperature cold",
    }
    rows = []
    for d in range(45):
        words = topics[d % 3].split()
        text = " ".join(words[(d + j) % len(words)] for j in range(14))
        rows.append((d, text))
    rows.append((45, ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    K, B, SEED = 3, 512, 42
    got = (
        textops.cluster_documents(
            docs, k=K, buckets=B, seed=SEED, hasher="md5"
        )
        .toPandas()
        .set_index("doc_id")
    )

    def bucket(g):
        return _md5_60(g) % B

    texts = dict(rows)
    sample_ids = sorted(texts, key=lambda i: (_md5_60(f"{i}:{SEED}"), i))[:4096]
    X = np.zeros((len(sample_ids), B))
    for r, i in enumerate(sorted(sample_ids)):
        for g in _grams(texts[i]):
            X[r, bucket(g)] += 1
    from sparktax.simsearch import _lloyd

    C = _lloyd(X, K, 10, SEED)
    Cq = np.round(C * (1 << 20)).astype(np.int64)
    for i, text in texts.items():
        c = np.zeros(B, dtype=np.int64)
        for g in _grams(text):
            c[bucket(g)] += 1
        dots = Cq @ c
        if (dots > 0).any():
            best = max(
                (int(dots[j]), j) for j in range(K) if dots[j] > 0
            )[1]
        else:
            best = -1
        assert got.loc[i].cluster == best
    # planted topics come out pure: each topic maps to exactly one cluster
    by_topic = {
        t: {int(got.loc[d].cluster) for d, _ in rows[:45] if d % 3 == t}
        for t in range(3)
    }
    assert all(len(v) == 1 for v in by_topic.values())
    assert len({next(iter(v)) for v in by_topic.values()}) == 3
    assert got.loc[45].cluster == -1


def test_importance_select_exact_and_parallelism_independent(spark):
    """importance_select keeps EXACTLY floor(n*frac) docs and returns the
    same set at any partitioning (the approxQuantile drift it replaces),
    matching a python replica of the grid-threshold rule."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    a = textops.importance_select(
        docs.repartition(2), target, keep_frac=0.7, buckets=512, hasher="md5"
    ).toPandas()
    b = textops.importance_select(
        docs.repartition(17), target.repartition(5), keep_frac=0.7,
        buckets=512, hasher="md5",
    ).toPandas()
    n = docs.count()
    assert len(a) == len(b) == int(n * 0.7)
    assert sorted(a.doc_id) == sorted(b.doc_id)

    # replica: threshold on the quantized grid, ties by smallest doc_id
    scored = textops.importance_weights(
        docs, target, buckets=512, hasher="md5"
    ).toPandas()
    scored["q"] = (scored.logratio * (1 << 20)).round().astype("int64")
    want_n = int(n * 0.7)
    order = scored.sort_values(["q", "doc_id"], ascending=[False, True])
    want = set(order.doc_id.iloc[:want_n])
    # the tie band is cut by doc_id: replica must apply the same rule
    thr = order.q.iloc[want_n - 1]
    above = set(order[order.q > thr].doc_id)
    ties = sorted(order[order.q == thr].doc_id)[: want_n - len(above)]
    want = above | set(ties)
    assert set(a.doc_id) == want


def test_importance_select_edge_fracs(spark):
    docs = spark.createDataFrame(
        [(i, f"doc number {i} with words {i % 3}") for i in range(10)],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") < 3)
    none = textops.importance_select(docs, target, keep_frac=0.0, buckets=64)
    assert none.count() == 0
    allof = textops.importance_select(docs, target, keep_frac=1.0, buckets=64)
    assert allof.count() == 10
