"""The token stream (``textops.tokens``, ``textops.word_ngrams``,
``minhash.char_grams``) and the operators built on it must stay
row-identical to the forms they replaced — split-then-filter token lists,
interpreted-HOF gram builders, SimHash's null-guarded split and the
trimmed sentence split — on adversarial inputs and on a slice of real
generated documents.

The old forms are kept INLINE here as executable specifications — if a
future edit changes token or gram values (e.g. drops the short-text
truncation case, the DOTALL flag or the empty-token rule), these fail
pointing at the exact divergence.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparktax.link.minhash import shingle
from sparktax.textops import _SENTENCE, normalized_text, simhash, tokens, word_shingles

TRICKY = [
    (1, "hello world"),
    (2, "a"),
    (3, "ab"),
    (4, ""),
    (5, "   "),
    (6, "line one\nline two\n"),
    (7, "tabs\tand\nnewlines\r\nmix"),
    (8, "aaaaaaa"),
    (9, None),
    (10, "one two three four five six"),
    (11, " leading and trailing "),
    (12, "\n\n\n"),
    (13, "punct, punct! -- dashes"),
    (14, "\n"),
    (15, " \t . \t"),
    (16, "... !!! ??"),
    (17, "Same. same! SAME?  same .x\r\ny. x\r\ny"),
    (18, "naïve café\u00a0— ünïcode  \x0b vt"),
]


DOCUMENTS = Path(__file__).resolve().parents[1] / "perfbench/data/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def tricky(spark):
    return spark.createDataFrame(TRICKY, "doc_id int, text string")


@pytest.fixture(scope="module")
def inputs(spark, tricky):
    """The adversarial rows plus a 200-doc slice of real documents."""
    docs = (
        spark.read.parquet(str(DOCUMENTS))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    return {"tricky": tricky, "documents": docs}


def _old_shingle(df, text_col, id_col, n):
    norm = F.lower(F.col(text_col))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), grams.alias("_grams"))
        .select("id", F.explode("_grams").alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def _old_word_shingles(df, n, text_col, id_col):
    toks = F.filter(F.split(normalized_text(F.col(text_col)), " "), lambda t: t != "")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), grams.alias("_g"))
        .select("id", F.explode("_g").alias("shingle"))
        .filter(
            (F.col("shingle") != "")
            & (F.size(F.split(F.col("shingle"), " ")) >= n)
        )
    )


@pytest.mark.parametrize("n", [2, 3, 5])
def test_char_shingle_matches_hof_reference(inputs, n):
    for name, df in inputs.items():
        got = sorted(map(tuple, shingle(df, "text", "doc_id", n=n).collect()))
        want = sorted(map(tuple, _old_shingle(df, "text", "doc_id", n).collect()))
        assert got, name
        assert got == want, name


@pytest.mark.parametrize("n", [1, 2, 4])
def test_word_shingles_match_hof_reference(inputs, n):
    for name, df in inputs.items():
        got = sorted(map(tuple, word_shingles(df, n, "text", "doc_id").collect()))
        want = sorted(map(tuple, _old_word_shingles(df, n, "text", "doc_id").collect()))
        assert got, name
        assert got == want, name


def _old_simhash(documents):
    txt = F.coalesce(F.col("text"), F.lit(""))
    md5h = F.when(F.col("tok") != "", F.md5(F.col("tok")))
    tok = documents.select(
        "doc_id", F.explode_outer(F.split(F.lower(txt), r"\s+")).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    votes = [
        F.sum(
            F.coalesce(
                F.shiftright(F.col("lo" if i < 32 else "hi"), i % 32).bitwiseAND(1),
                F.lit(0),
            )
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(F.count("lo").alias("n"), *votes)
    sim = F.when(F.col("v63") * 2 > F.col("n"), F.lit(-(2**63))).otherwise(F.lit(0))
    for i in range(63):
        sim = sim + F.when(F.col(f"v{i}") * 2 > F.col("n"), F.lit(1 << i)).otherwise(0)
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def test_token_stream_matches_split_filter_reference(inputs):
    # tokens() == the split-then-drop-empties forms it replaced: the
    # normalized split on " " (BPE, dedup_spans, language_id) and the raw
    # split on \s+ (chunk_documents); null text stays null
    for name, df in inputs.items():
        for raw in (F.col("text"), F.coalesce(F.col("text"), F.lit(""))):
            norm = normalized_text(raw)
            rows = df.select(
                tokens(norm).alias("got_norm"),
                F.filter(F.split(norm, " "), lambda t: t != "").alias("want_norm"),
                tokens(raw).alias("got_raw"),
                F.filter(F.split(raw, r"\s+"), lambda t: t != "").alias("want_raw"),
            ).collect()
            for r in rows:
                assert r["got_norm"] == r["want_norm"], (name, r)
                assert r["got_raw"] == r["want_raw"], (name, r)


def test_simhash_matches_split_guard_reference(inputs):
    for name, df in inputs.items():
        got = sorted(map(tuple, simhash(df).collect()))
        want = sorted(map(tuple, _old_simhash(df).collect()))
        assert got == want, name


def test_sentence_split_matches_trim_filter_reference(inputs):
    # repetition_signals' sentences: the trimmed, non-empty [.!?] pieces
    txt = F.lower(F.coalesce(F.col("text"), F.lit("")))
    for name, df in inputs.items():
        rows = df.select(
            F.regexp_extract_all(txt, F.lit(_SENTENCE), 0).alias("got"),
            F.filter(
                F.transform(F.split(txt, r"[.!?]"), lambda s: F.trim(s)),
                lambda s: s != "",
            ).alias("want"),
        ).collect()
        for r in rows:
            assert r["got"] == r["want"], (name, r)


def test_simhash_empty_and_whitespace_docs_survive(tricky):
    # explode_outer keeps one null-token row for a doc with no token: its
    # hash is NULL, count skips it, and the doc hashes to 0
    rows = {r["doc_id"]: r["simhash"] for r in simhash(tricky).collect()}
    assert set(rows) == {r[0] for r in TRICKY}
    for empty_id in (4, 5, 9, 12):
        assert rows[empty_id] == 0


def test_token_counts_match_filter_reference(tricky):
    # regexp_count(\S+) must equal size(filter(split(txt,\s+), !="")) and
    # the stopword alternation must equal per-token isin counting
    from sparktax.textops import LANG_MARKERS, quality_score, token_counts

    txt = F.coalesce(F.col("text"), F.lit(""))
    all_stop = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    toks = F.split(normalized_text(txt), " ")
    ref = tricky.select(
        "doc_id",
        F.size(F.filter(F.split(txt, r"\s+"), lambda t: t != "")).alias("ws_ref"),
        F.size(F.filter(toks, lambda t: t != "")).alias("nt_ref"),
        F.size(F.filter(toks, lambda t: t.isin(all_stop))).alias("stop_ref"),
    )
    got_tc = {r["doc_id"]: r["ws_tokens"] for r in token_counts(tricky).collect()}
    got_q = {
        r["doc_id"]: (r["n_tokens"], r["stopword_ratio"])
        for r in quality_score(tricky).collect()
    }
    for r in ref.collect():
        assert got_tc[r["doc_id"]] == r["ws_ref"], r
        nt, stop_ratio = got_q[r["doc_id"]]
        assert nt == r["nt_ref"], r
        want_ratio = round(r["stop_ref"] / r["nt_ref"], 6) if r["nt_ref"] else 0.0
        assert abs(stop_ratio - want_ratio) < 1e-9, (r, stop_ratio)


def test_stopword_regex_counts_adjacent_and_substring_tokens(spark):
    # adjacent stopwords all count; tokens merely containing a stopword
    # as a prefix/suffix/substring do not
    from sparktax.textops import quality_score

    df = spark.createDataFrame(
        [(1, "the the the"), (2, "theory lather brother"), (3, "la los lalande")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert rows[1]["stopword_ratio"] == 1.0
    assert rows[2]["stopword_ratio"] == 0.0
    # "la" and "los" are stopwords (fr/es); "lalande" is neither
    assert abs(rows[3]["stopword_ratio"] - round(2 / 3, 6)) < 1e-9

