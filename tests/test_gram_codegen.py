"""Round-6 optimization guards: the codegen regex gram builders must stay
row-identical to the original interpreted-HOF forms, on adversarial inputs
and on a slice of real generated documents.

The old forms are kept INLINE here as executable specifications — if a
future edit changes gram values (e.g. drops the short-text truncation case
or the DOTALL flag), these fail pointing at the exact divergence.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparktax.link.minhash import shingle
from sparktax.textops import normalized_text, simhash, word_shingles

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


def test_simhash_empty_and_whitespace_docs_survive(tricky):
    # the no-HOF tokenizer must keep one simhash-0 row for docs with no
    # real token (the "" rows carry NULL hashes; count skips them)
    rows = {r["doc_id"]: r["simhash"] for r in simhash(tricky).collect()}
    assert set(rows) == {r[0] for r in TRICKY}
    for empty_id in (4, 5, 9, 12):
        assert rows[empty_id] == 0


def test_token_counts_match_filter_reference(tricky):
    # regexp_count(\S+) must equal size(filter(split(txt,\s+), !="")) and
    # the stopword alternation must equal per-token isin counting
    from sparktax.textops import LANG_MARKERS, quality_score, token_counts, tokens_expr

    txt = F.coalesce(F.col("text"), F.lit(""))
    all_stop = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    toks = tokens_expr(txt)
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

